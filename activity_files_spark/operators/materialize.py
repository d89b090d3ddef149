"""The one place that materializes an intermediate frame several consumers
read, so its subtree runs once instead of once per consumer.

- ``eager=True`` runs a blocking ``localCheckpoint`` job now: for a frame
  a driver loop reads every round, or that several later jobs read.
- ``eager=False`` adds no checkpoint job: the first job that reads the
  frame fills the checkpoint as it goes (under AQE, planning the frame
  still runs the shuffle stages below it).
- Several eager frames are independent jobs, so each runs from its own
  thread (with the caller's job group and local properties) and the
  scheduler back-fills one job's straggler tail with the others' tasks.

Trade-offs, with no opt-out: checkpoint blocks live on the executors
without lineage, so losing an executor fails the query instead of
recomputing it. They are not pinned in the CacheManager the way
``.cache()`` entries are: nothing unpersists them, and they hold executor
storage until the frame is garbage-collected and the context cleaner
drops them. Under AQE (the session default) a checkpoint also drops its
partitioning: its ``LogicalRDD`` reports ``UnknownPartitioning(0)``, so two
checkpoints hash-partitioned on one key still get an Exchange on both sides
when joined on it. A co-partitioned join or iteration cannot rely on a
checkpointed frame's layout.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.util import inheritable_thread_target


def materialize(*dfs: DataFrame, eager: bool):
    """``localCheckpoint`` each frame; one frame in returns one frame,
    several return a tuple in input order."""
    if eager and len(dfs) > 1:
        # pinned threads (pyspark's default) get a wrapper; with
        # PYSPARK_PIN_THREAD=false pyspark returns the session itself, and
        # the plain method is the target
        session = dfs[0].sparkSession
        wrap = inheritable_thread_target(session)
        fns = [df.localCheckpoint if wrap is session else wrap(df.localCheckpoint) for df in dfs]
        with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
            futures = [pool.submit(fn, True) for fn in fns]
            out = tuple(f.result() for f in futures)
    else:
        out = tuple(df.localCheckpoint(eager=eager) for df in dfs)
    return out[0] if len(out) == 1 else out
