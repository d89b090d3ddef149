"""Whole-partition twin of ``groupBy(key).applyInPandas`` (r06).

``groupBy().applyInPandas`` pays a fixed pandas/Arrow round-trip per GROUP
(~ms each) and inherits AQE's byte-based partition coalescing, which on
many-small-group data collapses to one or two serial partitions — measured
4.8s for a 20k-row / 1500-group stay-point kernel whose math is
microseconds. This helper keeps the identical per-group kernel semantics
but moves the group loop INSIDE one mapInPandas pass per partition:

- ``repartition(nparts, key)`` guarantees each key lands wholly in one
  partition (the same contract the groupBy shuffle gave) and pins an
  explicit width so the compute-heavy kernel stage cannot be coalesced
  down to a serial partition; ``nparts`` is the session's configured
  shuffle width — the per-deployment scale knob, not a local constant.
- the partition's Arrow batches are concatenated (a key split across
  batches is re-joined), pandas ``groupby`` re-forms the groups, and ONE
  output frame per partition crosses back over the Arrow boundary.

Kernels keep sorting their own group internally (they already did under
applyInPandas, whose input order is likewise unspecified), so no
partition-level sort is needed.

``then`` chains consumer kernels behind the group kernel in the same
``mapInPandas`` (operators/kernels.py::map_kernels), so an encoder and the
decoder that reads its documents back share one Python worker per task.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from activity_files_spark.operators.kernels import Kernel, map_kernels


def grouped_apply(
    df: DataFrame,
    key: str | list[str],
    kernel: Callable,
    schema: str,
    then: Sequence[Kernel] = (),
) -> DataFrame:
    """Drop-in replacement for ``df.groupBy(key).applyInPandas(lambda _k,
    pdf: kernel(pdf), schema)`` — same per-group frames in, same rows out,
    one Python/Arrow round-trip per partition instead of per group.
    ``then``: kernels that consume those rows in the same node."""
    keys = [key] if isinstance(key, str) else list(key)
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def part(batches):
        import pandas as pd

        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if len(pdf) == 0:
            return
        outs = []
        # dropna=False: Spark's groupBy keeps a null-key group; pandas
        # would silently drop those rows without it
        for _, g in pdf.groupby(keys, sort=False, dropna=False):
            out = kernel(g)
            if out is not None and len(out):
                outs.append(out)
        if outs:
            yield pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]

    return map_kernels(df.repartition(nparts, *keys), Kernel(part, schema), *then)
