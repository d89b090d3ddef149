#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is FROZEN; this file
holds the extra instrumentation the optimization round needs).

Usage:
  python bench_extra.py time q1 q2 ...      # per-query noop-sink timing (N reps)
  python bench_extra.py time --all          # every declared query
  python bench_extra.py plan q1 q2 ...      # write .explain("formatted") to plans/r06/<q>_<tag>.txt
  python bench_extra.py jobs q1             # count Spark jobs/stages triggered by one run

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py),
     BENCH_EXTRA_REPS (default 3), BENCH_EXTRA_TAG (plan filename suffix,
     default "before").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from activity_files_spark.session import usable_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", usable_cpus()))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
TAG = os.environ.get("BENCH_EXTRA_TAG", "before")
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def _spark():
    from activity_files_spark.session import get_spark

    return get_spark("bench_extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS * 2)


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    mode = sys.argv[1]
    names = [a for a in sys.argv[2:] if not a.startswith("--")]
    import __spark_entry__ as E

    qs = E.queries()
    if "--all" in sys.argv:
        names = list(qs)
    spark = _spark()
    # warm JVM + python worker pool once, outside any timing
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()

    if mode == "plan":
        os.makedirs(PLAN_DIR, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(PLAN_DIR, f"{name}_{TAG}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"wrote {path}")
        return

    if mode == "jobs":
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        for name in names:
            before = tracker.getJobIdsForGroup(None)
            sc.setJobGroup(f"jobs:{name}", name)
            _noop(qs[name](spark, SF_DIR))
            jobs = tracker.getJobIdsForGroup(f"jobs:{name}")
            sc.setJobGroup(None, None)
            print(json.dumps({"query": name, "n_jobs": len(jobs)}))
        return

    # mode == "time": per-query noop timing, REPS runs, report all + min
    out = {}
    for name in names:
        samples = []
        for i in range(REPS):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.monotonic()
            _noop(qs[name](spark, SF_DIR))
            samples.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    total = round(sum(v["min"] for v in out.values()), 2)
    print(json.dumps({"total_min": total, "n": len(out)}))


if __name__ == "__main__":
    main()
