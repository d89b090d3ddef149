"""operators/materialize.py: the one materialization helper, and a source
lint that keeps every checkpoint, cache and thread pool of the engine in it."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from activity_files_spark.operators import materialize as M
from activity_files_spark.operators.materialize import materialize

REPO = pathlib.Path(__file__).resolve().parent.parent
HELPER = REPO / "activity_files_spark" / "operators" / "materialize.py"
POLICY = re.compile(r"localCheckpoint\(|\.cache\(\)|\.persist\(|\.unpersist\(|ThreadPoolExecutor")


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _jobs_in(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (its result, the group's
    job infos as they stand when ``fn`` returns)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    return out, [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]


def _narrow(spark, n: int, mul: int):
    # no exchange: a lazy checkpoint of it plans without running a stage
    return spark.range(n).withColumn("y", F.col("id") * mul)


def test_lazy_runs_no_job_and_keeps_rows(spark):
    df = _narrow(spark, 50, 3)
    out, jobs = _jobs_in(spark, "materialize-lazy", lambda: materialize(df, eager=False))
    assert jobs == []
    assert sorted(out.collect()) == sorted(df.collect())


def test_eager_single_frame_runs_its_job_before_returning(spark):
    df = _narrow(spark, 40, 5)
    out, jobs = _jobs_in(spark, "materialize-eager1", lambda: materialize(df, eager=True))
    assert len(jobs) == 1
    assert all(j.status == "SUCCEEDED" for j in jobs)
    assert sorted(out.collect()) == sorted(df.collect())


def test_eager_frames_keep_input_order_and_caller_job_group(spark):
    a = _narrow(spark, 30, 2)
    b = _narrow(spark, 12, 9).withColumnRenamed("y", "z")
    (ca, cb), jobs = _jobs_in(spark, "materialize-eager2", lambda: materialize(a, b, eager=True))
    # one job per narrow frame: both pool checkpoints ran under the caller's
    # group and were done on return
    assert len(jobs) == 2
    assert all(j.status == "SUCCEEDED" for j in jobs)
    assert ca.columns == ["id", "y"] and cb.columns == ["id", "z"]
    assert sorted(ca.collect()) == sorted(a.collect())
    assert sorted(cb.collect()) == sorted(b.collect())


def test_eager_frames_without_pinned_threads(spark, monkeypatch):
    # with PYSPARK_PIN_THREAD=false, inheritable_thread_target returns its
    # argument unchanged: here, the session
    monkeypatch.setattr(M, "inheritable_thread_target", lambda f: f)
    a, b = _narrow(spark, 8, 2), _narrow(spark, 6, 3)
    ca, cb = materialize(a, b, eager=True)
    assert sorted(ca.collect()) == sorted(a.collect())
    assert sorted(cb.collect()) == sorted(b.collect())


def test_eager_is_required_keyword(spark):
    with pytest.raises(TypeError):
        materialize(_narrow(spark, 3, 1))


def test_no_call_leaves_cache_entries(spark):
    spark.catalog.clearCache()
    lazy = materialize(_narrow(spark, 20, 7), eager=False)
    one = materialize(_narrow(spark, 20, 11), eager=True)
    two = materialize(_narrow(spark, 20, 13), _narrow(spark, 20, 17), eager=True)
    for df in (lazy, one, *two):
        df.collect()
    assert _cache_empty(spark)


def test_materialization_policy_lives_in_one_module():
    sources = sorted((REPO / "activity_files_spark").rglob("*.py"))
    sources.append(REPO / "__spark_entry__.py")
    offenders = [
        f"{path.relative_to(REPO)}:{n}: {line.strip()}"
        for path in sources if path != HELPER
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if POLICY.search(line)
    ]
    assert offenders == []
    assert POLICY.search(HELPER.read_text())


def _copartitioned_join_exchanges(spark, aqe: str) -> tuple[int, str]:
    """Checkpoint two frames hash-partitioned on ``k`` and hash-join them on
    ``k`` with ``spark.sql.adaptive.enabled`` set to ``aqe``: (Exchanges in
    the join's plan, partitioning the first checkpoint reports)."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        a = spark.range(100).select((F.col("id") % 10).alias("k"), F.col("id").alias("a"))
        b = spark.range(50).select((F.col("id") % 10).alias("k"), F.col("id").alias("b"))
        ca, cb = materialize(a.repartition(8, "k"), b.repartition(8, "k"), eager=True)
        j = ca.join(cb.hint("shuffle_hash"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert j.count() == 500
        part = ca._jdf.queryExecution().executedPlan().outputPartitioning().toString()
        return plan.count("Exchange"), part
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_checkpoint_under_aqe_drops_partitioning(spark):
    """Today's behaviour, not a wish: under AQE a checkpoint's LogicalRDD
    reports UnknownPartitioning(0), so a join of two checkpoints that were
    both hash-partitioned on the key still shuffles both sides; without AQE
    it keeps the partitioning and the join needs no Exchange. If a Spark
    upgrade makes this test fail, that is good news: co-partitioned rounds
    over checkpoints become possible, and the trade-off note in
    operators/materialize.py's docstring should be removed with this test."""
    n_aqe, part_aqe = _copartitioned_join_exchanges(spark, "true")
    assert n_aqe == 2
    assert part_aqe == "UnknownPartitioning(0)"
    n_plain, part_plain = _copartitioned_join_exchanges(spark, "false")
    assert n_plain == 0
    assert part_plain.startswith("hashpartitioning(k")
