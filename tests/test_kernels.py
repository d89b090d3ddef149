"""operators/kernels.py: a chain run by ``map_kernels`` in one mapInPandas
must equal the same kernels run as chained mapInPandas nodes, rows and
schema, batch boundaries included."""

import pandas as pd
import pytest

from activity_files_spark.operators.kernels import Kernel, map_kernels

UP_SCHEMA = "id long, j int, tag string, k int"
DOWN_SCHEMA = (
    "id long, j int, tag string, k int, k_dtype string, batch int, batch_rows int"
)


def _kernels():
    """(explode, odd_only, per_batch) kernels. Defined in a function so
    that they pickle by value: workers cannot import this test module."""

    def explode(batches):
        # id % 3 rows per input id: a batch of multiples of 3 yields a frame
        # with no rows AND no columns, like a generator over an empty list
        for pdf in batches:
            yield pd.DataFrame([
                {"id": int(i), "j": j, "tag": None if j == 1 else f"t{i}",
                 "k": None if j == 0 else int(i) * j}
                for i in pdf["id"] for j in range(int(i) % 3)
            ])

    def odd_only(batches):
        for pdf in batches:
            yield pdf[pdf["id"] % 2 == 1]

    def per_batch(batches):
        # one output row per input row, stamped with the batch it arrived
        # in, so a different cut of the batches (or an empty batch) shows
        for b, pdf in enumerate(batches):
            yield pd.DataFrame({
                "id": pdf["id"], "j": pdf["j"], "tag": pdf["tag"],
                "k": pdf["k"], "k_dtype": str(pdf["k"].dtype), "batch": b,
                "batch_rows": len(pdf),
            })

    return (
        Kernel(explode, UP_SCHEMA),
        Kernel(odd_only, UP_SCHEMA),
        Kernel(per_batch, DOWN_SCHEMA),
    )


def _both(spark, n, parts, *kernels):
    src = spark.range(0, n, 1, parts)
    chained = src
    for k in kernels:
        chained = chained.mapInPandas(k.fn, k.schema)
    fused = map_kernels(src, *kernels)
    return chained, fused


@pytest.mark.parametrize("batch_rows", ["10000", "1", "3"])
def test_fused_chain_equals_chained_nodes(spark, batch_rows):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, batch_rows)
    try:
        # 10 ids over 12 partitions: some partitions are empty, and the
        # batch of [0] (or [3], [6], [9]) makes the column-less frame
        up, odd, down = _kernels()
        for kernels in ((up, down), (up, odd, down)):
            chained, fused = _both(spark, 10, 12, *kernels)
            assert fused.schema == chained.schema
            assert sorted(fused.collect()) == sorted(chained.collect())
            # the same cut with whole partitions of several input batches
            chained, fused = _both(spark, 40, 3, *kernels)
            assert sorted(fused.collect()) == sorted(chained.collect())
    finally:
        spark.conf.set(key, old)


def test_fused_chain_is_one_python_node(spark):
    up, _, down = _kernels()
    chained, fused = _both(spark, 10, 2, up, down)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    rows = fused.collect()
    # the null passthrough arrives as Arrow hands it: a nullable int column
    # reads back as float64 with NaN, a null string as None
    assert {r["k_dtype"] for r in rows} == {"float64"}
    assert any(r["tag"] is None for r in rows)
    assert any(r["k"] is None for r in rows)


def test_one_kernel_is_a_plain_map_in_pandas(spark):
    src = spark.range(4)
    k = _kernels()[0]
    plain = src.mapInPandas(k.fn, k.schema)
    fused = map_kernels(src, k)
    assert fused.schema == plain.schema
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas explode(" in plan, plan


@pytest.mark.parametrize("bad, error", [
    ("names", "RESULT_COLUMN_NAMES_MISMATCH"),
    ("lossy", "unsafe conversions"),  # Spark's safe Arrow cast, on by default
])
def test_bad_intermediate_output_fails_like_a_node(spark, bad, error):
    def wrong(batches):
        for pdf in batches:
            if bad == "names":
                yield pd.DataFrame({"nope": pdf["id"]})
            else:
                yield pd.DataFrame({"id": pdf["id"], "j": pdf["id"] + 0.5,
                                    "tag": "x", "k": 1})

    down = _kernels()[2]
    for df in _both(spark, 3, 1, Kernel(wrong, UP_SCHEMA), down):
        with pytest.raises(Exception, match=error):
            df.collect()
