"""Replicates the driver's correctness gate locally: every queries() entry
runs on Spark at sf0.001 and must match its oracle_sql() under DuckDB —
same row count, same column set, exactly equal values (floats bit-equal,
which the engine guarantees by using identical IEEE op sequences)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float) and math.isnan(v):
                v = None
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        # driver records a rows-only check for non-SQL-expressible ops
        rows = q(spark, SF).collect()
        assert len(rows) > 0, f"{name}: rows-only check got 0 rows"
        return
    sdf = q(spark, SF)
    s_cols = sdf.columns
    s_rows = [r.asDict() for r in sdf.collect()]
    rel = duck.sql(sql)
    d_cols = rel.columns
    d_rows = [dict(zip(d_cols, t)) for t in rel.fetchall()]

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"

    s_n = normalize(s_rows, s_cols)
    d_n = normalize(d_rows, d_cols)
    mismatches = [(a, b) for a, b in zip(s_n, d_n) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_every_oracle_pairs_with_a_query():
    # a mistyped or dropped oracle key would silently turn its query into a
    # rows-only check; only the pixel-decode summary is meant to be one
    names = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    assert oracles <= names, sorted(oracles - names)
    assert names - oracles == {"validate_images_summary"}


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"geofence_id", "cell", "n_points"}
