"""Output checks: order-insensitive digests of result rows, computed the
same way for Spark rows and for DuckDB oracle rows, so equal results give
equal digests (floats compare bit for bit, as the engine's oracle contract
promises)."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import duckdb


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and math.isnan(v):
            return "~"
        # 3 == 3.0 == Decimal(3) across engines; big ints stay exact
        if not isinstance(v, int) and v == int(v) and abs(v) < 2**53:
            v = int(v)
        return f"n{v!r}" if isinstance(v, int) else f"n{float(v)!r}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return "t" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return "s" + str(v)


def digest(columns: list[str], rows) -> str:
    """sha256 over the rows with columns in name order and rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return f"{len(lines)}:{h.hexdigest()}"


def spark_digest(rows, columns: list[str]) -> str:
    return digest(columns, [tuple(r) for r in rows])


def oracle_digests(sf_dir: str, tables: list[str], sqls: dict[str, str],
                   workers: int) -> dict[str, str]:
    """Digest of each oracle query's DuckDB result. Each query runs on its
    own single-threaded connection (so float aggregates keep one summation
    order); ``workers`` queries run at a time."""
    from concurrent.futures import ThreadPoolExecutor

    def one(sql: str) -> str:
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for t in tables:
                path = os.path.join(sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            rel = con.sql(sql)
            return digest(rel.columns, rel.fetchall())
        finally:
            con.close()

    # slowest first, so the pool drains evenly
    names = sorted(sqls, key=lambda q: -len(sqls[q]))
    with ThreadPoolExecutor(workers) as pool:
        futures = {q: pool.submit(one, sqls[q]) for q in names}
        return {q: f.result() for q, f in futures.items()}


def corrupt(d: str) -> str:
    """A digest that cannot match any real output (for the self-test)."""
    return d + ":corrupted"
