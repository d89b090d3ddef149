"""Similarity search over embedding columns (array<double>).

- :func:`cosine_topk` — brute-force exact top-k (native aggregate/zip_with
  dot products; broadcast query side). The correctness baseline.
- :func:`lsh_topk` — random-hyperplane LSH bucketing: deterministic
  signed-projection signature (hyperplanes derived from md5 of (dim, plane)
  — no RNG), bucket equi-join, exact cosine within bucket + multiprobe on
  Hamming-1 neighbors. The scale path: at 10^12 rows the bucket join
  replaces the cross join; recall < 1 is the documented tradeoff.
- :func:`ivf_topk` — the same candidate-then-rank shape over coarse
  centroid inverted lists.

The approximate paths (and the banded MinHash / Hamming miners of
``dedup.py``) share three private helpers: :func:`_project` (the exact
integer projection kernel behind the LSH signatures and IVF assignments),
:func:`_bucket_pairs` (bucket equi-join, then dedup on bare ids, then
re-attach) and :func:`_topk` (exact cosine, then the one top-k rule).

Vectors stay array<double> columns — dot products run as F.aggregate folds
inside codegen; no Python in the row path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from activity_files_spark.operators.materialize import materialize


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _cosine(a, b):
    """Exact cosine of two array<double> columns: left-to-right folds, the
    order of the oracles' ``list_dot_product``."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double_vec(col):
    return F.transform(col, lambda x: x.cast("double"))


def _sides(queries, items, q_id, i_id, vec):
    """The query and item sides of a top-k search as ``(_qid, _qv)`` and
    ``(_iid, _iv)`` — internal names, so a self-join of one table has no
    ambiguous references. The result holds both id columns, so their names
    must differ."""
    if q_id == i_id:
        raise ValueError(
            f"q_id and i_id are both {q_id!r}; the result needs two distinct "
            f"id column names (alias one side, and pass exclude_same_id=True "
            f"to drop self-matches)"
        )
    q = queries.select(F.col(q_id).alias("_qid"), F.col(vec).alias("_qv"))
    it = items.select(F.col(i_id).alias("_iid"), F.col(vec).alias("_iv"))
    return q, it


def _rank(scored: DataFrame, k: int, q_id: str, i_id: str) -> DataFrame:
    """The one top-k rule: per query, ``cos`` descending, ties to the lower
    item id; keep ``rank <= k``."""
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(i_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, i_id, "cos", "rank")
    )


def _topk(cand: DataFrame, k: int, q_id: str, i_id: str) -> DataFrame:
    """Exact cosine of candidate ``(_qid, _qv, _iid, _iv)`` rows, ranked."""
    return _rank(cand.select(
        F.col("_qid").alias(q_id), F.col("_iid").alias(i_id),
        _cosine(F.col("_qv"), F.col("_iv")).alias("cos"),
    ), k, q_id, i_id)


def _bucket_pairs(
    a: DataFrame,
    keys: list[str],
    id_a: str,
    id_b: str,
    b: DataFrame | None = None,
    exclude_same_id: bool = False,
    attach: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b)``: the bucket rows of ``a``
    (``id_a`` and ``keys``) and ``b`` (``id_b`` and ``keys``) that share a
    bucket key. ``b=None`` self-joins ``a`` and keeps each unordered pair
    once (``id_a < id_b``); otherwise ``exclude_same_id`` drops equal ids.
    ``attach`` re-joins a ``(id_a, ...)`` and a ``(id_b, ...)`` frame to
    the distinct pairs.

    Only ids and bucket keys cross the join and dedup exchanges: a pair
    colliding in many buckets would otherwise shuffle its vectors or codes
    once per collision (at 10^12 rows x d=512 they dominate shuffle volume
    ~100:1), so payloads re-attach once per side after the dedup.

    PRECONDITION: ids are PRIMARY KEYS of their tables. A duplicated id
    would fan each pair back out at the re-attach, to one row per duplicate
    payload."""
    if b is None:
        b = a.select(*[F.col(c).alias(id_b) if c == id_a else c for c in a.columns])
        cand = a.join(b, keys).filter(F.col(id_a) < F.col(id_b))
    else:
        cand = a.join(b, keys)
        if exclude_same_id:
            cand = cand.filter(F.col(id_a) != F.col(id_b))
    pairs = cand.select(id_a, id_b).dropDuplicates([id_a, id_b])
    if attach is not None:
        pairs = pairs.join(attach[0], id_a).join(attach[1], id_b)
    return pairs


def cosine_topk(
    queries: DataFrame,
    items: DataFrame,
    k: int,
    q_id: str = "query_id",
    i_id: str = "item_id",
    vec: str = "vec",
    exclude_same_id: bool = False,
) -> DataFrame:
    """Exact brute-force cosine top-k; query side broadcast.

    ``exclude_same_id``: drop pairs whose ids are equal (self-matches when
    both sides come from the same table). ``q_id`` and ``i_id`` must be
    different names: a ``ValueError`` says so otherwise."""
    q, it = _sides(queries, items, q_id, i_id, vec)
    cand = F.broadcast(q).join(it)
    if exclude_same_id:
        cand = cand.filter(F.col("_qid") != F.col("_iid"))
    return _topk(cand, k, q_id, i_id)


def cosine_topk_kernel(
    queries: DataFrame,
    items: DataFrame,
    k: int,
    q_id: str = "query_id",
    i_id: str = "item_id",
    vec: str = "vec",
    exclude_same_id: bool = False,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Brute-force cosine top-k via a vectorized Arrow kernel: the query
    matrix is collected (small side) and broadcast; each item batch computes
    all similarities with one numpy matmul. ~10x the throughput of the
    expression-fold path on wide vectors; results differ from the exact
    left-to-right fold only in the last ulp (pairwise summation).

    ``exclude_same_id`` as in :func:`cosine_topk`.

    The query side is collected to the driver and broadcast — correct only
    for small query sets. ``max_query_rows`` (default 100k) guards the
    collect; for larger query tables use :func:`lsh_topk` / :func:`ivf_topk`,
    whose candidate generation is a distributed equi-join on both sides."""
    import pandas as pd

    q, _ = _sides(queries, items, q_id, i_id, vec)
    q_rows = q.limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"cosine_topk_kernel collects the query side to the driver; got "
            f"> {max_query_rows} query rows. Raise max_query_rows only if the "
            f"driver can hold them, or use lsh_topk / ivf_topk for large "
            f"query tables."
        )
    q_ids = np.array([r["_qid"] for r in q_rows])
    qm = np.array([list(r["_qv"]) for r in q_rows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    spark = items.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, qn))

    schema = f"{q_id} long, {i_id} long, cos double"

    def kernel(batches):
        ids, qmat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array([list(v) for v in pdf[vec]], dtype=np.float64)
            xn = x / np.linalg.norm(x, axis=1, keepdims=True)
            sims = qmat @ xn.T  # (n_q, n_items)
            n_q, n_i = sims.shape
            yield pd.DataFrame({
                q_id: np.repeat(ids, n_i),
                i_id: np.tile(pdf[i_id].to_numpy(), n_q),
                "cos": sims.ravel(),
            })

    scored = items.select(i_id, vec).mapInPandas(kernel, schema)
    if exclude_same_id:
        scored = scored.filter(F.col(q_id) != F.col(i_id))
    return _rank(scored, k, q_id, i_id)


LSH_VEC_SCALE = 1024  # floor-quantization scale for exact integer projections


def _hyperplanes_int(dim: int, n_planes: int, table: int = 0) -> list[list[int]]:
    """Integer hyperplane weights: w(t,p,d) = md5_5hex("{t}:{p}:{d}") - 2^19
    ∈ [-524288, 524287]. Integer weights + floor-quantized vectors make the
    signed projection EXACT integer arithmetic (|term| < 2^30, sums < 2^40),
    so a SQL oracle replays every bucket assignment bit-for-bit with the
    same digit-polynomial trick as the MinHash oracle — no float summation
    order to worry about."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{table}:{p}:{d}".encode()).hexdigest()
            row.append(int(h[:5], 16) - 2**19)
        planes.append(row)
    return planes


def _project(df: DataFrame, vec: str, weights: np.ndarray, ddl: str, rows) -> DataFrame:
    """The exact integer projection kernel: every column of ``df`` plus the
    ``ddl`` columns. Per Arrow batch the vectors floor-quantize to
    1/``LSH_VEC_SCALE`` int64, one int matmul against ``weights`` (dim, w)
    gives exact dot products, and ``rows(dots)`` maps them to one (n, r)
    array per ``ddl`` column; each input row repeats r times.

    One numpy matmul per batch — the equivalent Column fold tree (dozens of
    nested 64-term aggregates) blows past whole-stage-codegen limits and
    runs interpreted, ~50x slower — and exact integer arithmetic, so a SQL
    oracle replays every output bit-for-bit (no sign flips from float
    summation order)."""
    in_cols = df.columns
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", " + ddl

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[vec].tolist(), dtype=np.float64)  # (n, dim)
            out = rows(np.floor(x * LSH_VEC_SCALE).astype(np.int64) @ weights)
            reps = next(iter(out.values())).shape[1]  # output rows per input row
            rep = pdf.loc[pdf.index.repeat(reps)].reset_index(drop=True)
            for name, vals in out.items():
                rep[name] = vals.ravel()
            yield rep[in_cols + list(out)]

    return df.mapInPandas(kernel, schema)


def lsh_signature(
    df: DataFrame, vec: str, dim: int, n_planes: int = 4, n_tables: int = 16
) -> DataFrame:
    """Explode each row to its (table, bucket) pairs across L tables.

    Multi-table random-hyperplane LSH: collision probability for angle θ is
    1 - (1 - (1 - θ/π)^b)^L — L tables buy recall, b planes bound bucket
    size. On clustered data small L suffices; on near-random data (the worst
    case) the candidate set grows toward the full set, degrading gracefully
    to exact search instead of losing recall.

    All L*b signed projections are one :func:`_project` matmul against the
    md5-derived integer hyperplanes (:func:`_hyperplanes_int`), so bucket
    assignments are engine-portable — the DuckDB oracle replays them."""
    planes = np.array(
        [_hyperplanes_int(dim, n_planes, t) for t in range(n_tables)], dtype=np.int64
    )  # (L, b, dim)
    pows = (1 << np.arange(n_planes, dtype=np.int64))
    tables = np.arange(n_tables, dtype=np.int32)

    def buckets(dots):  # (n, L*b) -> (n, L)
        b = ((dots > 0).reshape(len(dots), n_tables, n_planes).astype(np.int64) * pows).sum(axis=2)
        return {"tbl": np.broadcast_to(tables, b.shape), "bucket": b}

    mat = planes.reshape(n_tables * n_planes, dim).T  # (dim, L*b)
    return _project(df, vec, mat, "tbl int, bucket long", buckets)


def lsh_topk(
    queries: DataFrame,
    items: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 16,
    q_id: str = "query_id",
    i_id: str = "item_id",
    vec: str = "vec",
    exclude_same_id: bool = False,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: multi-table bucket equi-join, dedup candidates,
    exact cosine + window rank inside the candidate set.

    ``multiprobe``: additionally probe the b Hamming-1 neighbor buckets of
    each QUERY signature (bucket XOR 1<<j) — (b+1)x the query-side explode
    (queries are the small side) buys the recall of ~2x the tables without
    re-hashing the item side.

    SIZING AT SCALE: b bounds bucket occupancy at ~n/2^b rows, so b must
    grow with the corpus — b ≈ log2(n / target_bucket_rows) (the default
    b=4 → 16 buckets/table suits the ~5k-row test corpus at ~300 rows per
    bucket; a 10^12-row index wants b ≈ 25-30 with more tables/multiprobe
    to buy the recall back). The bucket equi-join itself is
    skew-tolerant under AQE's skew-join splitting, but an undersized b
    degenerates the candidate set toward the cross product — size b first,
    lean on AQE second."""
    q_vecs, i_vecs = _sides(queries, items, q_id, i_id, vec)
    qs = lsh_signature(q_vecs, "_qv", dim, n_planes, n_tables)
    if multiprobe:
        flips = F.array(F.lit(0), *[F.lit(1 << j) for j in range(n_planes)])
        qs = qs.withColumn(
            "bucket", F.explode(F.transform(flips, lambda m: F.col("bucket").bitwiseXOR(m)))
        )
    its = lsh_signature(i_vecs, "_iv", dim, n_planes, n_tables)
    # each candidate occurs up to L*(b+1) times in the bucket join
    cand = _bucket_pairs(
        qs.select("tbl", "bucket", "_qid"), ["tbl", "bucket"], "_qid", "_iid",
        b=its.select("tbl", "bucket", "_iid"), exclude_same_id=exclude_same_id,
        attach=(q_vecs, i_vecs),
    )
    return _topk(cand, k, q_id, i_id)


def ivf_topk(
    queries: DataFrame,
    items: DataFrame,
    k: int,
    dim: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    q_id: str = "query_id",
    i_id: str = "item_id",
    vec: str = "vec",
    exclude_same_id: bool = False,
) -> DataFrame:
    """IVF-flat approximate top-k: items are assigned to the coarse
    centroid maximizing the INTEGER dot product of the floor-quantized
    vector (deterministic md5-derived integer centroids — at production
    scale these come from a k-means fit persisted with the index); each
    query probes its ``n_probe`` best centroids by the same rule and ranks
    exact cosine inside those inverted lists.

    Assignment metric note: the integer dot is UNNORMALIZED, so centroids
    with ~5% larger norms attract proportionally more boundary vectors than
    cosine-nearest assignment would — an accepted tradeoff for exact,
    engine-portable assignments (the SQL oracle replays them bit-for-bit,
    and the recall-vs-brute pytest gate pins the end-to-end quality; a
    k-means fit would supply equal-ish-norm centroids anyway).

    The scale path: the cross join is replaced by an equi-join on
    centroid id; recall is tunable via n_probe (n_probe == n_centroids
    degrades to exact search).
    """
    q_vecs, i_vecs = _sides(queries, items, q_id, i_id, vec)
    its = ivf_assign(i_vecs, "_iv", dim, n_centroids, 1)
    qs = ivf_assign(q_vecs, "_qv", dim, n_centroids, n_probe)
    # inverted-list join: a query occurs n_probe times
    cand = _bucket_pairs(
        qs.select("_cid", "_qid"), ["_cid"], "_qid", "_iid",
        b=its.select("_cid", "_iid"), exclude_same_id=exclude_same_id,
        attach=(q_vecs, i_vecs),
    )
    return _topk(cand, k, q_id, i_id)


def ivf_assign(
    df: DataFrame, vec: str, dim: int, n_centroids: int, n: int
) -> DataFrame:
    """Explode each row to its ``n`` nearest coarse centroids (column
    ``_cid``), nearest = max integer dot product of the floor-quantized
    vector against md5-derived integer centroids (table 99), ties to the
    LOWER centroid id. One :func:`_project` matmul per Arrow batch, exact
    integer arithmetic, so a SQL oracle replays every assignment."""
    cents = np.array(
        _hyperplanes_int(dim, n_centroids, table=99), dtype=np.int64
    )  # (C, dim)

    def nearest(dots):  # (m, C) -> (m, n)
        # stable argsort of -dots: descending dot, ties -> lower cid
        return {"_cid": np.argsort(-dots, axis=1, kind="stable")[:, :n].astype(np.int32)}

    return _project(df, vec, cents.T, "_cid int", nearest)


def cosine_dup_pairs(
    items: DataFrame, threshold: float, i_id: str = "item_id", vec: str = "vec"
) -> DataFrame:
    """Embedding near-duplicate pairs, exact brute force: cosine >= threshold,
    id_a < id_b. O(n^2) all-pairs — the small-n correctness oracle for
    :func:`cosine_dup_pairs_lsh`, NOT the scale path (the join compiles to a
    nested-loop product)."""
    a = items.select(F.col(i_id).alias("id_a"), F.col(vec).alias("_va"))
    b = items.select(F.col(i_id).alias("id_b"), F.col(vec).alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cosine(F.col("_va"), F.col("_vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def cosine_dup_pairs_lsh(
    items: DataFrame,
    threshold: float,
    i_id: str = "item_id",
    vec: str = "vec",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 16,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: hyperplane-LSH bucketed
    candidates + exact cosine verify, keeping only cosine >= threshold.

    Plan shape: each row explodes to its L (table, bucket) signatures, the
    self-join is an EQUI-join on (tbl, bucket) — no cartesian / nested-loop
    product — then candidate pairs are deduped and exact cosine is the final
    filter. A true pair at angle θ collides in one table with probability
    (1 - θ/π)^b and is missed with probability (1 - (1 - θ/π)^b)^L. Honest
    numbers at b=12, L=16: a borderline pair at exactly cos 0.99
    (θ/π ≈ 0.0452) is missed with ~1.2e-6 probability; genuine
    near-duplicates (cos >= 0.999, θ/π <= 0.0142) with < 1e-12. Recall < 1
    for borderline pairs is the documented LSH tradeoff — raise n_tables
    when the threshold sits close to the data's natural cosine range. The
    hyperplanes are md5-derived constants, so recall on a fixed dataset is
    deterministic and testable. At 10^12 rows the equi-join shuffles on
    (tbl, bucket) with ~uniform occupancy (b=12 → 4096 buckets/table); the
    brute twin is kept as the test oracle only.
    """
    a_vecs = items.select(F.col(i_id).alias("id_a"), F.col(vec).alias("_va"))
    b_vecs = items.select(F.col(i_id).alias("id_b"), F.col(vec).alias("_vb"))
    # ONE signature kernel pass serves both join sides (r06 — the kernel is
    # deterministic, so the b-side signatures were an identical recompute);
    # lazy, so the two references don't re-run the Arrow matmul
    sig = materialize(
        lsh_signature(a_vecs, "_va", dim, n_planes, n_tables).select("tbl", "bucket", "id_a"),
        eager=False,
    )
    cand = _bucket_pairs(sig, ["tbl", "bucket"], "id_a", "id_b", attach=(a_vecs, b_vecs))
    return (
        cand.select("id_a", "id_b", _cosine(F.col("_va"), F.col("_vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
