"""Embedding clustering: relational Lloyd's k-means with engine-portable
exact arithmetic.

The corpus-curation op the ANN/dedup stack (operators/similarity.py,
dedup.py) was missing: partition an embedding table into k groups (topic
balancing, stratified sampling, per-cluster dedup budgets). Not in the
reference (no vector columns there at all).

Everything is expressed RELATIONALLY and the floating-point is pinned:

- vectors are exploded to (id, dim, x) rows once; distances and means are
  computed by joins + aggregations, never a driver loop — a fixed
  ``iters`` unrolls into one DAG, so the whole fit is a single lazy plan
  (broadcast of the k x d centroid side happens automatically — it is a
  few hundred rows).
- squared-distance terms and coordinate sums are ROUND(.., 12)-ed and
  accumulated in DECIMAL(38,12) — exact, order-independent addition — so
  cluster assignment (argmin with cluster-id tie-break) and the centroid
  means are identical in any engine and any partitioning. A DuckDB twin
  (:func:`kmeans_sql`) replays the same unrolled iterations CTE-for-CTE.
- init: centroids 0..k-1 are the embeddings of the k smallest ids
  (deterministic, no RNG — k-means++ would need engine-portable
  randomness). Clusters emptied by an assignment round simply drop out
  of later rounds (documented Lloyd behavior).

At 100 TB the assign stage is the standard shape: a broadcast hash join
of (rows x dims) against (k x dims) with map-side partial aggregation —
shuffle volume is one (id, cluster, dist) partial per row, and the
explode factor is the price of exact cross-engine parity (the fast
in-production variant is the Arrow matmul kernel in similarity.py; both
compute the same argmin up to float-sum ordering, which the decimal
accumulation removes here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(38,12)"


def _explode_dims(emb: DataFrame, dim: int, id_col: str, vec_col: str) -> DataFrame:
    # hash-partition the exploded rows by id ONCE: every round's
    # groupBy(id, cluster) and groupBy(id) aggregation and the
    # assigned-to-points join then satisfy their ClusteredDistribution via
    # the subset rule (hash(id) co-locates all of an id's rows), so the
    # unrolled plan stops re-exchanging the point table each round — the
    # sequential AQE stage chain was the query's measured floor (r06;
    # 3.6 -> 2.1 s at sf0.1, bit-identical output). Width is the session
    # shuffle knob, the same scale-parameterised value any groupBy used.
    spark = emb.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        emb.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.col(vec_col)).alias("d", "x"),
        )
        .withColumn("x", F.col("x").cast("double"))
        .repartition(nparts, "id")
    )


def kmeans_relational(
    emb: DataFrame,
    k: int,
    iters: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means, ``iters`` rounds unrolled into one lazy plan.

    Returns the final assignment joined with centroid stats:
    (cluster, n_members, centroid_norm) — ``centroid_norm`` is the
    ROUND(sqrt(decimal-exact sum of c_d^2), 9) fingerprint of the final
    centroid, so any drift in any round changes the output.
    """
    pts = _explode_dims(emb, dim, id_col, vec_col)
    # init: the k smallest ids are the seed centroids
    seeds = emb.select(F.col(id_col).alias("_sid")).orderBy("_sid").limit(k)
    cent = (
        pts.join(seeds, pts["id"] == seeds["_sid"])
        .select(F.col("id").alias("cluster"), "d", F.col("x").alias("c"))
    )
    assigned = None
    for _ in range(iters):
        term = F.round((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")), 12)
        # centroids are k x dim rows — broadcast explicitly (the post-agg
        # side has no stats, so the planner would otherwise shuffle the
        # full point table into a sort-merge join every round, r06)
        dist = (
            pts.join(F.broadcast(cent), "d")
            .groupBy("id", "cluster")
            .agg(F.sum(term.cast(DEC)).alias("_dist"))
        )
        # argmin with cluster-id tie-break as a MIN over (dist, cluster)
        # structs — struct ordering is field-by-field, so this is the same
        # row the (dist asc, cluster asc) row_number window picked, but as
        # a map-side-combinable hash aggregate instead of a per-id sort
        # (one Exchange+Sort fewer per round, r06)
        assigned = (
            dist.groupBy("id")
            .agg(F.min(F.struct(F.col("_dist"), F.col("cluster"))).alias("_m"))
            .select("id", F.col("_m.cluster").alias("cluster"))
        )
        cent = (
            assigned.join(pts, "id")
            .groupBy("cluster", "d")
            .agg(
                (
                    F.sum(F.round(F.col("x"), 12).cast(DEC)).cast("double")
                    / F.count("*").cast("double")
                ).alias("c")
            )
        )
    stats = assigned.groupBy("cluster").agg(F.count("*").alias("n_members"))
    norms = cent.groupBy("cluster").agg(
        F.round(
            F.sqrt(F.sum(F.round(F.col("c") * F.col("c"), 12).cast(DEC)).cast("double")),
            9,
        ).alias("centroid_norm")
    )
    return stats.join(norms, "cluster")


def kmeans_sql(
    emb_table: str,
    k: int,
    iters: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin: the same unrolled rounds. Binds km_pts / km_cent_0 ..
    km_cent_{iters} / km_assign_{iters}; caller SELECTs the final stats
    from km_out."""
    parts = [f"""
    km_pts AS (
      SELECT {id_col} AS id, i.d AS d,
             CAST({vec_col}[i.d + 1] AS DOUBLE) AS x
      FROM {emb_table}, (SELECT unnest(range({dim})) AS d) i
    ),
    km_seeds AS (
      SELECT {id_col} AS sid FROM {emb_table} ORDER BY {id_col} LIMIT {k}
    ),
    km_cent_0 AS (
      SELECT p.id AS cluster, p.d, p.x AS c
      FROM km_pts p JOIN km_seeds s ON p.id = s.sid
    )"""]
    for it in range(1, iters + 1):
        prev = f"km_cent_{it - 1}"
        parts.append(f"""
    km_dist_{it} AS (
      SELECT p.id, c.cluster,
             SUM(CAST(ROUND((p.x - c.c) * (p.x - c.c), 12) AS DECIMAL(38,12))) AS dist
      FROM km_pts p JOIN {prev} c ON p.d = c.d
      GROUP BY p.id, c.cluster
    ),
    km_assign_{it} AS (
      SELECT id, cluster FROM km_dist_{it}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cluster ASC) = 1
    ),
    km_cent_{it} AS (
      SELECT a.cluster, p.d,
             CAST(SUM(CAST(ROUND(p.x, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS c
      FROM km_assign_{it} a JOIN km_pts p ON p.id = a.id
      GROUP BY a.cluster, p.d
    )""")
    parts.append(f"""
    km_out AS (
      SELECT s.cluster, s.n_members, n.centroid_norm
      FROM (
        SELECT cluster, COUNT(*) AS n_members
        FROM km_assign_{iters} GROUP BY cluster
      ) s
      JOIN (
        SELECT cluster,
               ROUND(SQRT(CAST(SUM(CAST(ROUND(c * c, 12) AS DECIMAL(38,12))) AS DOUBLE)), 9)
                 AS centroid_norm
        FROM km_cent_{iters} GROUP BY cluster
      ) n USING (cluster)
    )""")
    return ",".join(parts)


__all__ = ["kmeans_relational", "kmeans_sql"]
