"""Route-crossing join: segment pairs from DIFFERENT routes that properly
intersect — ST_Crosses for a polyline corpus.

The reference engine treats every activity as an isolated file (per-file
GPX/TCX/FIT parse, SURVEY §2); asking "which routes cross which" is a
corpus-level spatial join it cannot express.  This is north-rule core: the
line-line twin of the point-in-polygon join.

Exactness design (shared with operators/supercover.py):

1. Endpoints snap to the same integer subcell lattice (web-mercator pixel
   zoom ``z+q``) every hash-gated tiling query uses.  After the snap the
   crossing predicate is PURE INTEGER arithmetic.
2. "Properly cross" = strict double-straddle: with ``o1..o4`` the four
   orientation cross products (BIGINT, exact for <=26-bit coordinates:
   differences are 27-bit, each product term 54-bit < 2**63), segments
   (p,q) and (a,b) cross iff sign(o1) != sign(o2), sign(o3) != sign(o4),
   and all four are nonzero.  Signs are compared directly — never via
   ``o1*o2 < 0``, whose product would overflow BIGINT.  Collinear overlap
   and endpoint touches are deliberately excluded: the strict predicate is
   deterministic on the lattice with no tolerance, and both engines
   evaluate the identical expression tree.

Candidate completeness: a proper crossing point P lies on both closed
segments, so the cell whose closed box contains P is in BOTH segments'
closed supercovers (operators/supercover.py emits exactly the closed-box
intersection set) — every crossing pair shares >= 1 cover cell.

Scale shape (r06): per-route lag window -> one Arrow-kernel supercover
pass (segment endpoints carried on every cover row) -> cell equi-join
with the BIGINT refine evaluated inside the join stage, then distinct on
the segment-pair id and the rollup.  No cross join anywhere, no join-back
to the segment table, no cover-dedup exchange; the cover join is
explicitly repartitioned by cell so its cost (candidate pairs, not bytes)
parallelizes; skewed mega-cells are handled by the same AQE + salt
discipline as the tile rollups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from activity_files_spark.operators.supercover import segment_cover_rows


def _cell_partitions(df: DataFrame) -> int:
    """Partition count for the compute-heavy candidate join: the session's
    configured shuffle width (the per-deployment scale knob), NOT a local
    constant — AQE's byte-based coalescing would otherwise serialize a
    join whose cost is candidate pairs, not bytes."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _orient(px, py, qx, qy, ax, ay) -> Column:
    """BIGINT cross product (q-p) x (a-p); exact for <=26-bit inputs."""
    return (qx - px) * (ay - py) - (qy - py) * (ax - px)


def proper_cross_pred(p, q, a, b) -> Column:
    """Strict double-straddle predicate over four (x, y) Column pairs."""
    o1 = _orient(p[0], p[1], q[0], q[1], a[0], a[1])
    o2 = _orient(p[0], p[1], q[0], q[1], b[0], b[1])
    o3 = _orient(a[0], a[1], b[0], b[1], p[0], p[1])
    o4 = _orient(a[0], a[1], b[0], b[1], q[0], q[1])
    straddle1 = ((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0))
    straddle2 = ((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0))
    return straddle1 & straddle2


def _cover_sides(
    segments: DataFrame, q: int, key: str, seq: str, by: tuple[str, ...]
) -> tuple[DataFrame, DataFrame, Column]:
    """Both sides of the crossing cover self-join, and the refine between
    them.

    Per-segment cover in ONE Arrow pass (segment_cover_rows dedups per
    input row), with the four endpoint ints carried on each cover row so
    the refine runs INSIDE the cell-join stage (whole-stage codegen,
    pre-exchange): on overlapping corpora the candidate multiset is ~20x
    the crossing set, and a distinct over bare ids first would shuffle all
    of it. Deduping after the integer refine shuffles only true crossings
    (x their shared-cell multiplicity, bounded by the 2 cells a generic
    crossing point touches; lattice-corner crossings touch 4). One window
    + one kernel pass, no join-back, no cover-dedup exchange (r06 plan
    restructure).

    The cover is repartitioned on ``by``, the caller's join columns. Side
    a carries ``seq_a`` and endpoints ``pa``-``pb``, side b ``seq_b`` and
    ``qa``-``qb``; the route id is ``k`` when it is a join column, else
    ``key_a`` / ``key_b``.
    """
    cov = segment_cover_rows(
        segments.select(
            F.col(key).alias("k"), F.col(seq).alias("s"), "x0", "y0", "x1", "y1"
        ),
        q,
        ["k", "s", "x0", "y0", "x1", "y1"],
    ).repartition(_cell_partitions(segments), *by)

    def side(ab: str, a: str, b: str) -> DataFrame:
        return cov.select(
            F.col("k") if "k" in by else F.col("k").alias(f"key_{ab}"),
            F.col("s").alias(f"seq_{ab}"),
            "cx",
            "cy",
            F.col("x0").alias(f"{a}x"),
            F.col("y0").alias(f"{a}y"),
            F.col("x1").alias(f"{b}x"),
            F.col("y1").alias(f"{b}y"),
        )

    pred = proper_cross_pred(
        (F.col("pax"), F.col("pay")),
        (F.col("pbx"), F.col("pby")),
        (F.col("qax"), F.col("qay")),
        (F.col("qbx"), F.col("qby")),
    )
    return side("a", "pa", "pb"), side("b", "qa", "qb"), pred


def segment_crossings(
    segments: DataFrame,
    q: int = 8,
    key: str = "key",
    seq: str = "seq",
    with_points: bool = False,
) -> DataFrame:
    """Properly-crossing segment pairs across DIFFERENT keys.

    ``segments``: one row per segment with BIGINT subcell-lattice endpoints
    ``x0, y0, x1, y1`` (``2**q`` subunits per cell, <=26-bit coordinates —
    the supercover bound), a route id ``key`` and a per-route segment id
    ``seq`` unique within the route.

    Returns one row per unordered crossing pair, ``key_a < key_b``:
    ``key_a, seq_a, key_b, seq_b``.

    ``with_points=True`` additionally returns the EXACT intersection
    point as a rational on the lattice — the ST_Intersection geometry for
    the ST_Crosses pairs: ``px_num, py_num, den`` (DECIMAL(38,0)
    numerators, BIGINT denominator, canonical ``den > 0``) with
    point = (px_num/den, py_num/den). With P = p_a + t·d1, Q = q_a + u·d2,
    a proper crossing has t = cross(q_a − p_a, d2) / cross(d1, d2) in
    (0, 1); the numerators expand to p_a·den + t_num·d1 — at 26-bit
    coordinates that is ≤ ~2^79, exact in DECIMAL(38,0) in BOTH engines
    (BIGINT would overflow; Spark ANSI and DuckDB both check rather than
    wrap, so the widening is semantic, not cosmetic).
    """
    left, right, pred = _cover_sides(segments, q, key, seq, ("cx", "cy"))
    joined = left.join(right, on=["cx", "cy"], how="inner").where(
        (F.col("key_a") < F.col("key_b")) & pred
    )
    if not with_points:
        return joined.select("key_a", "seq_a", "key_b", "seq_b").dropDuplicates(
            ["key_a", "seq_a", "key_b", "seq_b"]
        )
    # dedup FIRST on the pair ids (the endpoints are functions of the ids,
    # so carrying them through the dedup is exact), THEN build the
    # DECIMAL(38,0) rational point on the ~3x smaller distinct-pair set —
    # BigDecimal math per refined candidate row was the r05 hot spot (r06)
    distinct = joined.select(
        "key_a", "seq_a", "key_b", "seq_b",
        "pax", "pay", "pbx", "pby", "qax", "qay", "qbx", "qby",
    ).dropDuplicates(["key_a", "seq_a", "key_b", "seq_b"])
    d1x = F.col("pbx") - F.col("pax")
    d1y = F.col("pby") - F.col("pay")
    d2x = F.col("qbx") - F.col("qax")
    d2y = F.col("qby") - F.col("qay")
    den0 = d1x * d2y - d1y * d2x  # nonzero for proper crossings
    t0 = (F.col("qax") - F.col("pax")) * d2y - (F.col("qay") - F.col("pay")) * d2x
    sgn = F.when(den0 < 0, F.lit(-1)).otherwise(F.lit(1))
    den = (den0 * sgn).alias("den")
    t_num = (t0 * sgn).cast("decimal(38,0)")
    dec = lambda c: c.cast("decimal(38,0)")
    px_num = (dec(F.col("pax")) * dec(den0 * sgn) + t_num * dec(d1x)).alias("px_num")
    py_num = (dec(F.col("pay")) * dec(den0 * sgn) + t_num * dec(d1y)).alias("py_num")
    return distinct.select(
        "key_a", "seq_a", "key_b", "seq_b", px_num, py_num, den
    )


def self_intersections(
    segments: DataFrame,
    q: int = 8,
    key: str = "key",
    seq: str = "seq",
) -> DataFrame:
    """Properly-crossing segment pairs WITHIN each route — the ST_IsSimple
    test as a counting join (a polyline is simple iff this is empty).

    Same cover-join + in-stage integer refine as
    :func:`segment_crossings`, but candidates pair a route with itself and
    ADJACENT segments are excluded (consecutive segments share an endpoint,
    which the strict predicate already rejects, but ``seq_b > seq_a + 1``
    also skips their join rows outright).  Returns
    ``(key, seq_a, seq_b)`` with ``seq_a < seq_b - 1``.
    """
    left, right, pred = _cover_sides(segments, q, key, seq, ("k", "cx", "cy"))
    return (
        left.join(right, on=["k", "cx", "cy"], how="inner")
        .where((F.col("seq_b") > F.col("seq_a") + 1) & pred)
        .select(F.col("k").alias("key"), "seq_a", "seq_b")
        .dropDuplicates(["key", "seq_a", "seq_b"])
    )


def self_intersections_brute_py(segs: list[tuple]) -> set[tuple]:
    """O(n^2) definitional oracle (tests only) for the within-route
    variant; ``segs`` rows are (key, seq, x0, y0, x1, y1)."""
    out: set[tuple] = set()
    for i, (ka, sa, ax0, ay0, ax1, ay1) in enumerate(segs):
        for kb, sb, bx0, by0, bx1, by1 in segs[i + 1 :]:
            if ka != kb or abs(sa - sb) <= 1:
                continue
            if proper_cross_py(
                (ax0, ay0), (ax1, ay1), (bx0, by0), (bx1, by1)
            ):
                out.add((ka, min(sa, sb), max(sa, sb)))
    return out


def proper_cross_py(p, q, a, b) -> bool:
    """Pure-python twin of the strict predicate (tests/oracles)."""

    def orient(px, py, qx, qy, ax, ay):
        return (qx - px) * (ay - py) - (qy - py) * (ax - px)

    o1 = orient(p[0], p[1], q[0], q[1], a[0], a[1])
    o2 = orient(p[0], p[1], q[0], q[1], b[0], b[1])
    o3 = orient(a[0], a[1], b[0], b[1], p[0], p[1])
    o4 = orient(a[0], a[1], b[0], b[1], q[0], q[1])
    s1 = (o1 > 0 and o2 < 0) or (o1 < 0 and o2 > 0)
    s2 = (o3 > 0 and o4 < 0) or (o3 < 0 and o4 > 0)
    return s1 and s2


def crossings_brute_py(segs: list[tuple]) -> set[tuple]:
    """O(n^2) definitional oracle (tests only). ``segs`` rows are
    ``(key, seq, x0, y0, x1, y1)``; returns the key_a<key_b pair set."""
    out: set[tuple] = set()
    for i, (ka, sa, ax0, ay0, ax1, ay1) in enumerate(segs):
        for kb, sb, bx0, by0, bx1, by1 in segs[i + 1 :]:
            if ka == kb:
                continue
            if proper_cross_py(
                (ax0, ay0), (ax1, ay1), (bx0, by0), (bx1, by1)
            ):
                key = (ka, sa, kb, sb) if ka < kb else (kb, sb, ka, sa)
                out.add(key)
    return out


def proper_cross_sql(p, q, a, b) -> str:
    """The identical predicate as SQL text (DuckDB oracle twin).

    Arguments are (x_expr, y_expr) string pairs."""

    def orient(px, py, qx, qy, ax, ay):
        return (
            f"((({qx})-({px}))*((({ay})-({py}))) - "
            f"((({qy})-({py}))*((({ax})-({px})))))"
        )

    o1 = orient(p[0], p[1], q[0], q[1], a[0], a[1])
    o2 = orient(p[0], p[1], q[0], q[1], b[0], b[1])
    o3 = orient(a[0], a[1], b[0], b[1], p[0], p[1])
    o4 = orient(a[0], a[1], b[0], b[1], q[0], q[1])
    s1 = f"((({o1}) > 0 AND ({o2}) < 0) OR (({o1}) < 0 AND ({o2}) > 0))"
    s2 = f"((({o3}) > 0 AND ({o4}) < 0) OR (({o3}) < 0 AND ({o4}) > 0))"
    return f"({s1} AND {s2})"
