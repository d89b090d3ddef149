"""Deduplication operators for large-scale text corpora.

All hot paths are native Column expressions (shingling via slice/transform,
hashing via md5) so they stay in whole-stage codegen and the oracle can
reproduce them bit-for-bit in SQL:

- :func:`exact_dedup` — hash-groupBy exact dedup
- :func:`shingles` — word n-gram shingle sets
- :func:`minhash_signature` — K md5-derived min-hashes per doc (the
  "permutation" family is h_k(s) = md5(s || ':' || k), min taken
  lexicographically — deterministic, engine-portable)
- :func:`lsh_candidate_pairs` — banded LSH: equal band-signature join
- :func:`jaccard_pairs` — exact shingle-set Jaccard verification
- :func:`near_dup_pairs` — full MinHash->LSH->verify pipeline
- :func:`simhash64` — 64-bit SimHash over tokens (bitwise majority vote)

At 100 TB: shingling/minhash are map-side only; the LSH join shuffles on
(band, signature) — bounded by band width, with salting available for
pathological buckets; verification joins only candidate pairs (tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from activity_files_spark.operators.materialize import materialize
from activity_files_spark.operators.similarity import _bucket_pairs


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact text hash."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def tokens_col(text_col: str = "text"):
    """Whitespace tokenization of trimmed text (native)."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingle) distinct word n-grams. Docs shorter than n words get
    their full token string as the single shingle."""
    toks = tokens_col(text_col)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return (
        df.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .distinct()
    )


def minhash_signature(
    shingle_df: DataFrame, k: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """K min-hashes per doc via Kirsch-Mitzenmacher derivation: ONE md5 per
    shingle yields two independent 40-bit slices (h1, h2); permutation j is
    h_j = h1 + j*h2 (h2 forced odd). 16x fewer hash computations than one
    md5 per permutation; values stay < 2^45 so long arithmetic never
    overflows (ANSI-safe) and the DuckDB oracle reproduces them exactly."""
    h1 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 10), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(F.col("shingle")), 11, 10), 16, 10).cast("long").bitwiseOR(
        F.lit(1)
    )
    base = shingle_df.select(F.col(id_col), h1.alias("_h1"), h2.alias("_h2"))
    aggs = [
        F.min(F.col("_h1") + F.lit(j) * F.col("_h2")).alias(f"mh{j}") for j in range(k)
    ]
    return base.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame, bands: int, rows_per_band: int, id_col: str = "doc_id"
) -> DataFrame:
    """Self-join on equal band signatures -> distinct (doc_a < doc_b) pairs."""
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("|", *parts).alias("sig"))
        )
    banded = sig.select(
        F.col(id_col).alias("doc_a"), F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_a", "bs.band", "bs.sig")
    return _bucket_pairs(banded, ["band", "sig"], "doc_a", "doc_b")


def jaccard_pairs(
    pairs: DataFrame, shingle_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard over shingle sets for the candidate pairs."""
    sizes = shingle_df.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sa = shingle_df.withColumnRenamed(id_col, "doc_a")
    sb = shingle_df.withColumnRenamed(id_col, "doc_b")
    # intersection via equi-join on (doc_b, shingle) — never materializes the
    # cross product of the two shingle sets
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n_sh", "n_a")
    nb = sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n_sh", "n_b")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash -> banded LSH -> exact-Jaccard verify (>= threshold)."""
    # the distinct shingle set feeds the signature build AND three arms of
    # the Jaccard verify — without a checkpoint the full tokenize+md5
    # shingling re-executes per reference (4 scans in the r05 plan). Eager:
    # a lazy checkpoint fills while the later job runs, and a JVM GC in
    # that window drops the source plan's metric accumulators, which the
    # scheduler then logs as "non-existent accumulator" errors per task
    sh = materialize(shingles(df, n=n, text_col=text_col, id_col=id_col), eager=True)
    sig = minhash_signature(sh, k=bands * rows_per_band, id_col=id_col)
    cand = lsh_candidate_pairs(sig, bands, rows_per_band, id_col=id_col)
    return jaccard_pairs(cand, sh, id_col=id_col).filter(F.col("jaccard") >= threshold)


# -------------------------------------------------------------- simhash

def md5_prefix_long(col, start: int = 1, length: int = 15):
    """Hex chars [start, start+length) of md5 as a non-negative long (exact,
    engine-portable — DuckDB twin builds the same value by digit polynomial)."""
    return F.conv(F.substring(F.md5(col), start, length), 16, 10).cast("long")


def md5_prefix_long_sql(expr: str, start: int = 1, length: int = 15) -> str:
    """DuckDB twin of :func:`md5_prefix_long` (exact BIGINT arithmetic)."""
    terms = []
    for i in range(length):
        digit = f"(strpos('0123456789abcdef', substr(md5({expr}), {start + i}, 1)) - 1)"
        weight = 16 ** (length - 1 - i)
        terms.append(f"CAST({digit} AS BIGINT) * {weight}")
    return "(" + " + ".join(terms) + ")"


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """SimHash: per bit position, majority vote of token-hash bits.

    Plan: explode tokens (`_h` stays a native md5 Column expression so the
    SQL oracle reproduces it bit-for-bit), then two Arrow stages:

    1. map-side partial combine (``mapInPandas``, NO shuffle): each batch
       unpacks `_h` into an (n, bits) 0/1 matrix with one numpy shift and
       partial-sums the per-bit one-counts per doc — one tiny row per
       (doc, batch) with an ``array<long>`` vote vector;
    2. final merge (``applyInPandas`` after a shuffle of the tiny partials):
       sum the vote vectors, set bit b iff 2*ones_b > n_tokens.

    Exact integer arithmetic throughout, order-independent — hash-identical
    to the per-bit SQL majority vote. This replaces the round-2 single
    groupBy with 61 aggregate buffers + a 60-term when-chain, whose
    generated aggregate code cost ~10-16s of one-time Janino/JIT compile
    (the round-2 bench regression); the Arrow kernels compile nothing.
    Shuffle volume is one ~500-byte partial per doc per input batch —
    strictly less than the old map-side-combined agg rows.
    """
    import numpy as np
    import pandas as pd

    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    toks = toks.select(F.col(id_col), md5_prefix_long(F.col("tok")).alias("_h"))

    id_type = toks.schema[id_col].dataType.simpleString()
    shifts = np.arange(bits, dtype=np.int64)

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # a null doc id would factorize to code -1, and np.add.at(ones,
            # -1, ...) silently folds its votes into the LAST group's row —
            # drop null-id tokens before voting
            pdf = pdf[pdf[id_col].notna()]
            if len(pdf) == 0:
                continue
            h = pdf["_h"].to_numpy(dtype=np.int64)
            bitm = (h[:, None] >> shifts) & 1  # (n, bits) int64 0/1
            codes, uniq = pd.factorize(pdf[id_col])
            ones = np.zeros((len(uniq), bits), dtype=np.int64)
            np.add.at(ones, codes, bitm)
            cnt = np.bincount(codes, minlength=len(uniq)).astype(np.int64)
            yield pd.DataFrame(
                {id_col: uniq, "_n": cnt, "_v": list(ones)}
            )

    partials = toks.mapInPandas(
        partial, schema=f"`{id_col}` {id_type}, _n long, _v array<long>"
    )

    # merge partials: hash-repartition on the doc id (all partials of a doc
    # land in one partition), then ONE vectorized kernel per partition —
    # not one Python call per doc, so per-group overhead never dominates
    # even at billions of docs.
    weights = np.int64(1) << shifts

    def merge(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        codes, uniq = pd.factorize(pdf[id_col])
        g = len(uniq)
        ones = np.zeros((g, bits), dtype=np.int64)
        np.add.at(ones, codes, np.stack(pdf["_v"].to_numpy()))
        n = np.zeros(g, dtype=np.int64)
        np.add.at(n, codes, pdf["_n"].to_numpy(dtype=np.int64))
        sim = ((2 * ones > n[:, None]) * weights).sum(axis=1)
        yield pd.DataFrame({id_col: uniq, "simhash": sim})

    return partials.repartition(F.col(id_col)).mapInPandas(
        merge, schema=f"`{id_col}` {id_type}, simhash long"
    )


def hamming64(a, b):
    """Hamming distance between two long columns (native bit_count)."""
    return F.bit_count(a.bitwiseXOR(b))


def hamming_near_dup_pairs(
    df: DataFrame,
    code_col: str = "code",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs over a 64-bit code column (simhash / image
    phash) with Hamming distance <= ``max_hamming`` — EXACT recall by
    pigeonhole: the code splits into ``n_bands`` contiguous chunks, and a
    pair differing in <= max_hamming bits cannot touch every one of
    n_bands > max_hamming bands, so it collides on at least one intact
    band. Candidate generation is a (band, chunk) equi-join (no cross
    product); pair-dedup runs on bare ids before codes re-attach for the
    exact bit_count verify — pure native expressions, no Python.

    At 10^12 rows: candidates per band-bucket ~ n / 2^16 for 16-bit
    chunks; widen n_bands (smaller chunks) only when max_hamming demands
    it, since bucket occupancy grows 2^chunk_shrink-fold. Skewed buckets
    (constant code regions) split under AQE skew-join handling."""
    if n_bands <= max_hamming:
        raise ValueError(
            f"exact recall needs n_bands > max_hamming "
            f"(got {n_bands} bands for distance {max_hamming})"
        )
    if 64 % n_bands:
        raise ValueError("n_bands must divide 64")
    width = 64 // n_bands
    mask = (1 << width) - 1
    # the code table feeds the band explode (twice, via both join sides)
    # and both code re-attach joins — four executions of whatever subtree
    # produced the codes (for simhash input, four runs of the Arrow
    # bit-vote kernel; 32 parquet scans in the planted-corpus plan). Lazy:
    # 4x -> 1x upstream work; measured 0.71->0.57 / 1.36->1.13 s at sf0.1
    # on the two doc queries with bit-identical pairs (r06)
    codes = materialize(df.select(F.col(id_col), F.col(code_col)), eager=False)
    bands = codes.select(
        F.col(id_col).alias("id_a"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(code_col), b * width)
                .bitwiseAND(F.lit(mask)).alias("chunk"),
            )
            for b in range(n_bands)
        ])).alias("bc"),
    ).select("id_a", "bc.band", "bc.chunk")
    ca = codes.select(F.col(id_col).alias("id_a"), F.col(code_col).alias("_ca"))
    cb = codes.select(F.col(id_col).alias("id_b"), F.col(code_col).alias("_cb"))
    return (
        _bucket_pairs(bands, ["band", "chunk"], "id_a", "id_b", attach=(ca, cb))
        .select("id_a", "id_b", hamming64(F.col("_ca"), F.col("_cb")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
