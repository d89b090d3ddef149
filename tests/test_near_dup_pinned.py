"""Row pin of the near-duplicate and ANN operators over a seeded corpus.

One sha256 per operator over its sorted result rows. The document corpus
holds near-duplicate copies (first token dropped), exact duplicate texts
(they collide in every band, so the candidate join hits each pair many
times) and docs shorter than a shingle. The code corpus holds SimHash codes
of those docs and image pHashes of originals, lossy re-encodes and exact
copies. The vector corpus is small integers (exact dot products) with
exact duplicates and scaled copies, so cosines tie and a pair collides in
every LSH table and inverted list. A refactor of these operators must leave
every digest unchanged.
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from activity_files_spark.operators.dedup import (
    hamming_near_dup_pairs,
    lsh_candidate_pairs,
    minhash_signature,
    near_dup_pairs,
    shingles,
    simhash64,
)
from activity_files_spark.operators.similarity import (
    cosine_dup_pairs_lsh,
    cosine_topk,
    cosine_topk_kernel,
    ivf_topk,
    lsh_topk,
)

PINNED = {
    "near_dup_pairs":
        "3768f47a3e373667382d17cd2be29e746fe2421c73ec746f7329eee9f23d7e83",
    "lsh_candidate_pairs":
        "9597a4f9a084fa0c46c345a480e0b8512ed0ee2ca0e9da45d86afe5e609a7f45",
    "hamming_simhash":
        "7b64be469db33df4066eb87d53982f9bcb0e4dc7f647f45c4cc96b4232f44be0",
    "hamming_phash":
        "2f5416675e4704c8ac943749d2442b0bd03703c0b390fb6071aec14ce26a440c",
    "cosine_dup_pairs_lsh":
        "38f54643a697a6976f3e72946e1814a00a49990ccc86cc44c1f00688fbe0598d",
    "lsh_topk":
        "c8ab6c9b93be555c9130f722a11e1df281e408b7f3ed65938892d508109342e1",
    "ivf_topk":
        "73790d7e080e2767f68c4ab1c844365f67d78ccd5553919fd03551876d20addd",
    "cosine_topk":
        "c8ab6c9b93be555c9130f722a11e1df281e408b7f3ed65938892d508109342e1",
    "cosine_topk_kernel":
        "c67009c1078e7528ec0d9efddc79d62a6a5ec20ff53948cb2be702ce408054ad",
}

DIM = 16
WORDS = ("trail ridge river bank summit pass lake forest meadow canyon creek "
         "valley saddle col glacier moraine scree spur gully crest").split()


def _digest(df) -> str:
    rows = sorted(tuple(r) for r in df.collect())
    h = hashlib.sha256(repr(df.columns).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(17)
    rows = []
    for i in range(40):
        n = int(rng.integers(6, 16))
        rows.append((i, " ".join(rng.choice(WORDS, n))))
    rows += [(100 + i, t.split(" ", 1)[1]) for i, t in rows[:20]]  # near dups
    rows += [(200 + i, t) for i, t in rows[:6]]  # exact duplicate texts
    rows += [(300, "summit pass"), (301, "summit pass"), (302, "lake")]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def phash_codes(spark):
    from activity_files_spark.codecs.image import decode, encode, phash64
    from activity_files_spark.data.images import pixels_for

    rows = []
    for i in range(10):
        px = pixels_for(i, 32, 32)
        rows.append((i, phash64(px)))
        rows.append((i + 1000, phash64(decode(encode(px, "jpeg"), "jpeg"))))
        if i % 3 == 0:
            rows.append((i + 2000, phash64(px)))
    return spark.createDataFrame(
        [(i, c if c < 2**63 else c - 2**64) for i, c in rows],
        "doc_id long, code long",
    )


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(23)
    base = rng.integers(-4, 5, (60, DIM))
    base[base.sum(axis=1) == 0, 0] = 5  # no zero vector
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(500 + i, [float(x) for x in base[i]]) for i in range(0, 60, 5)]
    rows += [(600 + i, [2.0 * float(x) for x in base[i]]) for i in range(0, 60, 7)]
    rows += [(700 + i, [float(x) + (d == i % DIM) for d, x in enumerate(base[i])])
             for i in range(0, 60, 4)]
    return spark.createDataFrame(rows, "item_id long, vec array<double>")


@pytest.fixture(scope="module")
def queries(vectors):
    return vectors.filter(F.col("item_id") < 12).select(
        F.col("item_id").alias("query_id"), "vec"
    )


def _results(name, docs, phash_codes, vectors, queries):
    if name == "near_dup_pairs":
        return near_dup_pairs(docs, threshold=0.3, n=3, bands=8, rows_per_band=2)
    if name == "lsh_candidate_pairs":
        sig = minhash_signature(shingles(docs, n=3), k=16)
        return lsh_candidate_pairs(sig, bands=8, rows_per_band=2)
    if name == "hamming_simhash":
        return hamming_near_dup_pairs(simhash64(docs), code_col="simhash",
                                      max_hamming=6, n_bands=8)
    if name == "hamming_phash":
        return hamming_near_dup_pairs(phash_codes, max_hamming=3, n_bands=4)
    if name == "cosine_dup_pairs_lsh":
        return cosine_dup_pairs_lsh(vectors, threshold=0.9, dim=DIM,
                                    n_planes=6, n_tables=8)
    if name == "lsh_topk":
        return lsh_topk(queries, vectors, k=4, dim=DIM, n_planes=3, n_tables=6,
                        exclude_same_id=True)
    if name == "ivf_topk":
        return ivf_topk(queries, vectors, k=4, dim=DIM, n_centroids=6, n_probe=2,
                        exclude_same_id=True)
    if name == "cosine_topk":
        return cosine_topk(queries, vectors, k=4, exclude_same_id=True)
    out = cosine_topk_kernel(queries, vectors, k=4, exclude_same_id=True)
    return out.select("query_id", "item_id", F.round("cos", 12).alias("cos"), "rank")


@pytest.mark.parametrize("name", list(PINNED))
def test_near_dup_rows_are_pinned(name, docs, phash_codes, vectors, queries):
    assert _digest(_results(name, docs, phash_codes, vectors, queries)) == PINNED[name]


def test_corpus_has_ties_and_repeated_bucket_hits(vectors, queries):
    """The pins cover what a candidate join can get wrong: pairs that
    collide in several tables, and top-k ranks decided by the id order."""
    from activity_files_spark.operators.similarity import lsh_signature

    sig = lsh_signature(vectors, "vec", DIM, n_planes=6, n_tables=8)
    a = sig.select(F.col("item_id").alias("a"), "tbl", "bucket")
    b = sig.select(F.col("item_id").alias("b"), "tbl", "bucket")
    hits = a.join(b, ["tbl", "bucket"]).filter("a < b").groupBy("a", "b").count()
    assert hits.filter(F.col("count") > 1).count() > 0
    top = cosine_topk(queries, vectors, k=4, exclude_same_id=True)
    tied = top.groupBy("query_id", "cos").count().filter(F.col("count") > 1)
    assert tied.count() > 0
