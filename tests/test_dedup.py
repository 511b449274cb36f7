"""Dedup operators: scale paths must equal their brute-force oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as Fn

from ksql_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs_blocked,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
        (3, "The quick brown fox, jumps over the lazy dog today!"),  # normalizes to 1
        (4, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (5, "completely different content about spark streaming engines"),
        (6, "another unrelated document mentioning watermarks and state"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalized(spark, docs):
    kept = {r.doc_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert len(kept) == 4  # 1,2,3 collapse
    assert kept[1] == 3


def test_minhash_lsh_equals_bruteforce(spark, docs):
    lsh = minhash_lsh_pairs(docs, n_hashes=32, bands=16, shingle_n=3, threshold=0.5)
    bf = ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.5)
    assert sorted(map(tuple, lsh.collect())) == sorted(map(tuple, bf.collect()))
    # the exact-dup triple and the near-dup must be found
    found = {(r.id_l, r.id_r) for r in lsh.collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= found
    assert any(4 in p for p in found)


def test_minhash_signature_properties(spark, docs):
    sig = docs.select("doc_id", minhash_signature(Fn.col("text"), 16).alias("sig"))
    rows = {r.doc_id: r.sig for r in sig.collect()}
    assert all(len(s) == 16 for s in rows.values())
    assert rows[1] == rows[2] == rows[3]  # identical after normalization
    assert rows[1] != rows[5]


def test_simhash_blocked_equals_bruteforce(spark, docs):
    sh = dict(docs.select("doc_id", simhash(Fn.col("text"), 32)).collect())
    dist = {(a, b): bin(sh[a] ^ sh[b]).count("1") for a in sh for b in sh if a < b}
    want = sorted((a, b, d) for (a, b), d in dist.items() if d <= 6)
    got = sorted(map(tuple, simhash_pairs_blocked(docs, bits=32, max_hamming=6).collect()))
    assert {(1, 2, 0), (1, 3, 0), (2, 3, 0)} <= set(want)
    assert got == want


def test_simhash_identical_docs_zero_distance(spark, docs):
    s = docs.select("doc_id", simhash(Fn.col("text"), 32).alias("sh"))
    rows = {r.doc_id: r.sh for r in s.collect()}
    assert rows[1] == rows[2] == rows[3]


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),  # near dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_neardup_pairs(df, threshold=0.95).collect()
    assert [(r.id_l, r.id_r) for r in pairs] == [(1, 2)]


def test_embedding_neardup_lsh_equals_bruteforce(spark):
    # deterministic corpus with planted near-dups (md5-free: fixed seeds)
    import math

    def vec(seed, dim=16):
        return [math.sin(seed * 7.91 + d * 1.37) for d in range(dim)]

    rows = [(i, vec(i)) for i in range(40)]
    # plants: tiny per-dim perturbation of every 8th vector
    rows += [
        (1000 + i, [x + ((d % 5) - 2) * 0.004 for d, x in enumerate(vec(i))])
        for i in range(0, 40, 8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from ksql_spark.operators.dedup import embedding_neardup_pairs_lsh

    bf = embedding_neardup_pairs(df, threshold=0.99)
    lsh = embedding_neardup_pairs_lsh(df, threshold=0.99, bands=8, rows_per_band=6, n_dims=16)
    a = sorted(map(tuple, bf.collect()))
    b = sorted(map(tuple, lsh.collect()))
    assert a == b
    # all 5 plants found (plus natural sin-periodicity near-dups), not vacuous
    planted = {(i, 1000 + i) for i in range(0, 40, 8)}
    assert planted <= {(x[0], x[1]) for x in a}


def test_cleanup_persisted_releases_blocks(spark, docs):
    """Operators register persisted signature tables; cleanup_persisted
    releases them instead of leaking MEMORY_AND_DISK blocks for the session
    lifetime (ADVICE r2).  Operators never flush the registry themselves
    (ADVICE r3: flush-on-entry yanked caches out from under still-held lazy
    results), so two invocations accumulate until the OWNER cleans up."""
    from ksql_spark.operators import dedup

    dedup.cleanup_persisted()
    out = dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4, threshold=0.5)
    out.count()
    assert len(dedup._PERSISTED) > 0
    n_first = len(dedup._PERSISTED)
    # a second invocation must NOT unpersist the first call's frames
    dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4, threshold=0.5).count()
    assert len(dedup._PERSISTED) == 2 * n_first
    released = dedup.cleanup_persisted()
    assert released == 2 * n_first and not dedup._PERSISTED


def test_incremental_dedup_equals_full_recompute_subset(spark, docs):
    """minhash_lsh_pairs_incremental (delta vs maintained index) must be
    bit-equal to the full-recompute pairs restricted to pairs touching the
    delta — the invariant that makes daily-increment dedup trustworthy."""
    from ksql_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    old = docs.filter(Fn.col("doc_id") <= 3)  # 1,2,3: the indexed corpus
    new = docs.filter(Fn.col("doc_id") > 3)   # 4,5,6: the increment (4 ~ 1/2/3)
    idx = minhash_index(old, n_hashes=16, bands=8)
    inc = minhash_lsh_pairs_incremental(
        new, idx, old, n_hashes=16, bands=8, threshold=0.5
    )
    full = minhash_lsh_pairs(docs, n_hashes=16, bands=8, threshold=0.5)
    want = sorted(
        map(tuple, full.filter((Fn.col("id_l") > 3) | (Fn.col("id_r") > 3)).collect())
    )
    got = sorted(map(tuple, inc.collect()))
    assert want, "fixture is vacuous — no pairs touch the increment"
    assert got == want
    # and appending the delta's index rows absorbs the batch: schema matches
    delta_idx = minhash_index(new, n_hashes=16, bands=8)
    assert delta_idx.columns == idx.columns


def test_incremental_dedup_includes_delta_self_pairs(spark):
    """Two near-dup docs arriving in the SAME increment must pair with each
    other, not just with the index."""
    from ksql_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    old = spark.createDataFrame(
        [(1, "stable corpus document about watermarks and checkpoints")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "fresh duplicate pair about streaming joins and state stores"),
            (11, "fresh duplicate pair about streaming joins and state stores"),
        ],
        "doc_id long, text string",
    )
    idx = minhash_index(old, n_hashes=16, bands=8)
    got = minhash_lsh_pairs_incremental(new, idx, old, n_hashes=16, bands=8, threshold=0.8)
    rows = [(r["id_l"], r["id_r"]) for r in got.collect()]
    assert rows == [(10, 11)]
