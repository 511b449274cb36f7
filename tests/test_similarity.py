"""Similarity search: exact top-k semantics + LSH bucketing determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as Fn

from ksql_spark.operators.similarity import (
    add_lsh_buckets,
    cosine_topk,
    hyperplane_weight,
    hyperplanes,
    lsh_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_cosine_topk_self_first(spark, emb):
    q = list(emb.filter(Fn.col("vec_id") == 3).first()["embedding"])
    top = cosine_topk(emb, q, k=5).collect()
    assert top[0]["vec_id"] == 3
    assert top[0]["cosine_sim"] == pytest.approx(1.0)
    sims = [r["cosine_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_recall_at_1(spark, emb):
    # the query vector itself must always be found via its own bucket
    q = list(emb.filter(Fn.col("vec_id") == 7).first()["embedding"])
    top = lsh_topk(emb, q, k=3, n_planes=8).collect()
    assert top[0]["vec_id"] == 7
    assert top[0]["cosine_sim"] == pytest.approx(1.0)


def test_hyperplanes_deterministic():
    assert hyperplane_weight(0, 0) == hyperplane_weight(0, 0)
    p1 = hyperplanes(4, 8)
    p2 = hyperplanes(4, 8)
    assert p1 == p2
    assert all(-1.0 <= w < 1.0 for row in p1 for w in row)


def test_bucket_assignment_stable(spark, emb):
    b1 = add_lsh_buckets(emb, n_planes=6).select("vec_id", "lsh_bucket")
    b2 = add_lsh_buckets(emb, n_planes=6).select("vec_id", "lsh_bucket")
    assert sorted(map(tuple, b1.collect())) == sorted(map(tuple, b2.collect()))
    n_buckets = b1.select("lsh_bucket").distinct().count()
    assert 1 < n_buckets <= 64


def test_band_values_arrow_matches_hof(spark):
    """The numpy plane projection packs, per band, the same sign bits as the
    built-in ``hyperplane_bucket`` over that band's planes, row for row; the
    near-dup operator built on it finds every scaled copy."""
    import math

    from ksql_spark.operators.dedup import embedding_neardup_pairs_lsh
    from ksql_spark.operators.similarity import band_values_arrow, hyperplane_bucket

    rows = [(i, [math.sin(i * 3.7 + d) for d in range(16)]) for i in range(30)]
    rows += [(500 + i, [x * 1.0001 for x in rows[i][1]]) for i in range(0, 30, 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bands, r = 8, 6
    planes = hyperplanes(bands * r, 16)
    got = band_values_arrow(df, "vec_id", "embedding", planes, bands, r).collect()
    per_band = [
        hyperplane_bucket(Fn.col("embedding"), planes[b * r : (b + 1) * r]) for b in range(bands)
    ]
    ref = df.select("vec_id", Fn.array(*per_band)).collect()
    assert sorted((x[0], list(x[1])) for x in got) == sorted((x[0], list(x[1])) for x in ref)
    pairs = embedding_neardup_pairs_lsh(df, threshold=0.99, n_dims=16).collect()
    assert len(pairs) >= 5  # the scaled copies (cosine == 1.0) are all found


def test_lsh_topk_finds_true_near_neighbors(spark):
    """Angular LSH's guarantee is recall on genuinely CLOSE neighbors (the
    collision probability 1 - theta/pi is only near 1 at small angles; on a
    near-orthogonal corpus like the raw testdata, cos ~ 0.4, bucket overlap
    is essentially random and recall@10 is meaningless).  Plant a true
    near-duplicate per query vector and require the approximate search to
    retrieve it at rank 1 for every query."""
    import pyspark.sql.functions as Fn

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", Fn.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    plants = emb.filter(Fn.col("vec_id").isin(0, 7, 13)).select(
        (Fn.col("vec_id") + 1000000).alias("vec_id"),
        Fn.transform(
            "embedding", lambda x, i: x + ((i % 5) - 2).cast("double") * Fn.lit(0.004)
        ).alias("embedding"),
    )
    corpus = emb.unionByName(plants)
    for qid in (0, 7, 13):
        query = list(emb.filter(Fn.col("vec_id") == qid).first()["embedding"])
        hits = lsh_topk(
            corpus.filter(Fn.col("vec_id") != qid), query, k=10, n_planes=8
        ).collect()
        assert hits[0]["vec_id"] == qid + 1000000  # the planted twin, rank 1
        assert hits[0]["cosine_sim"] > 0.99


def test_lsh_topk_batch_matches_single_query(spark, emb):
    """Batched ANN over a query table == the single-query operator run once
    per query (same buckets, same probes, same re-rank)."""
    from ksql_spark.operators.similarity import lsh_topk_batch

    corpus = emb.filter(Fn.col("vec_id") % 10 != 0)
    queries = emb.filter(Fn.col("vec_id") % 10 == 0)
    batch = lsh_topk_batch(corpus, queries, k=5, n_planes=8, n_dims=64)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cosine_sim"]))
    assert by_q, "no batch results"
    for qrow in queries.collect():
        qid = qrow["vec_id"]
        single = lsh_topk(corpus, list(qrow["embedding"]), k=5, n_planes=8).collect()
        want = [(i, r["vec_id"], r["cosine_sim"]) for i, r in enumerate(single)]
        assert sorted(by_q.get(qid, [])) == want


def test_lsh_topk_batch_finds_planted_neighbors(spark):
    """Every query retrieves its planted ~0.999-cosine twin at rank 1."""
    from ksql_spark.operators.similarity import lsh_topk_batch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", Fn.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qids = [0, 7, 13, 21]
    plants = emb.filter(Fn.col("vec_id").isin(qids)).select(
        (Fn.col("vec_id") + 1000000).alias("vec_id"),
        Fn.transform(
            "embedding", lambda x, i: x + ((i % 5) - 2).cast("double") * Fn.lit(0.004)
        ).alias("embedding"),
    )
    corpus = emb.filter(~Fn.col("vec_id").isin(qids)).unionByName(plants)
    queries = emb.filter(Fn.col("vec_id").isin(qids))
    out = lsh_topk_batch(corpus, queries, k=10, n_planes=8, n_dims=64).collect()
    rank1 = {r["query_id"]: r for r in out if r["rank"] == 0}
    for qid in qids:
        assert rank1[qid]["vec_id"] == qid + 1000000
        assert rank1[qid]["cosine_sim"] > 0.99


def test_prebucketed_serving_path_prunes_partitions(spark, emb, tmp_path):
    """The ANN serving path (VERDICT r3 #7): a corpus written partitionBy
    (lsh_bucket) + lsh_topk(bucket_col=...) must (a) push the probe set into
    PartitionFilters so only probed buckets' files are scanned, and (b)
    return exactly the recompute-path result."""
    corpus = emb.filter(Fn.col("vec_id") != 0)
    q = list(emb.filter(Fn.col("vec_id") == 0).first()["embedding"])
    path = str(tmp_path / "bucketed")
    add_lsh_buckets(corpus, n_planes=8, n_dims=len(q)).write.partitionBy(
        "lsh_bucket"
    ).parquet(path)
    served = spark.read.parquet(path)

    got = lsh_topk(served, q, k=5, n_planes=8, bucket_col="lsh_bucket")
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), f"no partition pruning in plan:\n{plan[:2000]}"
    assert "lsh_bucket" in m.group(1)

    want = lsh_topk(corpus, q, k=5, n_planes=8)  # recompute path
    assert sorted(map(tuple, got.select("vec_id", "cosine_sim").collect())) == sorted(
        map(tuple, want.select("vec_id", "cosine_sim").collect())
    )


def test_lsh_topk_batch_prebucketed_corpus_matches(spark, emb):
    """lsh_topk_batch with a pre-bucketed corpus relation skips the bucket
    projection and returns the identical result."""
    from ksql_spark.operators.similarity import lsh_topk_batch

    corpus = emb.filter(Fn.col("vec_id") % 10 != 0)
    queries = emb.filter(Fn.col("vec_id") % 10 == 0)
    n_dims = len(emb.select("embedding").first()[0])
    bucketed = add_lsh_buckets(corpus, n_planes=8, n_dims=n_dims)
    a = lsh_topk_batch(
        bucketed, queries, k=5, n_planes=8, n_dims=n_dims, corpus_bucket_col="lsh_bucket"
    )
    b = lsh_topk_batch(corpus, queries, k=5, n_planes=8, n_dims=n_dims)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
