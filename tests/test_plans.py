"""Physical-plan-shape regression tests (SURVEY.md §4).

Correctness tests prove the small-scale answer; these prove the plan would
survive 100x data.  Each test pins a plan property that, if silently lost
(an optimizer regression, a refactor that breaks pushdown or broadcasts),
turns a scale-safe operator into a scale-killer long before any result
changes.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as Fn


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf(spark, tmp_path_factory):
    """Small parquet fixtures on disk so scan-level properties are real."""
    root = tmp_path_factory.mktemp("plans")
    spark.range(10_000).select(
        Fn.col("id"),
        (Fn.col("id") % 100).alias("k"),
        (Fn.col("id") * 2.5).alias("v"),
        Fn.concat(Fn.lit("user"), (Fn.col("id") % 50).cast("string")).alias("name"),
    ).write.parquet(str(root / "fact"))
    spark.range(50).select(
        Fn.col("id").alias("k"),
        Fn.concat(Fn.lit("dim"), Fn.col("id").cast("string")).alias("label"),
    ).write.parquet(str(root / "dim"))
    return root


def test_filter_and_projection_reach_the_scan(spark, sf):
    df = (
        spark.read.parquet(str(sf / "fact"))
        .filter(Fn.col("k") == 7)
        .select("id", "v")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,7)]" in plan
    # column pruning: the scan must not read the unused 'name' column
    assert "name" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_small_dimension_join_broadcasts(spark, sf):
    fact = spark.read.parquet(str(sf / "fact"))
    dim = spark.read.parquet(str(sf / "dim"))
    plan = plan_of(fact.join(dim, "k"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_topk_avoids_full_sort(spark, sf):
    from ksql_spark.operators.similarity import cosine_topk

    emb = spark.range(1000).select(
        Fn.col("id").alias("vec_id"),
        Fn.array(*[Fn.rand(seed=i) for i in range(8)]).alias("embedding"),
    )
    plan = plan_of(cosine_topk(emb, [0.1] * 8, k=5))
    assert "TakeOrderedAndProject" in plan  # top-k reduce, not a global Sort


def test_lsh_operators_have_no_cartesian_plan(spark, sf):
    from ksql_spark.operators.dedup import (
        embedding_neardup_pairs_lsh,
        minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        simhash_pairs_blocked,
    )

    docs = spark.range(200).select(
        Fn.col("id").alias("doc_id"),
        Fn.concat(Fn.lit("some words repeated here number "), Fn.col("id").cast("string")).alias(
            "text"
        ),
    )
    emb = spark.range(200).select(
        Fn.col("id").alias("vec_id"),
        Fn.array(*[(Fn.col("id") * (i + 1) % 97).cast("double") for i in range(8)]).alias(
            "embedding"
        ),
    )
    old, new = docs.filter(Fn.col("doc_id") < 150), docs.filter(Fn.col("doc_id") >= 150)
    for df in (
        minhash_lsh_pairs(docs, n_hashes=16, bands=8),
        minhash_lsh_pairs_incremental(
            new, minhash_index(old, n_hashes=16, bands=8), old, n_hashes=16, bands=8
        ),
        simhash_pairs_blocked(docs),
        embedding_neardup_pairs_lsh(emb, n_dims=8),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_streaming_changelog_uses_hash_aggregate(spark, sf):
    # fixed-width aggregate buffers must stay in HashAggregate (SortAggregate
    # map-side sorts anti-scale; see BENCH/BASELINE.md plan notes)
    fact = spark.read.parquet(str(sf / "fact"))
    plan = plan_of(
        fact.groupBy("k").agg(Fn.count("id").alias("n"), Fn.sum("v").alias("s"))
    )
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_exact_dedup_is_single_shuffle(spark, sf):
    from ksql_spark.operators.dedup import exact_dedup

    docs = spark.range(500).select(
        Fn.col("id").alias("doc_id"), Fn.concat(Fn.lit("t"), Fn.col("id") % 100).alias("text")
    )
    plan = plan_of(exact_dedup(docs))
    assert plan.count("Exchange") <= 2  # partial agg + final agg exchange only


def test_bucketed_join_has_no_shuffle(spark, sf, tmp_path):
    """Two relations bucketed on the join key with equal bucket counts must
    join with zero Exchange operators — the co-located-join guarantee that
    makes fact-fact joins viable at 100 TB."""
    from ksql_spark import Catalog, TABLE

    cat = Catalog(spark, root=str(tmp_path / "cat"))
    fact = spark.read.parquet(str(sf / "fact"))
    dim_big = spark.range(5000).select(
        Fn.col("id").alias("k2"), (Fn.col("id") % 7).alias("grp")
    )
    cat.write_bucketed("f", fact.withColumnRenamed("k", "bk"), "bk", 8, ref=TABLE)
    cat.write_bucketed("d", dim_big.withColumnRenamed("k2", "bk"), "bk", 8, ref=TABLE)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        joined = cat.read("f").join(cat.read("d"), "bk")
        plan = plan_of(joined)
        assert "Exchange" not in plan  # bucket co-location: shuffle-free join
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_stream_table_join_broadcasts_dimension(spark, sf, tmp_path):
    """Streaming enrich (stream-table join) must broadcast the dimension —
    a shuffled stream-table join at 100 TB would reshuffle the firehose on
    every micro-batch."""
    from ksql_spark import Catalog, F, STREAM, Schema, Select, TABLE, compile_select

    events = spark.range(1000).select(
        Fn.col("id").alias("event_id"),
        (Fn.lit("2026-01-01 00:00:00").cast("timestamp")
         + Fn.col("id") * Fn.expr("INTERVAL 1 SECOND")).alias("ts"),
        (Fn.col("id") % 50).alias("k"),
    )
    events.write.parquet(str(tmp_path / "ev"))
    spark.range(50).select(Fn.col("id").alias("k"), Fn.lit("x").alias("label")).write.parquet(
        str(tmp_path / "dim")
    )
    cat = Catalog(spark, root=str(tmp_path / "cat"))
    cat.register_parquet("ev", str(tmp_path / "ev"), ref=STREAM, event_time_col="ts")
    cat.register_parquet("dim", str(tmp_path / "dim"), ref=TABLE)
    q = (
        Select(F("e.event_id").Alias("event_id"), F("d.label").Alias("label"))
        .From(Schema("ev", STREAM).As("e"))
        .Join(Schema("dim", TABLE).As("d"), F("e.k").Equal(F("d.k")))
        .EmitChanges()
    )
    df = compile_select(q, spark=spark, catalog=cat, streaming=True)
    assert df.isStreaming
    # streaming plans can't be optimized without start(); the analyzed plan
    # must carry the broadcast hint on the dimension side
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in plan.lower()


def test_topk_twolevel_adaptive(spark, sf, monkeypatch):
    """Small inputs keep the single-agg plan (one shuffle); forcing the
    threshold to 0 engages the salted two-level rewrite (two shuffles,
    hot-key-safe) — the plan you'd want at 100x."""
    from ksql_spark import F, STREAM, Schema, Select, TopK, compile_select
    from ksql_spark.operators import compile as compile_mod

    fact = spark.read.parquet(str(sf / "fact"))
    q = (
        Select(F("k"), TopK(F("v"), 3).Alias("tv"))
        .From(Schema("fact", STREAM))
        .GroupBy(F("k"))
        .EmitChanges()
    )
    small = plan_of(compile_select(q, sources={"fact": fact}))
    assert "__salt" not in small  # tiny input: single-agg plan, one shuffle

    monkeypatch.setattr(compile_mod, "TOPK_TWOLEVEL_MIN_BYTES", 0)
    forced = plan_of(compile_select(q, sources={"fact": fact}))
    assert "__salt" in forced  # salted rewrite engaged
    # and the rewrite's result is still exact on a skewed input
    skew = spark.range(20_000).select(
        Fn.lit(1).alias("k"), (Fn.col("id") % 977).cast("double").alias("v")
    )
    got = compile_select(q, sources={"fact": skew}).collect()
    assert got[0]["tv"] == [976.0, 976.0, 976.0]


def test_topk_twolevel_value_concentrated_hot_key(spark, sf, monkeypatch):
    """VERDICT r3 #1: a group that is 10^5 copies of ONE value must not land
    in a single salt bucket's collect_list.  The rewrite pre-aggregates
    (keys, value) -> count (plan shows the __tc count before any collect),
    so per-task agg state is one row per distinct value — bounded for
    value-CONCENTRATED hot keys, not just value-diverse ones — and the
    duplicate expansion from exact counts keeps TOPK exact."""
    from ksql_spark import F, STREAM, Schema, Select, TopK, TopKDistinct, compile_select
    from ksql_spark.operators import compile as compile_mod

    hot = spark.range(100_000).select(
        (Fn.col("id") % 2).alias("k"),
        Fn.when(Fn.col("id") % 2 == 0, Fn.lit(7.0))
        .otherwise((Fn.col("id") % 50).cast("double"))
        .alias("v"),
    )
    q = (
        Select(F("k"), TopK(F("v"), 3).Alias("tv"))
        .From(Schema("fact", STREAM))
        .GroupBy(F("k"))
        .EmitChanges()
    )
    monkeypatch.setattr(compile_mod, "TOPK_TWOLEVEL_MIN_BYTES", 0)
    df = compile_select(q, sources={"fact": hot})
    plan = plan_of(df)
    # level 0 pre-aggregation (count per distinct value) precedes the
    # collect: the hot VALUE collapses to one (value, count) row per task
    assert "__tc" in plan and "__salt" in plan
    rows = {r["k"]: list(r["tv"]) for r in df.collect()}
    assert rows[0] == [7.0, 7.0, 7.0]  # one value, expanded from count
    assert rows[1] == [49.0, 49.0, 49.0]

    qd = (
        Select(F("k"), TopKDistinct(F("v"), 3).Alias("tv"))
        .From(Schema("fact", STREAM))
        .GroupBy(F("k"))
        .EmitChanges()
    )
    rowsd = {
        r["k"]: list(r["tv"])
        for r in compile_select(qd, sources={"fact": hot}).collect()
    }
    assert rowsd[0] == [7.0]
    assert rowsd[1] == [49.0, 47.0, 45.0]  # odd ids -> odd residues


@pytest.mark.parametrize(
    "mode", ["all", "first", "skip_to_next", "skip_past_last", "match_sequence"]
)
def test_batch_cep_pattern_is_one_shuffle_and_one_kernel_pass(spark, mode):
    """Batch match_pattern, in every mode and with every leg kind, and
    cep.match_sequence with absent and optional legs, plan one hash
    exchange on the key and one MapInPandas — no join, no window."""
    from ksql_spark.operators.cep import match_sequence
    from ksql_spark.operators.cep_nfa import match_pattern

    ev = spark.range(2000).select(
        Fn.col("id").alias("event_id"),
        (Fn.col("id") % 50).alias("user_id"),
        (Fn.col("id") % 3).alias("kind"),
        Fn.timestamp_seconds(Fn.col("id") * 10).alias("ts"),
    )
    legs = [
        ("a", Fn.col("kind") == 0, 1, 2),
        ("o", Fn.col("kind") == 1, 0, 1),
        ("n", Fn.col("kind") == 2, 0, 0),
        ("b", Fn.col("kind") == 2, 1, 1),
    ]
    if mode == "match_sequence":
        df = match_sequence(
            ev, [("a", Fn.col("kind") == 0), ("b", Fn.col("kind") == 2)], within_seconds=300,
            absent=[("n", Fn.col("kind") == 1)], optional=[("o", Fn.col("kind") == 1)],
        )
    else:
        df = match_pattern(ev, legs, within_seconds=300, mode=mode)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]  # the operator tree, one line per node
    assert tree.count("Exchange") == 1
    assert plan.count("hashpartitioning(__k") == 1
    assert tree.count("MapInPandas") == 1
    assert "Join" not in tree
    assert "Window" not in tree


def test_ann_batch_plan_shuffles_are_narrow(spark, sf):
    """The batched-ANN probe join must not carry embedding payloads: the
    bucket-join side projects ids and buckets only."""
    from ksql_spark.operators.similarity import lsh_topk_batch

    emb = spark.range(500).select(
        Fn.col("id").alias("vec_id"),
        Fn.array(*[Fn.rand(seed=i) for i in range(8)]).alias("embedding"),
    )
    corpus = emb.filter(Fn.col("vec_id") % 10 != 0)
    queries = emb.filter(Fn.col("vec_id") % 10 == 0)
    plan = plan_of(lsh_topk_batch(corpus, queries, k=5, n_planes=6, n_dims=8))
    assert "CartesianProduct" not in plan
    # rerank is a window top-k, not a global sort+limit
    assert "Window" in plan


def test_chunking_plan_no_exchange(spark, sf):
    from ksql_spark.operators.chunking import chunk_documents

    docs = spark.range(100).select(
        Fn.col("id").alias("doc_id"), Fn.lit("alpha beta gamma delta").alias("text")
    )
    assert "Exchange" not in plan_of(chunk_documents(docs, chunk_tokens=3, overlap=1))


def test_topk_twolevel_keeps_all_null_groups(spark, sf, monkeypatch):
    """A group whose values are all NULL must survive the two-level rewrite
    with an empty array — exactly what the single-agg lowering emits
    (collect_list skips nulls but the group row remains)."""
    from ksql_spark import F, STREAM, Schema, Select, TopK, compile_select
    from ksql_spark.operators import compile as compile_mod

    data = spark.createDataFrame(
        [(1, 5.0), (1, None), (2, None), (2, None)], "k bigint, v double"
    )
    q = (
        Select(F("k"), TopK(F("v"), 3).Alias("tv"))
        .From(Schema("t", STREAM))
        .GroupBy(F("k"))
        .EmitChanges()
    )
    with monkeypatch.context() as m:
        m.setattr(compile_mod, "TOPK_TWOLEVEL_MIN_BYTES", 0)
        two = {r["k"]: list(r["tv"]) for r in compile_select(q, sources={"t": data}).collect()}
    single = {r["k"]: list(r["tv"]) for r in compile_select(q, sources={"t": data}).collect()}
    assert two == single == {1: [5.0], 2: []}
