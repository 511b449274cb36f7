"""Aggregate-function lowering: ksqlDB parity semantics.

The load-bearing invariants (SURVEY.md §7 'what's hard'):
  * COLLECT_LIST stable ordering (never raw shuffle order),
  * LATEST/EARLIEST_BY_OFFSET deterministic offset := struct(ts, turn_idx),
  * TOPK exact (no approx), HISTOGRAM capped with deterministic tie-break.
"""

from __future__ import annotations

import datetime

import pytest

from ksql_spark import (
    STREAM,
    AnalysisError,
    CollectList,
    CollectSet,
    Count,
    EarliestByOffset,
    F,
    Histogram,
    LatestByOffset,
    Schema,
    Select,
    Sum,
    TopK,
    TopKDistinct,
    compile_select,
)


def ts(m, s=0):
    return datetime.datetime(2026, 1, 1, 0, m, s)


@pytest.fixture(scope="module")
def turns(spark):
    rows = [
        ("c1", 0, "hello", ts(0)),
        ("c1", 1, "world", ts(1)),
        ("c1", 2, "again", ts(2)),
        ("c2", 0, "solo", ts(0, 30)),
        ("c2", 1, "duo", ts(0, 45)),
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, ts timestamp")


def agg(q, df):
    return {r[0]: tuple(r)[1:] for r in compile_select(q, sources={"t": df}).collect()}


def test_collect_list_stable_turn_ordering(spark, turns):
    # shuffle the input order; result must still be turn_idx-ordered
    shuffled = turns.orderBy(F("text").to_column())
    q = (
        Select(
            F("conv_id"),
            CollectList(F("text"), order_by=[F("turn_idx")]).Alias("texts"),
        )
        .From(Schema("t", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    got = agg(q, shuffled.repartition(4))
    assert got["c1"] == (["hello", "world", "again"],)
    assert got["c2"] == (["solo", "duo"],)


def test_collect_list_default_sorts_by_value(spark, turns):
    q = (
        Select(F("conv_id"), CollectList(F("text")).Alias("texts"))
        .From(Schema("t", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    got = agg(q, turns)
    assert got["c1"] == (["again", "hello", "world"],)


def test_collect_set_sorted_distinct(spark):
    df = spark.createDataFrame(
        [("c1", "x"), ("c1", "y"), ("c1", "x"), ("c2", "z")], "conv_id string, v string"
    )
    q = (
        Select(F("conv_id"), CollectSet(F("v")).Alias("vs"))
        .From(Schema("t", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    got = agg(q, df)
    assert got["c1"] == (["x", "y"],)


def test_latest_earliest_by_offset(spark, turns):
    q = (
        Select(
            F("conv_id"),
            LatestByOffset(F("text"), order_by=[F("ts"), F("turn_idx")]).Alias("last"),
            EarliestByOffset(F("text"), order_by=[F("ts"), F("turn_idx")]).Alias("first"),
        )
        .From(Schema("t", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    got = agg(q, turns)
    assert got["c1"] == ("again", "hello")
    assert got["c2"] == ("duo", "solo")


def test_latest_by_offset_tiebreak_on_turn_idx(spark):
    # equal ts -> turn_idx breaks the tie (the documented parity contract)
    rows = [("c1", 0, "a", ts(0)), ("c1", 1, "b", ts(0))]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, ts timestamp")
    q = (
        Select(
            F("conv_id"),
            LatestByOffset(F("text"), order_by=[F("ts"), F("turn_idx")]).Alias("last"),
        )
        .From(Schema("t", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    assert agg(q, df)["c1"] == ("b",)


def test_latest_by_offset_requires_order(spark):
    df = spark.createDataFrame([("c1", "a")], "conv_id string, text string")
    q = (
        Select(F("conv_id"), LatestByOffset(F("text")).Alias("last"))
        .From(Schema("t", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    with pytest.raises(AnalysisError, match="event-order"):
        compile_select(q, sources={"t": df}, event_order=[])


def test_topk_exact_and_distinct(spark):
    df = spark.createDataFrame(
        [("g", v) for v in [5, 1, 5, 3, 9, 9, 7]], "k string, v int"
    )
    q = (
        Select(F("k"), TopK(F("v"), 3).Alias("top"), TopKDistinct(F("v"), 3).Alias("topd"))
        .From(Schema("t", STREAM))
        .GroupBy(F("k"))
        .EmitChanges()
    )
    got = agg(q, df)
    assert got["g"] == ([9, 9, 7], [9, 7, 5])


def test_histogram_cap_and_tiebreak(spark):
    # b:3, a:2, c:2, d:1 -> cap 2 keeps b then a (count desc, key asc)
    df = spark.createDataFrame(
        [("g", v) for v in ["b", "b", "b", "a", "a", "c", "c", "d"]], "k string, v string"
    )
    q = (
        Select(F("k"), Histogram(F("v"), 2).Alias("h"))
        .From(Schema("t", STREAM))
        .GroupBy(F("k"))
        .EmitChanges()
    )
    got = agg(q, df)
    assert got["g"] == ({"b": 3, "a": 2},)


def test_having_over_aggregate(spark, turns):
    q = (
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("t", STREAM))
        .GroupBy(F("conv_id"))
        .Having(Count(F("turn_idx")).Greater(2))
        .EmitChanges()
    )
    got = agg(q, turns)
    assert got == {"c1": (3,)}


def test_having_arithmetic_wrapped_aggregate_batch(spark, turns):
    """ADVICE r4: _collect_aggs recurses into Arithmetic, so
    ``HAVING COUNT(x) * 2 > 4`` works on the batch hidden-agg path instead
    of throwing Spark's aggregate-in-filter AnalysisException."""
    from ksql_spark.expr import Arithmetic, Conditional

    q = (
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("t", STREAM))
        .GroupBy(F("conv_id"))
        .Having(Conditional(Arithmetic(Count(F("turn_idx")), "*", 2), ">", 4))
        .EmitChanges()
    )
    got = agg(q, turns)
    assert got == {"c1": (3,)}  # 3*2 > 4; the 2-turn convs fail 2*2 > 4


@pytest.mark.parametrize("with_plain_agg", [False, True])
def test_select_expression_over_aggregates_is_refused(spark, with_plain_agg):
    """A SELECT field computed over aggregates is neither a GROUP BY key nor
    an aggregate: it is refused with an AnalysisError naming it, instead of
    being lowered as a DISTINCT key and failing in Spark as an unresolved
    column."""
    df = spark.createDataFrame([("g", 1), ("g", 3)], "k string, v int")
    plain = [Count(F("v")).Alias("n")] if with_plain_agg else []
    q = (
        Select(F("k"), *plain, Sum(F("v")).Div(Count(F("v"))).Alias("a"))
        .From(Schema("t", STREAM))
        .GroupBy(F("k"))
        .EmitChanges()
    )
    with pytest.raises(AnalysisError, match="'a' is an expression over aggregates"):
        compile_select(q, sources={"t": df})


def test_histogram_twolevel_skewed_hot_key(spark):
    # one hot key with many distinct values: the two-level batch path must
    # handle what the O(distinct^2) single-agg fold cannot
    from pyspark.sql import functions as Fn

    from ksql_spark import F, Histogram, STREAM, Schema, Select, compile_select

    df = spark.range(20_000).select(
        Fn.lit("hot").alias("k"),
        Fn.when(Fn.col("id") < 3, Fn.lit("dominant"))
        .otherwise((Fn.col("id") % 5_000).cast("string"))
        .alias("v"),
    )
    q = (
        Select(F("k"), Histogram(F("v"), 2).Alias("hist"))
        .From(Schema("t", STREAM))
        .GroupBy(F("k"))
        .EmitChanges()
    )
    rows = compile_select(q, sources={"t": df}).collect()
    assert len(rows) == 1
    entries = list(rows[0]["hist"].items())
    assert len(entries) == 2
    # modal count is 4 (each id%5000 value occurs 4x except 0..2); ties
    # break by value ascending, so both top-2 entries have count 4
    assert all(cnt == 4 for _, cnt in entries)
