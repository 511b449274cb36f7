"""Bounded-state streaming TOPK / COLLECT / HISTOGRAM (streaming/bounded.py).

Two layers:
  * the merge kernels — the state bound itself is asserted directly
    (fold a skewed single-key stream, state never exceeds O(k));
  * end-to-end CSAS EMIT CHANGES runs through the engine, compared
    row-for-row against the batch recomputation.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as Fn
from pyspark.sql.window import Window

from ksql_spark import (
    STREAM,
    TABLE,
    Catalog,
    CollectSet,
    F,
    Histogram,
    Schema,
    Select,
    TimeUnit,
    TopK,
    TopKDistinct,
    TumblingWindow,
)
from ksql_spark import Create
from ksql_spark.streaming.bounded import (
    hist_top_buckets,
    merge_collect,
    merge_spacesaving,
    merge_topk,
)
from ksql_spark.streaming.engine import PersistentQueryManager


# ---------------------------------------------------------------------------
# merge kernels: the state bound
# ---------------------------------------------------------------------------


def test_topk_state_bounded_and_exact_under_skew():
    rng = random.Random(7)
    all_vals: list[float] = []
    state: list = []
    for _ in range(200):  # 200 micro-batches of a single hot key
        batch = [rng.uniform(0, 1e6) for _ in range(500)]
        all_vals.extend(batch)
        state = merge_topk(state, batch, k=5, distinct=False)
        assert len(state) <= 5  # O(k), not O(history)
    assert state == sorted(all_vals, reverse=True)[:5]


def test_topk_distinct_state_bounded_and_exact():
    rng = random.Random(11)
    seen: set = set()
    state: list = []
    for _ in range(100):
        batch = [rng.randrange(0, 50) for _ in range(1000)]  # heavy duplicates
        seen.update(batch)
        state = merge_topk(state, batch, k=4, distinct=True)
        assert len(state) <= 4
    assert state == sorted(seen, reverse=True)[:4]


def test_collect_caps_at_limit():
    state: list = []
    for i in range(100):
        state = merge_collect(state, list(range(i * 10, i * 10 + 10)), limit=25, is_set=False)
        assert len(state) <= 25
    assert state == list(range(25))  # first-N, ksqlDB cap semantics

    sstate: list = []
    for _ in range(50):
        sstate = merge_collect(sstate, [1, 2, 3, 4, 5], limit=3, is_set=True)
    assert sstate == [1, 2, 3]


def test_spacesaving_exact_under_capacity():
    rng = random.Random(3)
    truth: dict = {}
    hk, hc, he = [], [], []
    for _ in range(50):
        batch: dict = {}
        for _ in range(400):
            v = f"v{rng.randrange(0, 30)}"  # 30 distinct < capacity 64
            batch[v] = batch.get(v, 0) + 1
            truth[v] = truth.get(v, 0) + 1
        hk, hc, he = merge_spacesaving(hk, hc, he, batch, capacity=64)
        assert len(hk) <= 64
    assert dict(zip(hk, hc)) == truth
    assert all(e == 0 for e in he)  # exact: no evictions happened
    bk, bc = hist_top_buckets(hk, hc, 3)
    expect = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert list(zip(bk, bc)) == expect


def test_spacesaving_bounded_over_capacity():
    hk, hc, he = [], [], []
    for i in range(100):
        batch = {f"k{i}_{j}": 1 for j in range(10)}  # 1000 distinct total
        hk, hc, he = merge_spacesaving(hk, hc, he, batch, capacity=16)
        assert len(hk) <= 16  # sketch never exceeds capacity


# ---------------------------------------------------------------------------
# end-to-end: CSAS EMIT CHANGES == batch recomputation
# ---------------------------------------------------------------------------


@pytest.fixture()
def events_stream(spark, workdir, tmp_path):
    rng = random.Random(42)
    rows = []
    eid = 0
    for f in range(4):  # 4 files -> multiple micro-batches (maxFilesPerTrigger=1)
        part = []
        for _ in range(250):
            uid = rng.randrange(0, 8)
            part.append(
                (
                    eid,
                    uid,
                    f"type{rng.randrange(0, 5)}",
                    round(rng.uniform(0, 100), 4),
                    f"2026-01-01 0{f}:{rng.randrange(0, 60):02d}:{rng.randrange(0, 60):02d}",
                )
            )
            eid += 1
        df = spark.createDataFrame(
            part, "event_id bigint, user_id bigint, event_type string, value double, ts_s string"
        ).withColumn("ts", Fn.col("ts_s").cast("timestamp")).drop("ts_s")
        df.coalesce(1).write.mode("append").parquet(str(tmp_path / "ev"))
    cat = Catalog(spark, root=f"{workdir}/catalog")
    cat.register_parquet(
        "ev",
        str(tmp_path / "ev"),
        ref=STREAM,
        event_time_col="ts",
        event_order_cols=["ts", "event_id"],
        metadata={"max_files_per_trigger": 1},
    )
    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/eng", grace="365 days")
    batch = spark.read.parquet(str(tmp_path / "ev"))
    return cat, mgr, batch


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_streaming_topk_matches_batch(spark, events_stream):
    cat, mgr, batch = events_stream
    csas = Create(TABLE, "tk").AsSelect(
        Select(F("user_id"), TopK(F("value"), 3).Alias("top_vals"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    mgr.create_as_select(csas, available_now=True)
    got = _rows(
        cat.read("QUERYABLE_tk").select("user_id", Fn.posexplode("top_vals"))
    )
    want = _rows(
        batch.groupBy("user_id")
        .agg(Fn.slice(Fn.sort_array(Fn.collect_list("value"), asc=False), 1, 3).alias("t"))
        .select("user_id", Fn.posexplode("t"))
    )
    assert got == want


def test_streaming_topk_distinct_windowed_matches_batch(spark, events_stream):
    cat, mgr, batch = events_stream
    csas = Create(TABLE, "tkd").AsSelect(
        Select(F("user_id"), TopKDistinct(F("event_type"), 2).Alias("tt"))
        .From(Schema("ev", STREAM))
        .WindowedBy(TumblingWindow(1, TimeUnit.HOURS))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    mgr.create_as_select(csas, available_now=True)
    got = _rows(
        cat.read("QUERYABLE_tkd").select(
            "window_start", "user_id", Fn.posexplode("tt")
        )
    )
    want = _rows(
        batch.groupBy(Fn.window("ts", "1 hour").alias("w"), "user_id")
        .agg(Fn.slice(Fn.sort_array(Fn.collect_set("event_type"), asc=False), 1, 2).alias("t"))
        .select(Fn.col("w.start").alias("window_start"), "user_id", Fn.posexplode("t"))
    )
    assert got == want


def test_streaming_histogram_matches_batch(spark, events_stream):
    cat, mgr, batch = events_stream
    csas = Create(TABLE, "hg").AsSelect(
        Select(F("user_id"), Histogram(F("event_type"), 3).Alias("hist"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    mgr.create_as_select(csas, available_now=True)
    got = _rows(cat.read("QUERYABLE_hg").select("user_id", Fn.explode("hist")))
    want = _rows(
        batch.groupBy("user_id", "event_type")
        .agg(Fn.count("*").alias("cnt"))
        .withColumn(
            "rn",
            Fn.row_number().over(
                Window.partitionBy("user_id").orderBy(Fn.desc("cnt"), Fn.asc("event_type"))
            ),
        )
        .filter(Fn.col("rn") <= 3)
        .select("user_id", "event_type", Fn.col("cnt"))
    )
    assert got == want


def test_streaming_collect_set_matches_batch(spark, events_stream):
    cat, mgr, batch = events_stream
    csas = Create(TABLE, "cs").AsSelect(
        Select(F("user_id"), CollectSet(F("event_type")).Alias("types"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    mgr.create_as_select(csas, available_now=True)
    got = _rows(cat.read("QUERYABLE_cs").select("user_id", Fn.posexplode("types")))
    want = _rows(
        batch.groupBy("user_id")
        .agg(Fn.sort_array(Fn.collect_set("event_type")).alias("t"))
        .select("user_id", Fn.posexplode("t"))
    )
    assert got == want


def test_streaming_topk_state_rows_bounded(spark, events_stream):
    """State rows == number of groups (not history size): 1000 events over 8
    users keep exactly 8 state rows, and the kernel tests above bound the
    bytes per row by k."""
    cat, mgr, batch = events_stream
    csas = Create(TABLE, "tk1").AsSelect(
        Select(F("user_id"), TopK(F("value"), 3).Alias("tv"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    pq = mgr.create_as_select(csas, available_now=True)
    progress = pq.streaming_query.lastProgress  # the drained run's handle is kept
    n_groups = batch.select("user_id").distinct().count()
    ops = progress["stateOperators"]
    assert ops and ops[0]["numRowsTotal"] == n_groups
    got = _rows(cat.read("QUERYABLE_tk1").select("user_id", Fn.posexplode("tv")))
    want = _rows(
        batch.groupBy("user_id")
        .agg(Fn.slice(Fn.sort_array(Fn.collect_list("value"), asc=False), 1, 3).alias("t"))
        .select("user_id", Fn.posexplode("t"))
    )
    assert got == want


def test_streaming_topk_kill_resume_exactly_once(spark, events_stream):
    """Bounded top-k state survives checkpoint recovery: stop mid-stream,
    resume, final state == batch recompute (no duplicates, no gaps)."""
    import time

    cat, mgr, batch = events_stream
    csas = Create(TABLE, "tkr").AsSelect(
        Select(F("user_id"), TopK(F("value"), 3).Alias("tv"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    pq = mgr.create_as_select(csas, available_now=True, await_termination=False)
    deadline = time.time() + 60
    while not pq.sink.committed_batches() and time.time() < deadline:
        time.sleep(0.1)
    pq.streaming_query.stop()  # hard kill mid-stream
    pq.streaming_query.awaitTermination()
    assert pq.sink.committed_batches(), "no epoch committed before kill"

    mgr.resume("tkr", available_now=True, await_termination=True)
    got = _rows(cat.read("QUERYABLE_tkr").select("user_id", Fn.posexplode("tv")))
    want = _rows(
        batch.groupBy("user_id")
        .agg(Fn.slice(Fn.sort_array(Fn.collect_list("value"), asc=False), 1, 3).alias("t"))
        .select("user_id", Fn.posexplode("t"))
    )
    assert got == want


def test_bounded_output_shape_matches_native_lowering(spark, events_stream):
    """Every aggregate fold — Spark's native one, the bounded kernel
    (windowed and unwindowed) and the session kernel — shares one final
    projection: the streaming columns (``__op`` aside) equal the batch
    lowering's in declared order with SELECT aliases honored, and a TABLE
    keyed by an aliased GROUP BY key materializes to the batch recompute.
    A GROUP BY key the SELECT list leaves out cannot key a TABLE and is
    refused at CREATE."""
    from ksql_spark import Count, SessionWindow, Sum, compile_select
    from ksql_spark.errors import AnalysisError

    cat, mgr, batch = events_stream
    hour = TumblingWindow(1, TimeUnit.HOURS)
    cases = {
        "native": (hour, [Count(F("event_id")).Alias("n")]),
        "bounded": (hour, [TopK(F("value"), 3).Alias("n")]),
        "bounded_unwindowed": (None, [TopK(F("value"), 3).Alias("n")]),
        "session": (
            SessionWindow(5, TimeUnit.MINUTES),
            [Count(F("event_id")).Alias("n"), Sum(F("event_id")).Alias("s")],
        ),
    }
    for name, (window, aggs) in cases.items():
        q = Select(*aggs, F("user_id").Alias("uid")).From(Schema("ev", STREAM))
        if window is not None:
            q = q.WindowedBy(window)
        q = q.GroupBy(F("user_id")).EmitChanges()
        want_df = compile_select(q, sources={"ev": batch})
        stream_df = compile_select(q, spark=spark, catalog=cat, streaming=True, grace="365 days")
        assert [c for c in stream_df.columns if c != "__op"] == want_df.columns, name
        bounds = ["window_start", "window_end"] if window is not None else []
        assert want_df.columns == [*bounds, *(a.output_name() for a in aggs), "uid"], name
        mgr.create_as_select(Create(TABLE, f"shape_{name}").AsSelect(q), available_now=True)
        got = _rows(cat.read(f"QUERYABLE_shape_{name}").select(*want_df.columns))
        assert got == _rows(want_df), name

    q_nokey = (
        Select(Count(F("event_id")).Alias("n"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    with pytest.raises(AnalysisError, match="GROUP BY key 'user_id'"):
        mgr.create_as_select(Create(TABLE, "shape_nokey").AsSelect(q_nokey))


def test_streaming_topk_nan_matches_batch(spark, tmp_path):
    """Float NaN values flow through the bounded operator exactly like the
    batch lowering (NaN is the greatest double; ADVICE r3: dropna silently
    excluded NaN on the streaming side only)."""
    workdir = str(tmp_path / "nan")
    rows = [
        (0, 1, float("nan"), "2026-01-01 00:00:01"),
        (1, 1, 50.0, "2026-01-01 00:00:02"),
        (2, 1, 99.0, "2026-01-01 00:00:03"),
        (3, 1, 10.0, "2026-01-01 00:00:04"),
        (4, 2, 1.0, "2026-01-01 00:00:05"),
        (5, 2, float("nan"), "2026-01-01 00:00:06"),
        (6, 2, float("nan"), "2026-01-01 00:00:07"),
    ]
    df = (
        spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, value double, ts_s string"
        )
        .withColumn("ts", Fn.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )
    df.write.parquet(str(tmp_path / "nanev"))
    cat = Catalog(spark, root=f"{workdir}/catalog")
    cat.register_parquet(
        "nanev",
        str(tmp_path / "nanev"),
        ref=STREAM,
        event_time_col="ts",
        event_order_cols=["ts", "event_id"],
    )
    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/eng", grace="365 days")
    csas = Create(TABLE, "tknan").AsSelect(
        Select(F("user_id"), TopK(F("value"), 2).Alias("tv"))
        .From(Schema("nanev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    mgr.create_as_select(csas, available_now=True)

    def canon(df_):
        # replace NaN BEFORE sorting: tuples containing NaN are not totally
        # ordered, so sorting raw rows is input-order-dependent
        return sorted(
            (u, p, "nan" if v != v else v) for (u, p, v) in map(tuple, df_.collect())
        )

    got = canon(cat.read("QUERYABLE_tknan").select("user_id", Fn.posexplode("tv")))
    want = canon(
        df.groupBy("user_id")
        .agg(Fn.slice(Fn.sort_array(Fn.collect_list("value"), asc=False), 1, 2).alias("t"))
        .select("user_id", Fn.posexplode("t"))
    )
    assert got == want
    # NaN tops user 1's list (greatest double), matching Spark's sort order
    assert (1, 0, "nan") in got


def test_having_stays_on_bounded_path_and_matches_batch(spark, events_stream):
    """HAVING over the selected aggregate no longer kicks the query back to
    the unbounded native fold (VERDICT r3 #2): the stateful operator is in
    the plan, and the changelog materializes to the batch recompute filtered
    by the same (monotone) predicate."""
    from ksql_spark import compile_select
    from ksql_spark.expr import Conditional

    cat, mgr, batch = events_stream
    agg = TopK(F("value"), 3).Alias("tv")
    q = (
        Select(F("user_id"), agg)
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .Having(Conditional(agg, ">=", [99.0]))
        .EmitChanges()
    )
    stream_df = compile_select(q, spark=spark, catalog=cat, streaming=True, grace="365 days")
    plan = stream_df._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan  # bounded op, not the fold

    csas = Create(TABLE, "tkhav").AsSelect(q)
    mgr.create_as_select(csas, available_now=True)
    got = _rows(cat.read("QUERYABLE_tkhav").select("user_id", Fn.posexplode("tv")))
    want_df = (
        batch.groupBy("user_id")
        .agg(Fn.slice(Fn.sort_array(Fn.collect_list("value"), asc=False), 1, 3).alias("t"))
        .filter(Fn.col("t") >= Fn.lit([99.0]))
        .select("user_id", Fn.posexplode("t"))
    )
    want = _rows(want_df)
    assert want, "HAVING fixture is vacuous"
    assert got == want


def test_having_with_foreign_aggregate_hidden_slot(spark, events_stream):
    """A HAVING over an UNSELECTED bounded aggregate becomes a hidden O(1)
    state slot inside the bounded operator (VERDICT r4 #2) — the query stays
    on the bounded path (never the unbounded native fold) and the changelog
    equals the batch recompute filtered by the same predicate."""
    from ksql_spark import Count, compile_select
    from ksql_spark.expr import Conditional

    cat, mgr, batch = events_stream
    q = (
        Select(F("user_id"), TopK(F("value"), 3).Alias("tv"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .Having(Conditional(Count(F("event_id")), ">", 10))
        .EmitChanges()
    )
    stream_df = compile_select(q, spark=spark, catalog=cat, streaming=True, grace="365 days")
    plan = stream_df._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan  # bounded op, hidden slot
    assert "tv" in stream_df.columns and "__having_0" not in stream_df.columns

    csas = Create(TABLE, "tkhid").AsSelect(q)
    mgr.create_as_select(csas, available_now=True)
    got = _rows(cat.read("QUERYABLE_tkhid").select("user_id", Fn.posexplode("tv")))
    want = _rows(
        batch.groupBy("user_id")
        .agg(
            Fn.slice(Fn.sort_array(Fn.collect_list("value"), asc=False), 1, 3).alias("t"),
            Fn.count("event_id").alias("__c"),
        )
        .filter(Fn.col("__c") > 10)
        .select("user_id", Fn.posexplode("t"))
    )
    assert want, "HAVING fixture is vacuous"
    assert got == want


def test_mixed_scalar_and_collection_aggs_one_operator(spark, events_stream):
    """COUNT/SUM/MIN/MAX/AVG ride along the bounded collection aggregates
    as O(1) state slots in ONE stateful operator — a mixed query must not
    fall back to the native fold (whose collect state is unbounded), and
    must equal the batch recompute on every aggregate."""
    from ksql_spark import Avg, Count, Max, Min, Sum, compile_select

    cat, mgr, batch = events_stream
    q = (
        Select(
            F("user_id"),
            Count(F("event_id")).Alias("cnt"),
            Sum(F("value")).Alias("s"),
            Min(F("value")).Alias("mn"),
            Max(F("value")).Alias("mx"),
            Avg(F("value")).Alias("av"),
            TopK(F("value"), 3).Alias("top"),
            CollectSet(F("event_type")).Alias("types"),
        )
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    stream_df = compile_select(q, spark=spark, catalog=cat, streaming=True, grace="365 days")
    plan = stream_df._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan

    csas = Create(TABLE, "mixagg").AsSelect(q)
    mgr.create_as_select(csas, available_now=True)
    got = {
        r["user_id"]: (
            r["cnt"], round(r["s"], 6), r["mn"], r["mx"], round(r["av"], 9),
            list(r["top"]), list(r["types"]),
        )
        for r in cat.read("QUERYABLE_mixagg").collect()
    }
    want = {
        r["user_id"]: (
            r["cnt"], round(r["s"], 6), r["mn"], r["mx"], round(r["av"], 9),
            list(r["top"]), list(r["types"]),
        )
        for r in batch.groupBy("user_id").agg(
            Fn.count("event_id").alias("cnt"),
            Fn.round(Fn.sum("value"), 6).alias("s"),
            Fn.min("value").alias("mn"),
            Fn.max("value").alias("mx"),
            Fn.round(Fn.avg("value"), 9).alias("av"),
            Fn.slice(Fn.sort_array(Fn.collect_list("value"), asc=False), 1, 3).alias("top"),
            Fn.sort_array(Fn.collect_set("event_type")).alias("types"),
        ).collect()
    }
    assert got == want


def test_mixed_agg_null_handling_per_agg(spark, tmp_path):
    """With multiple aggregates a row may be NULL for one input and not
    another: each aggregate must skip ITS nulls only (the old row-level
    filter would drop the whole row).  SUM over zero non-null inputs is
    NULL, COUNT is 0-excluded-nulls — exactly the batch semantics."""
    workdir = str(tmp_path / "mx")
    rows = [
        (0, 1, None, "a", "2026-01-01 00:00:01"),
        (1, 1, 5.0, None, "2026-01-01 00:00:02"),
        (2, 1, 7.0, "b", "2026-01-01 00:00:03"),
        (3, 2, None, "c", "2026-01-01 00:00:04"),  # user 2: all values NULL
        (4, 3, None, None, "2026-01-01 00:00:05"),  # user 3: every input NULL
    ]
    df = (
        spark.createDataFrame(
            rows,
            "event_id bigint, user_id bigint, value double, event_type string, ts_s string",
        )
        .withColumn("ts", Fn.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )
    df.write.parquet(str(tmp_path / "mxev"))
    cat = Catalog(spark, root=f"{workdir}/catalog")
    cat.register_parquet(
        "mxev", str(tmp_path / "mxev"), ref=STREAM,
        event_time_col="ts", event_order_cols=["ts", "event_id"],
    )
    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/eng", grace="365 days")
    from ksql_spark import Count, Sum

    csas = Create(TABLE, "mxnull").AsSelect(
        Select(
            F("user_id"),
            Count(F("value")).Alias("cnt_v"),
            Sum(F("value")).Alias("sum_v"),
            CollectSet(F("event_type")).Alias("types"),
        )
        .From(Schema("mxev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    mgr.create_as_select(csas, available_now=True)
    got = {
        r["user_id"]: (r["cnt_v"], r["sum_v"], sorted(r["types"]))
        for r in cat.read("QUERYABLE_mxnull").collect()
    }
    assert got[1] == (2, 12.0, ["a", "b"])
    assert got[2] == (0, None, ["c"])  # SUM over no non-null inputs is NULL
    assert got[3] == (0, None, [])  # a group with no non-null input is still a group


def test_non_monotone_having_raises_named_error(spark, events_stream):
    """A HAVING that could flip true->false (MIN >= x: MIN only decreases)
    must NOT ride the upsert post-filter — a stale upsert could never be
    retracted.  VERDICT r4 #1: the silent fallback to the unbounded native
    fold is gone; the query REJECTS with an error naming the predicate."""
    from ksql_spark import Min, compile_select
    from ksql_spark.errors import AnalysisError
    from ksql_spark.expr import Conditional

    cat, mgr, batch = events_stream
    q = (
        Select(F("user_id"), Min(F("value")).Alias("mn"), TopK(F("value"), 3).Alias("tv"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .Having(Conditional(Min(F("value")), ">=", 1.0))  # non-monotone direction
        .EmitChanges()
    )
    with pytest.raises(AnalysisError, match="non-monotone HAVING.*MIN"):
        compile_select(q, spark=spark, catalog=cat, streaming=True, grace="365 days")

    # the safe direction (MIN <= x: once true, stays true) keeps the bounded op
    q2 = (
        Select(F("user_id"), Min(F("value")).Alias("mn"), TopK(F("value"), 3).Alias("tv"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .Having(Conditional(Min(F("value")), "<=", 50.0))
        .EmitChanges()
    )
    plan2 = compile_select(
        q2, spark=spark, catalog=cat, streaming=True, grace="365 days"
    )._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan2


def test_having_alias_reference_resolves_to_aggregate(spark, events_stream):
    """ADVICE r4 (medium): ``F("cnt") < 5`` naming a selected COUNT alias is
    an aggregate comparison, not a per-group-constant condition.  The
    non-monotone direction must reject; the monotone direction must stay on
    the bounded path and match the batch recompute."""
    from ksql_spark import Count, compile_select
    from ksql_spark.errors import AnalysisError
    from ksql_spark.expr import Conditional

    cat, mgr, batch = events_stream
    base = lambda: (  # noqa: E731
        Select(F("user_id"), Count(F("event_id")).Alias("cnt"), TopK(F("value"), 3).Alias("tv"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
    )
    q_bad = base().Having(Conditional(F("cnt"), "<", 500)).EmitChanges()
    with pytest.raises(AnalysisError, match="non-monotone HAVING"):
        compile_select(q_bad, spark=spark, catalog=cat, streaming=True, grace="365 days")

    q_ok = base().Having(Conditional(F("cnt"), ">", 100)).EmitChanges()
    stream_df = compile_select(q_ok, spark=spark, catalog=cat, streaming=True, grace="365 days")
    plan = stream_df._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan

    csas = Create(TABLE, "tkalias").AsSelect(q_ok)
    mgr.create_as_select(csas, available_now=True)
    got = _rows(cat.read("QUERYABLE_tkalias").select("user_id", "cnt", Fn.posexplode("tv")))
    want = _rows(
        batch.groupBy("user_id")
        .agg(
            Fn.count("event_id").alias("cnt"),
            Fn.slice(Fn.sort_array(Fn.collect_list("value"), asc=False), 1, 3).alias("t"),
        )
        .filter(Fn.col("cnt") > 100)
        .select("user_id", "cnt", Fn.posexplode("t"))
    )
    assert want, "HAVING fixture is vacuous"
    assert got == want


def test_having_arithmetic_wrapped_aggregate_rejected_streaming(spark, events_stream):
    """An aggregate hidden inside Arithmetic (``COUNT(x) + 1 > 5``) has
    unknowable monotonicity on the upsert path — ADVICE r4: it used to pass
    the gate as a 'pure group-key condition'; it must now reject."""
    from ksql_spark import Count, compile_select
    from ksql_spark.errors import AnalysisError
    from ksql_spark.expr import Arithmetic, Conditional

    cat, mgr, batch = events_stream
    q = (
        Select(F("user_id"), TopK(F("value"), 3).Alias("tv"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .Having(Conditional(Arithmetic(Count(F("event_id")), "+", 1), ">", 5))
        .EmitChanges()
    )
    with pytest.raises(AnalysisError, match="non-monotone HAVING"):
        compile_select(q, spark=spark, catalog=cat, streaming=True, grace="365 days")


def test_streaming_multi_agg_kill_resume_exactly_once(spark, events_stream):
    """The flattened multi-aggregate state tuple (scalar slots + collection
    arrays) must survive checkpoint recovery: stop mid-stream, resume, every
    aggregate equals the batch recompute."""
    import time

    from ksql_spark import Count, Max, Sum

    cat, mgr, batch = events_stream
    csas = Create(TABLE, "mxr").AsSelect(
        Select(
            F("user_id"),
            Count(F("event_id")).Alias("cnt"),
            Sum(F("value")).Alias("s"),
            Max(F("value")).Alias("mx"),
            TopK(F("value"), 3).Alias("tv"),
        )
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    pq = mgr.create_as_select(csas, available_now=True, await_termination=False)
    deadline = time.time() + 60
    while not pq.sink.committed_batches() and time.time() < deadline:
        time.sleep(0.1)
    pq.streaming_query.stop()  # hard kill mid-stream
    pq.streaming_query.awaitTermination()
    assert pq.sink.committed_batches(), "no epoch committed before kill"

    mgr.resume("mxr", available_now=True, await_termination=True)
    got = {
        r["user_id"]: (r["cnt"], round(r["s"], 6), r["mx"], list(r["tv"]))
        for r in cat.read("QUERYABLE_mxr").collect()
    }
    want = {
        r["user_id"]: (r["cnt"], round(r["s"], 6), r["mx"], list(r["t"]))
        for r in batch.groupBy("user_id").agg(
            Fn.count("event_id").alias("cnt"),
            Fn.round(Fn.sum("value"), 6).alias("s"),
            Fn.max("value").alias("mx"),
            Fn.slice(Fn.sort_array(Fn.collect_list("value"), asc=False), 1, 3).alias("t"),
        ).collect()
    }
    assert got == want  # exactly-once across the restart, all slots recovered


def test_compile_leaves_user_expression_unmutated(spark, events_stream):
    """ADVICE r5: the hidden-slot lowering must alias a COPY of the HAVING
    aggregate — recompiling the same SelectBuilder (streaming, then the
    batch oracle twin, then streaming again) must produce identical output
    columns, with no __having_N alias leaking into the user's objects."""
    from ksql_spark import Count, compile_select
    from ksql_spark.expr import Conditional

    cat, mgr, batch = events_stream
    cnt = Count(F("event_id"))
    q = (
        Select(F("user_id"), TopK(F("value"), 3).Alias("tv"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .Having(Conditional(cnt, ">", 10))
        .EmitChanges()
    )
    s1 = compile_select(q, spark=spark, catalog=cat, streaming=True, grace="365 days")
    assert cnt.alias_name is None  # the user's expression object is untouched
    s2 = compile_select(q, spark=spark, catalog=cat, streaming=True, grace="365 days")
    assert s1.columns == s2.columns
    assert all("__having" not in c for c in s2.columns)


@pytest.mark.parametrize("change", ["one_more_aggregate", "topk_bound"])
def test_state_schema_change_across_resume_raises(spark, events_stream, change):
    """VERDICT r5 #6: a bounded-op query whose state layout changes across a
    checkpoint resume — it gains an aggregate, or its TOPK bound goes from
    3 to 5 — must fail with a NAMED AnalysisError (+ migration recipe),
    never silently read the old state under the new layout."""
    from ksql_spark import Count
    from ksql_spark.errors import AnalysisError

    cat, mgr, batch = events_stream
    q1 = (
        Select(F("user_id"), TopK(F("value"), 3).Alias("tv"))
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    csas = Create(TABLE, "ssm").AsSelect(q1)
    pq = mgr.create_as_select(csas, available_now=True, await_termination=True)
    assert pq.sink.committed_batches()

    # the user edits the DDL under the same query name
    fields = (
        [TopK(F("value"), 3).Alias("tv"), Count(F("event_id")).Alias("n")]
        if change == "one_more_aggregate"
        else [TopK(F("value"), 5).Alias("tv")]
    )
    q2 = (
        Select(F("user_id"), *fields)
        .From(Schema("ev", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    pq.create = Create(TABLE, "ssm").AsSelect(q2)
    with pytest.raises(AnalysisError, match="state schema|cannot resume"):
        mgr.resume("ssm", available_now=True, await_termination=True)

    # restoring the original SELECT (recipe c) resumes cleanly
    pq.create = csas
    mgr.resume("ssm", available_now=True, await_termination=True)
