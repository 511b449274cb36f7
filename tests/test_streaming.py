"""Streaming-semantics tests (SURVEY.md §5 point 3).

Deterministic micro-batch runs over the synthetic transcripts table with the
availableNow trigger:
  * windowed-aggregate changelog == batch recomputation, row-for-row,
    per-turn text equality under stable turn ordering;
  * kill mid-stream + resume from checkpoint -> no duplicates, no gaps;
  * EMIT FINAL (append mode) emits only watermark-closed windows;
  * per-partition lineage recorded atomically with every epoch, per-batch
    progress kept on the drained query's handle, and no listener added.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as Fn

from ksql_spark import (
    STREAM,
    TABLE,
    Catalog,
    Count,
    Create,
    F,
    LatestByOffset,
    Schema,
    Select,
    Sum,
    TimeUnit,
    TumblingWindow,
)
from ksql_spark.streaming.engine import PersistentQueryManager


@pytest.fixture()
def engine(spark, workdir, transcripts):
    path, _ = transcripts
    cat = Catalog(spark, root=f"{workdir}/catalog")
    cat.register_parquet(
        "transcripts",
        path,
        ref=STREAM,
        event_time_col="ts",
        event_order_cols=["ts", "turn_idx"],
        metadata={"max_files_per_trigger": 3},
    )
    return PersistentQueryManager(spark, cat, workdir=f"{workdir}/eng", grace="10 minutes")


def batch_windowed(tdf):
    return (
        tdf.groupBy(Fn.window(Fn.col("ts"), "1 minute").alias("w"), "conv_id")
        .agg(
            Fn.count("turn_idx").alias("n_turns"),
            Fn.max_by("text", Fn.struct("ts", "turn_idx")).alias("last_text"),
        )
        .select(
            Fn.col("w.start").alias("window_start"),
            Fn.col("w.end").alias("window_end"),
            "conv_id",
            "n_turns",
            "last_text",
        )
    )


def test_windowed_changelog_matches_batch(spark, engine, transcripts):
    _, tdf = transcripts
    csas = Create(TABLE, "win_stats").AsSelect(
        Select(
            F("conv_id"),
            Count(F("turn_idx")).Alias("n_turns"),
            LatestByOffset(F("text")).Alias("last_text"),
        )
        .From(Schema("transcripts", STREAM))
        .WindowedBy(TumblingWindow(1, TimeUnit.MINUTES))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    engine.create_as_select(csas, available_now=True)
    state = engine.catalog.read("QUERYABLE_win_stats")
    a = sorted(map(tuple, state.collect()))
    b = sorted(map(tuple, batch_windowed(tdf).collect()))
    assert a == b  # per-turn text equality, no dupes, no gaps


def test_kill_resume_exactly_once(spark, engine, transcripts):
    _, tdf = transcripts
    csas = Create(TABLE, "conv_totals").AsSelect(
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"), Sum(F("turn_idx")).Alias("s"))
        .From(Schema("transcripts", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    pq = engine.create_as_select(csas, available_now=True, await_termination=False)
    deadline = time.time() + 60
    while not pq.sink.committed_batches() and time.time() < deadline:
        time.sleep(0.1)
    pq.streaming_query.stop()  # hard kill mid-stream
    pq.streaming_query.awaitTermination()
    assert pq.sink.committed_batches(), "no epoch committed before kill"

    engine.resume("conv_totals", available_now=True, await_termination=True)
    state = engine.catalog.read("QUERYABLE_conv_totals")
    a = sorted(map(tuple, state.collect()))
    b = sorted(
        map(
            tuple,
            tdf.groupBy("conv_id")
            .agg(Fn.count("turn_idx").alias("n"), Fn.sum("turn_idx").alias("s"))
            .collect(),
        )
    )
    assert a == b  # exactly-once: no duplicates, no gaps after resume


def test_redelivered_epoch_is_skipped(spark, engine, transcripts):
    _, tdf = transcripts
    csas = Create(TABLE, "idem").AsSelect(
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("transcripts", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    pq = engine.create_as_select(csas, available_now=True)
    before = engine.catalog.read("idem").count()
    # simulate foreachBatch re-delivery of an already-committed epoch
    first = pq.sink.committed_batches()[0]
    pq.sink(tdf.limit(5).groupBy("conv_id").agg(Fn.count("*").alias("n")), first)
    after = engine.catalog.read("idem").count()
    assert before == after


def test_emit_final_only_closed_windows(spark, engine, transcripts):
    _, tdf = transcripts
    csas = Create(TABLE, "finals").AsSelect(
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("transcripts", STREAM))
        .WindowedBy(TumblingWindow(1, TimeUnit.MINUTES))
        .GroupBy(F("conv_id"))
        .EmitFinal()
    )
    engine.create_as_select(csas, available_now=True)
    out = engine.catalog.read("finals").drop("__batch_id")
    full = batch_windowed(tdf).select("window_start", "window_end", "conv_id", "n_turns")
    emitted = {tuple(r) for r in out.select("window_start", "window_end", "conv_id", "n").collect()}
    complete = {tuple(r) for r in full.collect()}
    # append mode: emitted set is a subset of the complete result, each row
    # emitted exactly once, and every emitted row is value-correct
    assert emitted <= complete
    assert out.count() == len(emitted)  # no duplicate finals
    # windows well below the final watermark (max ts - grace) must be present
    max_ts = tdf.agg(Fn.max("ts")).collect()[0][0]
    closed = {
        t for t in complete if (max_ts - t[1]).total_seconds() > 600  # beyond grace
    }
    assert closed <= emitted


def _conv_counts(name: str):
    return Create(TABLE, name).AsSelect(
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("transcripts", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )


def test_lineage_and_metrics_recorded(spark, engine, transcripts):
    _, tdf = transcripts
    pq = engine.create_as_select(_conv_counts("lin"), available_now=True)
    # per-batch progress is Spark's own record on the drained run's handle
    progress = pq.streaming_query.recentProgress
    assert progress, "no progress reports"
    assert sum(p["numInputRows"] for p in progress) == tdf.count()
    lineage = pq.sink.lineage()
    assert lineage, "no commit markers"
    assert [e["batch_id"] for e in lineage] == pq.sink.committed_batches()
    for e in lineage:
        assert isinstance(e["rows"], int)
        assert e["rows"] == sum(p["rows"] for p in e["partitions"])
    assert sum(e["rows"] for e in lineage) == pq.sink.read(spark).count()


def test_manager_registers_no_listener(spark, workdir, transcripts):
    path, _ = transcripts
    before = len(spark.streams._jsqm.listListeners())
    cat = Catalog(spark, root=f"{workdir}/nl_catalog")
    cat.register_parquet("transcripts", path, ref=STREAM, event_time_col="ts")
    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/nl_eng", grace="10 minutes")
    mgr.create_as_select(_conv_counts("nl"), available_now=True)
    assert len(spark.streams._jsqm.listListeners()) == before


def test_filter_project_stream_append(spark, engine, transcripts):
    _, tdf = transcripts
    csas = Create(STREAM, "assistant_turns").AsSelect(
        Select(F("conv_id"), F("turn_idx"), F("text"))
        .From(Schema("transcripts", STREAM))
        .Where(F("role").Equal("assistant"))
        .EmitChanges()
    )
    engine.create_as_select(csas, available_now=True)
    out = engine.catalog.read("assistant_turns")
    a = sorted(map(tuple, out.select("conv_id", "turn_idx", "text").collect()))
    b = sorted(
        map(
            tuple,
            tdf.filter(Fn.col("role") == "assistant")
            .select("conv_id", "turn_idx", "text")
            .collect(),
        )
    )
    assert a == b


def test_session_window_emit_changes_merge_tombstones(spark, workdir):
    """Session windows under EMIT CHANGES (applyInPandasWithState fallback):
    a later micro-batch bridges two previously-emitted sessions; the merged
    session must be upserted and the stale identities retracted with 'D'
    tombstones so the QUERYABLE view equals batch recomputation."""
    import os
    import time as _time

    base = Fn.lit("2026-01-01 00:00:00").cast("timestamp")

    def mk(rows):
        return spark.createDataFrame(rows, "conv_id string, off long").select(
            "conv_id",
            (base + Fn.col("off") * Fn.expr("INTERVAL 60 SECONDS")).alias("ts"),
            Fn.col("off").alias("turn_idx"),
        )

    path = f"{workdir}/sess_transcripts"
    # batch 1: two separate sessions for c1 (gap 30m): [0m] and [40m]
    mk([("c1", 0), ("c1", 40)]).coalesce(1).write.mode("append").parquet(path)
    _time.sleep(1.1)  # distinct mtimes -> deterministic file order
    # batch 2: 20m bridges them into one session [0m..40m+gap]
    mk([("c1", 20)]).coalesce(1).write.mode("append").parquet(path)

    cat = Catalog(spark, root=f"{workdir}/sess_cat")
    cat.register_parquet(
        "sess_transcripts",
        path,
        ref=STREAM,
        event_time_col="ts",
        event_order_cols=["ts", "turn_idx"],
        metadata={"max_files_per_trigger": 1},
    )
    from ksql_spark import SessionWindow, Sum, TimeUnit

    eng = PersistentQueryManager(spark, cat, workdir=f"{workdir}/sess_eng", grace="10 minutes")
    csas = Create(TABLE, "sess_stats").AsSelect(
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"), Sum(F("turn_idx")).Alias("s"))
        .From(Schema("sess_transcripts", STREAM))
        .WindowedBy(SessionWindow(30, TimeUnit.MINUTES))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    pq = eng.create_as_select(csas, available_now=True)

    state = sorted(map(tuple, eng.catalog.read("QUERYABLE_sess_stats").collect()))
    full = spark.read.parquet(path)
    want = sorted(
        map(
            tuple,
            full.groupBy(Fn.session_window("ts", "30 minutes").alias("w"), "conv_id")
            .agg(Fn.count("turn_idx").alias("n"), Fn.sum("turn_idx").alias("s"))
            .select(
                Fn.col("w.start").alias("ws"), Fn.col("w.end").alias("we"), "conv_id", "n", "s"
            )
            .collect(),
        )
    )
    assert state == want  # one merged session, stale identities retracted
    assert len(state) == 1

    # the raw changelog must contain the tombstones for the merged-away ids
    log = pq.sink.read(spark)
    ops = {r["__op"] for r in log.collect()}
    assert "D" in ops and "U" in ops


def test_select_with_emit_drains_changelog(spark, engine, transcripts):
    """SelectWithEmit (reference: streams/specification.go:626-655): a push
    query drained to completion over current data."""
    _, tdf = transcripts
    sb = (
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("transcripts", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    got = sorted((r["conv_id"], r["n"]) for r in engine.select_with_emit(sb))
    want = sorted(
        map(tuple, tdf.groupBy("conv_id").agg(Fn.count("turn_idx").alias("n")).collect())
    )
    assert got == want


def test_session_window_emit_final_native(spark, engine, transcripts):
    """Session windows under EMIT FINAL use Spark's native session_window in
    append mode — only watermark-closed sessions are emitted, each once."""
    _, tdf = transcripts
    from ksql_spark import SessionWindow, TimeUnit

    csas = Create(TABLE, "sess_finals").AsSelect(
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("transcripts", STREAM))
        .WindowedBy(SessionWindow(5, TimeUnit.MINUTES))
        .GroupBy(F("conv_id"))
        .EmitFinal()
    )
    engine.create_as_select(csas, available_now=True)
    out = engine.catalog.read("sess_finals")
    emitted = {
        tuple(r) for r in out.select("window_start", "window_end", "conv_id", "n").collect()
    }
    full = (
        tdf.groupBy(Fn.session_window("ts", "5 minutes").alias("w"), "conv_id")
        .agg(Fn.count("turn_idx").alias("n"))
        .select(Fn.col("w.start"), Fn.col("w.end"), "conv_id", "n")
    )
    complete = {tuple(r) for r in full.collect()}
    assert emitted <= complete
    assert out.count() == len(emitted)  # no duplicate finals
    max_ts = tdf.agg(Fn.max("ts")).collect()[0][0]
    closed = {t for t in complete if (max_ts - t[1]).total_seconds() > 600}
    assert closed <= emitted


def test_session_changelog_kill_resume_exactly_once(spark, workdir):
    """Kill/resume over the applyInPandasWithState session operator: custom
    state must restore from the checkpoint and the resumed changelog must
    equal batch recomputation (no dupes, no gaps, tombstones intact)."""
    import time as _time

    from ksql_spark import SessionWindow, TimeUnit

    base = Fn.lit("2026-01-01 00:00:00").cast("timestamp")

    def mk(rows):
        return spark.createDataFrame(rows, "conv_id string, off long").select(
            "conv_id",
            (base + Fn.col("off") * Fn.expr("INTERVAL 60 SECONDS")).alias("ts"),
            Fn.col("off").alias("turn_idx"),
        )

    path = f"{workdir}/skr_transcripts"
    # three files -> three micro-batches; later batches extend + merge sessions
    mk([("a", 0), ("a", 40), ("b", 5)]).coalesce(1).write.mode("append").parquet(path)
    _time.sleep(1.1)
    mk([("a", 20), ("b", 6)]).coalesce(1).write.mode("append").parquet(path)
    _time.sleep(1.1)
    mk([("a", 41), ("c", 100)]).coalesce(1).write.mode("append").parquet(path)

    cat = Catalog(spark, root=f"{workdir}/skr_cat")
    cat.register_parquet(
        "skr_transcripts",
        path,
        ref=STREAM,
        event_time_col="ts",
        event_order_cols=["ts", "turn_idx"],
        metadata={"max_files_per_trigger": 1},
    )
    eng = PersistentQueryManager(spark, cat, workdir=f"{workdir}/skr_eng", grace="10 minutes")
    csas = Create(TABLE, "skr_stats").AsSelect(
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("skr_transcripts", STREAM))
        .WindowedBy(SessionWindow(30, TimeUnit.MINUTES))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    pq = eng.create_as_select(csas, available_now=True, await_termination=False)
    deadline = time.time() + 60
    while not pq.sink.committed_batches() and time.time() < deadline:
        time.sleep(0.1)
    pq.streaming_query.stop()  # hard kill mid-stream
    pq.streaming_query.awaitTermination()
    assert pq.sink.committed_batches(), "no epoch committed before kill"

    eng.resume("skr_stats", available_now=True, await_termination=True)
    state = sorted(map(tuple, eng.catalog.read("QUERYABLE_skr_stats").collect()))
    want = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .groupBy(Fn.session_window("ts", "30 minutes").alias("w"), "conv_id")
            .agg(Fn.count("turn_idx").alias("n"))
            .select(Fn.col("w.start"), Fn.col("w.end"), "conv_id", "n")
            .collect(),
        )
    )
    assert state == want


def test_session_changelog_backward_extension(spark, workdir):
    """A late-but-within-grace row EARLIER than an existing session's start
    must extend the session backwards: new identity upserted, stale identity
    tombstoned, aggregates merged."""
    import time as _time

    from ksql_spark import SessionWindow, TimeUnit

    base = Fn.lit("2026-01-01 00:00:00").cast("timestamp")

    def mk(rows):
        return spark.createDataFrame(rows, "conv_id string, off long").select(
            "conv_id",
            (base + Fn.col("off") * Fn.expr("INTERVAL 60 SECONDS")).alias("ts"),
            Fn.col("off").alias("turn_idx"),
        )

    path = f"{workdir}/bk_transcripts"
    mk([("a", 30), ("a", 31)]).coalesce(1).write.mode("append").parquet(path)
    _time.sleep(1.1)
    # earlier event, within the session gap of the existing start
    mk([("a", 10)]).coalesce(1).write.mode("append").parquet(path)

    cat = Catalog(spark, root=f"{workdir}/bk_cat")
    cat.register_parquet(
        "bk_transcripts",
        path,
        ref=STREAM,
        event_time_col="ts",
        event_order_cols=["ts", "turn_idx"],
        metadata={"max_files_per_trigger": 1},
    )
    eng = PersistentQueryManager(spark, cat, workdir=f"{workdir}/bk_eng", grace="2 hours")
    csas = Create(TABLE, "bk_stats").AsSelect(
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("bk_transcripts", STREAM))
        .WindowedBy(SessionWindow(30, TimeUnit.MINUTES))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    eng.create_as_select(csas, available_now=True)
    state = sorted(map(tuple, eng.catalog.read("QUERYABLE_bk_stats").collect()))
    want = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .groupBy(Fn.session_window("ts", "30 minutes").alias("w"), "conv_id")
            .agg(Fn.count("turn_idx").alias("n"))
            .select(Fn.col("w.start"), Fn.col("w.end"), "conv_id", "n")
            .collect(),
        )
    )
    assert state == want
    assert len(state) == 1  # one merged session spanning 10m..61m


def test_session_changelog_bigint_sum_exact(spark, workdir):
    """Session EMIT CHANGES keeps batch ``session_window``'s NULL/NaN
    contract: integral SUM stays exact above 2^53 with a NULL beside it
    (a nullable bigint must not reach the kernel as float64), NaN is a
    value (counted, greatest for MAX, propagated by SUM/AVG), MIN/MAX run
    over strings, and a session whose inputs are all NULL gives NULL and
    COUNT 0."""
    from ksql_spark import Avg, Max, Min, SessionWindow

    big = 2**53 + 1  # not representable as float64 (2^53+1 -> 2^53)
    nan = float("nan")
    base = Fn.lit("2026-01-01 00:00:00").cast("timestamp")
    df = spark.createDataFrame(
        [
            ("c1", 0, big, 1.0, "b"),
            ("c1", 1, None, nan, None),
            ("c1", 2, 2, 2.0, "a"),
            ("c2", 0, None, None, None),
        ],
        "conv_id string, off long, v long, d double, s string",
    ).select(
        "conv_id",
        (base + Fn.col("off") * Fn.expr("INTERVAL 60 SECONDS")).alias("ts"),
        Fn.col("off").alias("turn_idx"),
        "v", "d", "s",
    )
    path = f"{workdir}/big_transcripts"
    df.coalesce(1).write.mode("overwrite").parquet(path)

    cat = Catalog(spark, root=f"{workdir}/big_cat")
    cat.register_parquet(
        "big_transcripts", path, ref=STREAM,
        event_time_col="ts", event_order_cols=["ts", "turn_idx"],
    )
    aggs = [
        (Sum, "v"), (Count, "v"), (Min, "v"), (Max, "v"),
        (Sum, "d"), (Count, "d"), (Avg, "d"), (Min, "d"), (Max, "d"),
        (Min, "s"), (Max, "s"), (Count, "s"),
    ]
    names = [f"{fn.__name__.lower()}_{c}" for fn, c in aggs]
    eng = PersistentQueryManager(spark, cat, workdir=f"{workdir}/big_eng", grace="10 minutes")
    csas = Create(TABLE, "big_stats").AsSelect(
        Select(F("conv_id"), *[fn(F(c)).Alias(n) for (fn, c), n in zip(aggs, names)])
        .From(Schema("big_transcripts", STREAM))
        .WindowedBy(SessionWindow(30, TimeUnit.MINUTES))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    eng.create_as_select(csas, available_now=True)
    got_df = eng.catalog.read("QUERYABLE_big_stats")
    cols = ["window_start", "window_end", "conv_id", *names]

    def canon(rows):
        return sorted(
            tuple("NaN" if isinstance(x, float) and x != x else x for x in r) for r in rows
        )

    got = canon(got_df.select(*cols).collect())
    want = canon(
        spark.read.parquet(path)
        .groupBy(Fn.session_window("ts", "30 minutes").alias("w"), "conv_id")
        .agg(*[getattr(Fn, fn.__name__.lower())(c).alias(n) for (fn, c), n in zip(aggs, names)])
        .select(Fn.col("w.start").alias("window_start"), Fn.col("w.end").alias("window_end"),
                "conv_id", *names)
        .collect()
    )
    assert got == want
    c1 = next(r for r in got if r[2] == "c1")
    assert c1[3] == big + 2  # exact: float64 would give 2^53 + 2
    dtypes = dict(got_df.dtypes)
    assert (dtypes["sum_v"], dtypes["count_d"], dtypes["avg_d"], dtypes["max_s"]) == (
        "bigint", "bigint", "double", "string"
    )


def test_session_changes_having_rejected(spark):
    """HAVING cannot silently vanish in the session-changelog branch
    (ADVICE r2) — it is rejected at compile time."""
    from ksql_spark import SessionWindow
    from ksql_spark.errors import AnalysisError
    from ksql_spark.operators.compile import compile_select

    src = spark.createDataFrame(
        [("c1", "2026-01-01 00:00:00", 1)], "conv_id string, ts string, v long"
    ).select("conv_id", Fn.col("ts").cast("timestamp").alias("ts"), "v")
    q = (
        Select(F("conv_id"), Count(F("v")).Alias("n"))
        .From(Schema("t", STREAM))
        .WindowedBy(SessionWindow(30, TimeUnit.MINUTES))
        .GroupBy(F("conv_id"))
        .Having(Count(F("v")).Greater(1))
        .EmitChanges()
    )
    with pytest.raises(AnalysisError, match="HAVING.*SESSION"):
        compile_select(q, sources={"t": src}, streaming=True)


def test_keyed_aggregates_non_numeric_sum_rejected(spark, workdir):
    """Both keyed aggregate kernels share one input contract: SUM over a
    string is refused with AnalysisError at compile time, not inside the
    streaming task, for a session window and beside a TOPK in a tumbling
    window; MIN/MAX over a string compile on both."""
    from ksql_spark import Max, Min, SessionWindow, TopK
    from ksql_spark.errors import AnalysisError
    from ksql_spark.operators.compile import compile_select

    path = f"{workdir}/str_transcripts"
    spark.createDataFrame(
        [("c1", "2026-01-01 00:00:00", "hello", 1)],
        "conv_id string, ts string, txt string, n long",
    ).select(
        "conv_id", Fn.col("ts").cast("timestamp").alias("ts"), "txt", "n"
    ).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(
        "conv_id string, ts timestamp, txt string, n long"
    ).parquet(path)

    # a TOPK beside the scalars routes a tumbling query to the bounded kernel
    for window, topk in (
        (SessionWindow(30, TimeUnit.MINUTES), []),
        (TumblingWindow(1, TimeUnit.MINUTES), [TopK(F("n"), 2).Alias("t")]),
    ):
        def query(*aggs):
            return (
                Select(F("conv_id"), *topk, *aggs)
                .From(Schema("t", STREAM))
                .WindowedBy(window)
                .GroupBy(F("conv_id"))
                .EmitChanges()
            )

        with pytest.raises(AnalysisError, match="SUM requires a numeric"):
            compile_select(query(Sum(F("txt")).Alias("s")), sources={"t": stream}, streaming=True)
        df = compile_select(
            query(Min(F("txt")).Alias("lo"), Max(F("txt")).Alias("hi")),
            sources={"t": stream}, streaming=True,
        )
        assert dict(df.dtypes)["lo"] == "string"


def test_session_changes_join_keeps_left_watermark(spark, workdir):
    """session+EMIT CHANGES with a stream-stream join must watermark both
    join inputs BELOW the join (ADVICE r2): the join's state cleanup needs
    them, and the session kernel reads the same upstream watermark."""
    from ksql_spark import SessionWindow
    from ksql_spark.operators.compile import compile_select

    path = f"{workdir}/join_transcripts"
    spark.createDataFrame(
        [("c1", "2026-01-01 00:00:00", 1)], "conv_id string, ts string, v long"
    ).select(
        "conv_id", Fn.col("ts").cast("timestamp").alias("ts"), "v"
    ).write.mode("overwrite").parquet(path)
    schema = "conv_id string, ts timestamp, v long"
    left = spark.readStream.schema(schema).parquet(path)
    right = spark.readStream.schema(schema).parquet(path)
    q = (
        Select(F("l.conv_id"), Count(F("l.v")).Alias("n"))
        .From(Schema("lt", STREAM).As("l"))
        .Join(Schema("rt", STREAM).As("r"), F("l.conv_id").Equal(F("r.conv_id")),
              within_seconds=300)
        .WindowedBy(SessionWindow(30, TimeUnit.MINUTES))
        .GroupBy(F("l.conv_id"))
        .EmitChanges()
    )
    df = compile_select(q, sources={"lt": left, "rt": right}, streaming=True)
    assert df.isStreaming

    def nodes(plan):
        yield plan
        for i in range(plan.children().size()):
            yield from nodes(plan.children().apply(i))

    join = next(n for n in nodes(df._jdf.queryExecution().analyzed()) if n.nodeName() == "Join")
    sides = [join.children().apply(i) for i in range(join.children().size())]
    assert len(sides) == 2
    for side in sides:
        assert any(n.nodeName() == "EventTimeWatermark" for n in nodes(side))


def _conv_counts_table(spark, workdir, name):
    """A CTAS conv_id -> count over a two-file source dir; returns the
    manager and a writer that adds a source file."""
    base = Fn.lit("2026-01-01 00:00:00").cast("timestamp")
    src = f"{workdir}/{name}_src"

    def write(rows):
        spark.createDataFrame(rows, "conv_id string, off long").select(
            "conv_id",
            (base + Fn.col("off") * Fn.expr("INTERVAL 60 SECONDS")).alias("ts"),
            Fn.col("off").alias("turn_idx"),
        ).coalesce(1).write.mode("append").parquet(src)

    write([("a", 0), ("a", 1), ("b", 2)])
    write([("b", 3), ("c", 4)])
    cat = Catalog(spark, root=f"{workdir}/{name}_cat")
    cat.register_parquet("src", src, ref=STREAM, event_time_col="ts")
    eng = PersistentQueryManager(spark, cat, workdir=f"{workdir}/{name}_eng")
    eng.create_as_select(
        Create(TABLE, name).AsSelect(
            Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
            .From(Schema("src", STREAM))
            .GroupBy(F("conv_id"))
            .EmitChanges()
        )
    )
    return eng, write


def _pull(eng, table):
    sb = Select("conv_id", "n").From(Schema(table, TABLE))
    return sorted(map(tuple, eng.select_once(sb)))


def test_pull_after_resume_sees_new_commits(spark, workdir):
    """The cached table state is keyed by the committed epochs: a pull after
    the query committed more epochs rebuilds it and unpersists the old one."""
    eng, write = _conv_counts_table(spark, workdir, "cached_counts")
    assert _pull(eng, "QUERYABLE_cached_counts") == [("a", 2), ("b", 2), ("c", 1)]
    assert _pull(eng, "QUERYABLE_cached_counts") == [("a", 2), ("b", 2), ("c", 1)]
    old = eng.catalog.read("QUERYABLE_cached_counts")
    assert old.is_cached
    write([("a", 5), ("d", 6)])
    eng.resume("cached_counts")
    assert _pull(eng, "QUERYABLE_cached_counts") == [("a", 3), ("b", 2), ("c", 1), ("d", 1)]
    assert not old.is_cached


def test_table_and_queryable_twin_share_cached_state(spark, workdir):
    """The first read at a set of committed epochs is left unpersisted; the
    next, under either name, persists that same frame and later reads reuse
    it."""
    eng, _ = _conv_counts_table(spark, workdir, "shared_counts")
    state = eng.catalog.read("shared_counts")
    assert not state.is_cached
    assert eng.catalog.read("QUERYABLE_shared_counts") is state
    assert state.is_cached
    assert eng.catalog.read("shared_counts") is state


def test_first_pull_after_commit_pushes_key_filter_to_scan(spark, workdir):
    """A pull on epochs no earlier pull saw reads the changelog, not a
    cache, so a point lookup's key filter reaches the parquet scan."""
    eng, _ = _conv_counts_table(spark, workdir, "pushed_counts")
    df = eng.catalog.read("QUERYABLE_pushed_counts").where(Fn.col("conv_id") == "b")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    assert "EqualTo(conv_id,b)" in plan
    assert sorted(map(tuple, df.collect())) == [("b", 2)]


def test_drop_releases_cached_state(spark, workdir):
    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    eng, _ = _conv_counts_table(spark, workdir, "dropped_counts")
    before = persisted()
    _pull(eng, "QUERYABLE_dropped_counts")
    _pull(eng, "dropped_counts")
    assert persisted() == before + 1
    eng.drop("dropped_counts")
    assert persisted() == before


def test_insert_values_starts_no_spark_job(spark, workdir, count_jobs):
    """INSERT ... VALUES is written in-process with pyarrow: no Spark job,
    and Spark reads the rows back."""
    from ksql_spark import Insert, KType, SchemaField

    cat = Catalog(spark, root=f"{workdir}/cat")
    cat.create(Create(STREAM, "s").SchemaFields(SchemaField("id", KType.BIGINT)))
    eng = PersistentQueryManager(spark, cat, workdir=f"{workdir}/eng")
    _, jobs = count_jobs(lambda: eng.insert(Insert(STREAM, "s").Rows({"id": 1}, {"id": 2})))
    assert jobs == 0
    assert sorted(r.id for r in cat.read("s").collect()) == [1, 2]


def test_max_files_per_trigger_stays_with_its_query(spark, workdir):
    """A query's ``max_files_per_trigger`` is its own: another query over
    the same source reads with the source's default, and a stop/resume of
    the first still takes one file per batch."""
    src = f"{workdir}/mf_src"

    def write(ids):
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    for i in range(3):
        write([i])
    cat = Catalog(spark, root=f"{workdir}/mf_cat")
    cat.register_parquet("src", src, ref=STREAM)
    eng = PersistentQueryManager(spark, cat, workdir=f"{workdir}/mf_eng")

    def copy(name, **kw):
        pq = eng.create_as_select(
            Create(STREAM, name).AsSelect(Select(F("id")).From(Schema("src", STREAM))), **kw
        )
        return pq.sink

    one = copy("one_per_batch", max_files_per_trigger=1)
    default = copy("default_rate")
    assert "max_files_per_trigger" not in cat.get("src").metadata
    assert len(one.committed_batches()) == 3
    assert len(default.committed_batches()) == 1
    write([3])
    write([4])
    eng.stop("one_per_batch")
    eng.resume("one_per_batch")
    assert len(one.committed_batches()) == 5
    assert sorted(r.id for r in one.read_data(spark).collect()) == [0, 1, 2, 3, 4]


def test_select_with_emit_timeout_stops_query(spark, engine):
    from ksql_spark import QueryTimeoutError

    sb = (
        Select(F("conv_id"), Count(F("turn_idx")).Alias("n"))
        .From(Schema("transcripts", STREAM))
        .GroupBy(F("conv_id"))
        .EmitChanges()
    )
    with pytest.raises(QueryTimeoutError, match="did not drain"):
        list(engine.select_with_emit(sb, timeout_seconds=0.001))
    assert not [q.name for q in spark.streams.active if (q.name or "").startswith("__emit_")]


def test_cached_state_concurrent_pulls_and_commits(spark, workdir):
    """Threads pulling a table while its epochs commit: every pull sees a
    committed prefix, and every superseded state was unpersisted (a lost
    update on the cache slot would leave one persisted for good)."""
    import sys
    import threading

    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(f"{workdir}/concurrent", op="U")
    sink(spark.createDataFrame([("a", 0)], "k string, v long"), 0)
    frames, seen, errors = [], [], []

    def pull():
        try:
            for _ in range(3):
                state = sink.read_latest_state(spark, ["k"])
                frames.append(state)
                seen.append(sorted(map(tuple, state.collect())))
        except Exception as e:  # noqa: BLE001 — reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=pull) for _ in range(6)]
        for t in threads:
            t.start()
        for epoch in (1, 2, 3):
            sink(spark.createDataFrame([("a", epoch)], "k string, v long"), epoch)
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    assert len(seen) == 18 and all(s in ([("a", e)] for e in range(4)) for s in seen)
    sink.read_latest_state(spark, ["k"])
    final = sink.read_latest_state(spark, ["k"])
    assert sorted(map(tuple, final.collect())) == [("a", 3)] and final.is_cached
    assert [f for f in frames if f is not final and f.is_cached] == []
    sink.release()
    assert not final.is_cached


def test_cached_state_never_moves_back_to_older_epochs(spark, workdir):
    """A pull that listed the epochs before a commit, and reaches the cache
    slot after a pull that listed them after it, must not replace the newer
    state with its older one."""
    import threading

    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(f"{workdir}/ordered", op="U")
    sink(spark.createDataFrame([("a", 0)], "k string, v long"), 0)
    listed, go = threading.Event(), threading.Event()
    list_epochs = sink.committed_batches

    def list_then_wait():
        # the first listing (the slow pull's) stalls until released
        sink.committed_batches = list_epochs
        batches = list_epochs()
        listed.set()
        go.wait(timeout=60)
        return batches

    sink.committed_batches = list_then_wait
    got = {}
    slow = threading.Thread(target=lambda: got.update(slow=sink.read_latest_state(spark, ["k"])))
    slow.start()
    assert listed.wait(timeout=60)
    sink(spark.createDataFrame([("a", 1)], "k string, v long"), 1)

    def fast_pulls():
        sink.read_latest_state(spark, ["k"])
        got["fast"] = sink.read_latest_state(spark, ["k"])

    fast = threading.Thread(target=fast_pulls)
    fast.start()
    fast.join(timeout=2)  # returns at once if the slow pull does not hold the slot
    go.set()
    slow.join(timeout=60)
    fast.join(timeout=60)
    assert sorted(map(tuple, got["slow"].collect())) in ([("a", 0)], [("a", 1)])
    newest = got["fast"]
    assert sorted(map(tuple, newest.collect())) == [("a", 1)] and newest.is_cached
    assert sink.read_latest_state(spark, ["k"]) is newest
    sink.release()
