"""Run policy the engine owns: whether a bounded (availableNow) run keeps
Spark's trailing no-data micro-batch, decided from the analyzed plan
(streaming/engine.py ``keeps_no_data_batch`` / ``start_stream``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as Fn

from ksql_spark import (
    STREAM,
    TABLE,
    Catalog,
    Count,
    Create,
    F,
    Schema,
    Select,
    SessionWindow,
    TimeUnit,
    TopK,
    TumblingWindow,
    compile_select,
)
from ksql_spark.operators.cep import match_sequence
from ksql_spark.operators.cep_nfa import match_pattern
from ksql_spark.operators.dedup import exact_dedup_stream
from ksql_spark.streaming import engine as eng
from ksql_spark.streaming.engine import PersistentQueryManager, keeps_no_data_batch, start_stream
from ksql_spark.streaming.sink import ExactlyOnceParquetSink

NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"


@pytest.fixture()
def cat(spark, workdir, transcripts):
    path, _ = transcripts
    c = Catalog(spark, root=f"{workdir}/catalog")
    for name in ("t", "t2"):
        c.register_parquet(
            name, path, ref=STREAM, event_time_col="ts", event_order_cols=["ts", "turn_idx"]
        )
    return c


def _builder(spark, cat, sb):
    return compile_select(sb, spark=spark, catalog=cat, streaming=True, grace="10 minutes")


def _windowed(agg, window, emit_final=False):
    sb = Select(F("conv_id"), agg).From(Schema("t", STREAM)).WindowedBy(window).GroupBy(F("conv_id"))
    return sb.EmitFinal() if emit_final else sb.EmitChanges()


def _events(cat):
    """The transcripts stream in the CEP operators' column names."""
    return (
        cat.read_stream("t")
        .select(
            Fn.col("conv_id").alias("user_id"),
            (Fn.hash("conv_id", "turn_idx").cast("long")).alias("event_id"),
            Fn.col("role").alias("event_type"),
            "ts",
        )
        .withWatermark("ts", "10 minutes")
    )


def _shapes(spark, cat):
    tumble = TumblingWindow(1, TimeUnit.HOURS)
    session = SessionWindow(30, TimeUnit.MINUTES)
    n = Count(F("turn_idx")).Alias("n")
    user, asst = Fn.col("event_type") == "user", Fn.col("event_type") == "assistant"
    inner_join = (
        Select(F("l.conv_id").Alias("conv_id"), F("r.turn_idx").Alias("r_turn"))
        .From(Schema("t", STREAM).As("l"))
        .Join(Schema("t2", STREAM).As("r"), F("l.conv_id").Equal(F("r.conv_id")), within_seconds=60)
        .EmitChanges()
    )
    return {
        "update-mode window aggregate": (
            _builder(spark, cat, _windowed(n, tumble)), "update", False),
        "EMIT FINAL window aggregate": (
            _builder(spark, cat, _windowed(n, tumble, emit_final=True)), "append", True),
        "native session_window in append mode": (
            _builder(spark, cat, _windowed(n, session, emit_final=True)), "append", True),
        "inner stream-stream join": (_builder(spark, cat, inner_join), "append", False),
        "CEP negation (NFA, emits on anchor close)": (
            match_sequence(_events(cat), [("u", user), ("a", asst)], within_seconds=600,
                           absent=[("x", Fn.col("event_type") == "tool")]),
            "append", True),
        "monotone CEP sequence (NFA, emits on completion)": (
            match_sequence(_events(cat), [("u", user), ("a", asst)], within_seconds=600),
            "append", False),
        "NFA pattern kernel": (
            match_pattern(_events(cat), [("u", user, 1, 2), ("a", asst, 1, 1)],
                          within_seconds=600),
            "append", True),
        "builder session EMIT CHANGES": (
            _builder(spark, cat, _windowed(n, session)), "update", False),
        "builder windowed bounded aggregate, EMIT CHANGES": (
            _builder(spark, cat, _windowed(TopK(F("turn_idx"), 3).Alias("tk"), tumble)),
            "update", False),
        "dropDuplicatesWithinWatermark": (
            exact_dedup_stream(cat.read_stream("t"), keys=["conv_id", "turn_idx"]),
            "append", False),
    }


def test_no_data_decision_by_plan_shape(spark, cat):
    got, want = {}, {}
    for shape, (df, mode, keep) in _shapes(spark, cat).items():
        assert df.isStreaming, shape
        got[shape] = keeps_no_data_batch(df._jdf.queryExecution().analyzed().toString(), mode)
        want[shape] = keep
    assert got == want


def _recording_conf(monkeypatch):
    seen: list[dict] = []
    real = eng._session_conf

    def record(spark, conf):
        seen.append(dict(conf))
        return real(spark, conf)

    monkeypatch.setattr(eng, "_session_conf", record)
    return seen


def test_processing_time_run_leaves_no_data_conf_untouched(spark, cat, workdir, monkeypatch):
    """Only availableNow runs get the derived setting; a processing-time run
    of the same skip-shaped plan runs with the session's own value."""
    seen = _recording_conf(monkeypatch)
    n = Count(F("turn_idx")).Alias("n")
    df = _builder(spark, cat, _windowed(n, TumblingWindow(1, TimeUnit.HOURS)))
    sink = ExactlyOnceParquetSink(f"{workdir}/pt_sink")
    q = start_stream(df, sink, f"{workdir}/pt_ckpt", output_mode="update",
                     available_now=False, processing_time="1 hour")
    try:
        assert seen == [{}]
    finally:
        q.stop()
    sink = ExactlyOnceParquetSink(f"{workdir}/an_sink")
    q = start_stream(df, sink, f"{workdir}/an_ckpt", output_mode="update")
    q.awaitTermination()
    assert seen[1] == {NO_DATA: "false"}


def _batches(q) -> tuple[int, int]:
    """(all micro-batches, no-data micro-batches) of a finished query."""
    prog = q.recentProgress
    return len(prog), sum(1 for p in prog if p["numInputRows"] == 0)


def test_bounded_runs_skip_or_keep_the_no_data_batch(spark, workdir, transcripts):
    """End to end through the manager: an EMIT CHANGES table drains with no
    empty batch; EMIT FINAL keeps the one that closes its windows.  The
    session's own setting is left as it was."""
    path, _ = transcripts
    cat = Catalog(spark, root=f"{workdir}/catalog2")
    cat.register_parquet("t", path, ref=STREAM, event_time_col="ts",
                         event_order_cols=["ts", "turn_idx"], partitions=2)
    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/eng2", grace="10 minutes")
    before = spark.conf.get(NO_DATA)
    n = Count(F("turn_idx")).Alias("n")
    runs = {}
    for name, final in (("changes", False), ("finals", True)):
        sb = (
            Select(F("conv_id"), n).From(Schema("t", STREAM))
            .WindowedBy(TumblingWindow(1, TimeUnit.MINUTES)).GroupBy(F("conv_id"))
        )
        pq = mgr.create_as_select(
            Create(TABLE, name).AsSelect(sb.EmitFinal() if final else sb.EmitChanges())
        )
        runs[name] = _batches(pq.streaming_query)
    assert spark.conf.get(NO_DATA) == before
    assert runs["changes"][0] >= 1 and runs["changes"][1] == 0
    assert runs["finals"][1] == 1
    assert mgr.queries["finals"].sink.read_data(spark).count() > 0


def test_start_refuses_a_sink_written_with_other_columns(spark, workdir):
    """A sink's readers union every committed epoch by column name, so a
    restart whose query writes other columns (e.g. a GROUP BY key now under
    its SELECT alias) is refused before it starts."""
    from ksql_spark.errors import AnalysisError

    sink = ExactlyOnceParquetSink(f"{workdir}/cols_sink")
    sink(spark.range(2).select(Fn.col("id").alias("user_id"), Fn.lit(1).alias("n")), 0)
    assert sink.written_columns() == ["user_id", "n", "__op"]
    renamed = spark.range(2).select(Fn.lit(1).alias("n"), Fn.col("id").alias("uid"))
    with pytest.raises(AnalysisError, match="cannot resume into sink"):
        start_stream(renamed, sink, f"{workdir}/cols_ckpt")
