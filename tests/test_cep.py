"""CEP sequence matching (operators/cep.py): ordering, bounds, match modes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as Fn

from ksql_spark.errors import AnalysisError
from ksql_spark.operators.cep import match_sequence


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: A(t=0) -> B(t=10) -> A(t=20) -> B(t=25)
        (1, 1, "A", "2024-01-01 00:00:00"),
        (2, 1, "B", "2024-01-01 00:00:10"),
        (3, 1, "A", "2024-01-01 00:00:20"),
        (4, 1, "B", "2024-01-01 00:00:25"),
        # user 2: B before A only -> no match
        (5, 2, "B", "2024-01-01 00:00:00"),
        (6, 2, "A", "2024-01-01 00:00:10"),
        # user 3: A then B but outside the window
        (7, 3, "A", "2024-01-01 00:00:00"),
        (8, 3, "B", "2024-01-01 01:00:00"),
        # user 4: same-timestamp tie broken by event id
        (9, 4, "A", "2024-01-01 00:00:00"),
        (10, 4, "B", "2024-01-01 00:00:00"),
    ]
    return spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts_s string"
    ).select("event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts"))


def STEPS():
    return [("a", Fn.col("event_type") == "A"), ("b", Fn.col("event_type") == "B")]


def test_all_matches_within_bound(spark, events):
    got = sorted(
        (r["user_id"], r["a_id"], r["b_id"])
        for r in match_sequence(events, STEPS(), within_seconds=30).collect()
    )
    # user 1: (1,2), (1,4), (3,4); user 4 same-ts tie (9,10); user 2 reversed
    # -> none; user 3 out of window -> none
    assert got == [(1, 1, 2), (1, 1, 4), (1, 3, 4), (4, 9, 10)]


def test_first_match_per_key(spark, events):
    got = sorted(
        (r["user_id"], r["a_id"], r["b_id"])
        for r in match_sequence(events, STEPS(), within_seconds=30, mode="first").collect()
    )
    assert got == [(1, 1, 2), (4, 9, 10)]


def test_window_boundary_inclusive(spark, events):
    # user 3's B lands exactly at +3600s: inclusive bound
    got = match_sequence(events, STEPS(), within_seconds=3600).filter(
        Fn.col("user_id") == 3
    ).collect()
    assert [(r["a_id"], r["b_id"]) for r in got] == [(7, 8)]


def test_three_step_requires_full_order(spark, events):
    steps3 = [
        ("a1", Fn.col("event_type") == "A"),
        ("b1", Fn.col("event_type") == "B"),
        ("a2", Fn.col("event_type") == "A"),
    ]
    got = sorted(
        (r["user_id"], r["a1_id"], r["b1_id"], r["a2_id"])
        for r in match_sequence(events, steps3, within_seconds=60).collect()
    )
    assert got == [(1, 1, 2, 3)]  # only user 1 has A-B-A in order


def test_rejects_bad_args(spark, events):
    with pytest.raises(AnalysisError):
        match_sequence(events, STEPS()[:1], within_seconds=10)
    with pytest.raises(AnalysisError):
        match_sequence(events, STEPS(), within_seconds=10, mode="last")
    with pytest.raises(AnalysisError, match="match mode"):  # a pattern-only mode
        match_sequence(events, STEPS(), within_seconds=10, mode="skip_past_last")
    with pytest.raises(AnalysisError, match="unique"):
        match_sequence(events, STEPS(), within_seconds=10, absent=[("a", Fn.lit(True))])


def test_streaming_matches_batch(spark, events, tmp_path):
    """The SAME operator runs on a watermarked stream (the NFA kernel in
    append mode): streaming result == batch result."""
    import os

    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    path = str(tmp_path / "ev")
    events.write.parquet(path)
    src = (
        spark.readStream.schema(events.schema).parquet(path).withWatermark("ts", "1 day")
    )
    m = match_sequence(src, STEPS(), within_seconds=30).select("user_id", "a_id", "b_id")
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        m.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()))
    want = sorted(
        map(
            tuple,
            match_sequence(events, STEPS(), within_seconds=30)
            .select("user_id", "a_id", "b_id")
            .collect(),
        )
    )
    assert got == want


def _with_blocker(spark, events):
    """events plus one X event at t=5 for user 1 (between A@0/B@10 and inside
    A@0/B@25, but after A@20)."""
    x = spark.createDataFrame(
        [(100, 1, "X", "2024-01-01 00:00:05")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select(
        "event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts")
    )
    return events.unionByName(x)


def test_negation_excludes_blocked_matches(spark, events):
    """absent=(X) kills every match with an X strictly between first and last
    step; matches whose interval avoids X survive untouched."""
    ev = _with_blocker(spark, events)
    got = sorted(
        (r["user_id"], r["a_id"], r["b_id"])
        for r in match_sequence(
            ev,
            STEPS(),
            within_seconds=30,
            absent=[("x", Fn.col("event_type") == "X")],
        ).collect()
    )
    # X@5 blocks (1,2) [interval 0..10] and (1,4) [0..25]; (3,4) [20..25]
    # and user 4's same-ts tie survive
    assert got == [(1, 3, 4), (4, 9, 10)]


def test_negation_boundary_exclusive(spark, events):
    """An 'absent' event exactly AT a step's (ts, id) is not between them:
    the between-bound is strict on both ends."""
    # X at exactly B@10's timestamp with higher id -> after (10, id2)? no:
    # same ts, id 101 > 2 means it is NOT before b (strict order) -> (1,2) ok
    x = spark.createDataFrame(
        [(101, 1, "X", "2024-01-01 00:00:10")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select(
        "event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts")
    )
    got = sorted(
        (r["user_id"], r["a_id"], r["b_id"])
        for r in match_sequence(
            events.unionByName(x),
            STEPS(),
            within_seconds=30,
            absent=[("x", Fn.col("event_type") == "X")],
        ).collect()
    )
    # X@(10,101): after B@(10,2) -> does not block (1,2); before B@(25,4)
    # and after A@(0,1) -> blocks (1,4); after A@(20,3)? no, (10,101) < (20,3)
    # -> does not block (3,4)
    assert got == [(1, 1, 2), (1, 3, 4), (4, 9, 10)]


def test_negation_duplicate_absent_events_yield_one_suppression(spark, events):
    """Two X events inside the same interval must not duplicate surviving
    rows (an absent leg only filters)."""
    xs = spark.createDataFrame(
        [(100, 1, "X", "2024-01-01 00:00:05"), (102, 1, "X", "2024-01-01 00:00:06")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select(
        "event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts")
    )
    got = sorted(
        (r["user_id"], r["a_id"], r["b_id"])
        for r in match_sequence(
            events.unionByName(xs),
            STEPS(),
            within_seconds=30,
            absent=[("x", Fn.col("event_type") == "X")],
        ).collect()
    )
    assert got == [(1, 3, 4), (4, 9, 10)]


def _wm_sentinels(spark, far_s: str):
    """Far-future sentinel rows on keys that never match: they move the
    watermark past every window, so matches that wait for it are emitted."""
    return spark.createDataFrame(
        [(-1, -1, "A", far_s), (-2, -2, "B", far_s), (-3, -3, "X", far_s)],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select(
        "event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts")
    )


def test_streaming_negation_matches_batch(spark, events, tmp_path):
    """Negation on a stream: a match with an absent leg is emitted once the
    watermark passes its first step's window — result equals the batch
    recompute."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    ev = _with_blocker(spark, events)
    path = str(tmp_path / "ev")
    ev.unionByName(_wm_sentinels(spark, "2024-06-01 00:00:00")).write.parquet(path)
    src = (
        spark.readStream.schema(ev.schema).parquet(path).withWatermark("ts", "10 seconds")
    )
    m = match_sequence(
        src, STEPS(), within_seconds=30, absent=[("x", Fn.col("event_type") == "X")]
    ).select("user_id", "a_id", "b_id")
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        m.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()))
    want = sorted(
        map(
            tuple,
            match_sequence(
                ev, STEPS(), within_seconds=30, absent=[("x", Fn.col("event_type") == "X")]
            )
            .select("user_id", "a_id", "b_id")
            .collect(),
        )
    )
    assert got == want and len(got) == 2


def test_streaming_negation_kill_resume_exactly_once(spark, events, tmp_path):
    """Kill the negation query mid-stream, resume from checkpoint: every
    surviving match emitted exactly once (NFA state recovered)."""
    import time

    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    ev = _with_blocker(spark, events)
    path = str(tmp_path / "ev")
    for _ in range(3):
        ev.coalesce(1).write.mode("append").parquet(path)
        time.sleep(0.05)  # distinct mod-times -> deterministic file order
    _wm_sentinels(spark, "2024-06-01 00:00:00").coalesce(1).write.mode("append").parquet(path)

    def start(sink):
        src = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .withWatermark("ts", "1 day")
        )
        m = match_sequence(
            src, STEPS(), within_seconds=30, absent=[("x", Fn.col("event_type") == "X")]
        ).select("user_id", "a_id", "b_id")
        return (
            m.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = start(sink)
    deadline = time.time() + 60
    while not sink.committed_batches() and time.time() < deadline:
        time.sleep(0.1)
    q.stop()  # hard kill mid-stream
    q.awaitTermination()
    assert sink.committed_batches(), "no epoch committed before kill"

    q2 = start(sink)
    q2.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()))
    batch3 = spark.read.parquet(path).filter(Fn.col("user_id") > 0)
    want = sorted(
        map(
            tuple,
            match_sequence(
                batch3,
                STEPS(),
                within_seconds=30,
                absent=[("x", Fn.col("event_type") == "X")],
            )
            .select("user_id", "a_id", "b_id")
            .collect(),
        )
    )
    assert got == want  # exactly-once across the restart


def test_streaming_cep_kill_resume_exactly_once(spark, events, tmp_path):
    """Stop the streaming pattern query mid-stream, resume from checkpoint:
    every match emitted exactly once (the NFA's buffered events recovered)."""
    import time

    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    path = str(tmp_path / "ev")
    # several files so the kill can land between micro-batches
    for i in range(4):
        events.coalesce(1).write.mode("append").parquet(path)

    def start(sink):
        src = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .withWatermark("ts", "1 day")
        )
        m = match_sequence(src, STEPS(), within_seconds=30).select(
            "user_id", "a_id", "b_id"
        )
        return (
            m.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = start(sink)
    deadline = time.time() + 60
    while not sink.committed_batches() and time.time() < deadline:
        time.sleep(0.1)
    q.stop()  # hard kill mid-stream
    q.awaitTermination()
    assert sink.committed_batches(), "no epoch committed before kill"

    q2 = start(sink)
    q2.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()))
    batch4 = spark.read.parquet(path)
    want = sorted(
        map(
            tuple,
            match_sequence(batch4, STEPS(), within_seconds=30)
            .select("user_id", "a_id", "b_id")
            .collect(),
        )
    )
    assert got == want  # exactly-once across the restart


def test_optional_leg_fills_or_nulls(spark, events):
    """optional=(X?) captures events strictly between first and last step
    (one row per optional event — all-combinations), NULLs when none."""
    ev = _with_blocker(spark, events)  # X@(5,100) for user 1
    got = sorted(
        (r["user_id"], r["a_id"], r["b_id"], r["x_id"])
        for r in match_sequence(
            ev,
            STEPS(),
            within_seconds=30,
            optional=[("x", Fn.col("event_type") == "X")],
        ).collect()
    )
    # (1,2): X@5 inside (0,10) -> filled; (1,4): X@5 inside (0,25) -> filled;
    # (3,4): nothing between 20..25 -> NULL; user 4 same-ts tie -> NULL
    assert got == [(1, 1, 2, 100), (1, 1, 4, 100), (1, 3, 4, None), (4, 9, 10, None)]


def test_optional_multiplicity_one_row_per_event(spark, events):
    xs = spark.createDataFrame(
        [(100, 1, "X", "2024-01-01 00:00:05"), (102, 1, "X", "2024-01-01 00:00:06")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select(
        "event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts")
    )
    got = sorted(
        (r["user_id"], r["a_id"], r["b_id"], r["x_id"])
        for r in match_sequence(
            events.unionByName(xs),
            STEPS(),
            within_seconds=30,
            optional=[("x", Fn.col("event_type") == "X")],
        ).collect()
    )
    assert got == [
        (1, 1, 2, 100),
        (1, 1, 2, 102),
        (1, 1, 4, 100),
        (1, 1, 4, 102),
        (1, 3, 4, None),
        (4, 9, 10, None),
    ]


def test_streaming_optional_matches_batch(spark, events, tmp_path):
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    ev = _with_blocker(spark, events)
    path = str(tmp_path / "ev")
    ev.unionByName(_wm_sentinels(spark, "2024-06-01 00:00:00")).write.parquet(path)
    src = (
        spark.readStream.schema(ev.schema).parquet(path).withWatermark("ts", "10 seconds")
    )
    m = match_sequence(
        src, STEPS(), within_seconds=30, optional=[("x", Fn.col("event_type") == "X")]
    ).select("user_id", "a_id", "b_id", "x_id")
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        m.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(lambda r: tuple(r), sink.read_data(spark).collect()), key=str)
    want = sorted(
        map(
            lambda r: tuple(r),
            match_sequence(
                ev, STEPS(), within_seconds=30, optional=[("x", Fn.col("event_type") == "X")]
            )
            .select("user_id", "a_id", "b_id", "x_id")
            .collect(),
        ),
        key=str,
    )
    assert got == want and len(got) == 4


def test_streaming_two_optional_legs_matches_batch(spark, events, tmp_path):
    """Two optional legs on a stream must start, run, and equal the batch
    result (their rows multiply)."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    extra = spark.createDataFrame(
        [(90, 1, "X", "2024-01-01 00:00:05"), (91, 1, "Y", "2024-01-01 00:00:07")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select(
        "event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts")
    )
    far = "2024-06-01 00:00:00"
    sent = spark.createDataFrame(
        [(-1, -1, "A", far), (-2, -2, "B", far), (-3, -3, "X", far), (-4, -4, "Y", far)],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select(
        "event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts")
    )
    ev = events.unionByName(extra)
    path = str(tmp_path / "ev")
    ev.unionByName(sent).write.parquet(path)
    opts = [("x", Fn.col("event_type") == "X"), ("y", Fn.col("event_type") == "Y")]
    src = (
        spark.readStream.schema(ev.schema).parquet(path).withWatermark("ts", "10 seconds")
    )
    m = match_sequence(src, STEPS(), within_seconds=30, optional=opts).select(
        "user_id", "a_id", "b_id", "x_id", "y_id"
    )
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        m.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()), key=str)
    want = sorted(
        map(
            tuple,
            match_sequence(ev, STEPS(), within_seconds=30, optional=opts)
            .select("user_id", "a_id", "b_id", "x_id", "y_id")
            .collect(),
        ),
        key=str,
    )
    assert got == want and len(got) >= 4


def test_repeat_quantifier_expands_to_chained_steps(spark, events):
    """A{2} then B == three steps with relaxed contiguity."""
    from ksql_spark.operators.cep import repeat

    got = sorted(
        (r["user_id"], r["a1_id"], r["a2_id"], r["b_id"])
        for r in match_sequence(
            events,
            [*repeat("a", Fn.col("event_type") == "A", 2), ("b", Fn.col("event_type") == "B")],
            within_seconds=60,
        ).collect()
    )
    # only user 1 has A..A..B in order: A@0, A@20, B@25
    assert got == [(1, 1, 3, 4)]

    with pytest.raises(AnalysisError):
        repeat("a", Fn.col("event_type") == "A", 0)
