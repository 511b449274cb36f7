"""Variable CEP quantifiers A{m,n} / A{m,} then B (operators/cep_nfa.py).

Three layers: the pure match kernel, the batch per-partition kernel
lowering, and the single-state-store streaming NFA (incl. kill/resume
exactly-once and the state bound itself).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as Fn

from ksql_spark.errors import AnalysisError
from ksql_spark.operators.cep_nfa import match_pattern, pattern_matches

US = 1_000_000


def _quant_then_b(a_events, b_events, m, n, within_us, close_before_us=None, cursor=None):
    """``A{m,n}`` then B on the kernel: one (a_first_id, a_last_id,
    a_count, b_id, a_first_ts_us) tuple per match, and the new cursor."""
    raw, new_cursor = pattern_matches(
        [a_events, b_events], [(m, n), (1, 1)], within_us,
        close_before_us=close_before_us, cursor=cursor,
    )
    return [(f0, l0, c0, f1, a_ts) for (f0, l0, c0), (f1, _, _), a_ts in raw], new_cursor


# ---------------------------------------------------------------------------
# kernel
# ---------------------------------------------------------------------------


def test_kernel_basic_runs_and_bounds():
    # A@0, A@10, A@20, B@25 (ids 1..4), within 30s
    a = [(0, 1), (10 * US, 2), (20 * US, 3)]
    b = [(25 * US, 4)]
    got, cur = _quant_then_b(a, b, m=2, n=3, within_us=30 * US)
    # anchors: id1 runs {1,2}->(1,2,2) {1,2,3}->(1,3,3); id2 run {2,3}->(2,3,2)
    assert sorted(got) == [
        (1, 2, 2, 4, 0),
        (1, 3, 3, 4, 0),
        (2, 3, 2, 4, 10 * US),
    ]
    assert cur == (20 * US, 3)


def test_kernel_within_bound_prunes_runs_and_terminals():
    a = [(0, 1), (10 * US, 2), (35 * US, 3)]
    b = [(38 * US, 4)]
    # anchor id1 (horizon 30): run {1,2} ok but B@38 outside; {1,2,3} has
    # last@35 outside.  anchor id2 (horizon 40): run {2,3} last@35 <= 40,
    # B@38 strictly after and inside -> the only match.
    got, _ = _quant_then_b(a, b, m=2, n=3, within_us=30 * US)
    assert got == [(2, 3, 2, 4, 10 * US)]


def test_kernel_kleene_plus_unbounded_upper():
    a = [(i * US, i + 1) for i in range(5)]
    b = [(10 * US, 99)]
    got, _ = _quant_then_b(a, b, m=3, n=None, within_us=60 * US)
    # runs of length 3..5 from each eligible anchor
    lens = sorted((f, c) for f, _, c, _, _ in got)
    assert lens == [(1, 3), (1, 4), (1, 5), (2, 3), (2, 4), (3, 3)]


def test_kernel_terminal_strictly_after_last():
    # B at the same (ts) as last A but smaller id: excluded; larger id: kept
    a = [(0, 1), (10 * US, 5)]
    b = [(10 * US, 3), (10 * US, 7)]
    got, _ = _quant_then_b(a, b, m=2, n=2, within_us=30 * US)
    assert got == [(1, 5, 2, 7, 0)]


def test_kernel_cursor_and_close_gate():
    a = [(0, 1), (10 * US, 2), (50 * US, 3)]
    b = [(15 * US, 4), (60 * US, 5)]
    # watermark at 45s: only anchor id1 closes (0+30 <= 45); id2 (10+30=40
    # <=45) also closes; id3 stays open
    got, cur = _quant_then_b(
        a, b, m=1, n=2, within_us=30 * US, close_before_us=45 * US
    )
    assert cur == (10 * US, 2)
    assert all(f in (1, 2) for f, *_ in got)
    # resume from the cursor with a later watermark: id3's matches appear once
    got2, cur2 = _quant_then_b(
        a, b, m=1, n=2, within_us=30 * US, close_before_us=200 * US, cursor=cur
    )
    assert cur2 == (50 * US, 3)
    assert got2 == [(3, 3, 1, 5, 50 * US)]


# ---------------------------------------------------------------------------
# batch lowering vs kernel (random property check)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rand_events(spark):
    rng = random.Random(1234)
    rows = []
    eid = 0
    for uid in range(6):
        t = 0
        for _ in range(40):
            t += rng.randrange(1, 15)
            rows.append((eid, uid, rng.choice(["A", "A", "B", "C"]), t))
            eid += 1
    return (
        spark.createDataFrame(rows, "event_id bigint, user_id bigint, event_type string, sec bigint")
        .select(
            "event_id",
            "user_id",
            "event_type",
            (Fn.lit("2024-01-01 00:00:00").cast("timestamp") + Fn.make_interval(secs=Fn.col("sec"))).alias("ts"),
        )
    )


def _kernel_truth(df, m, n, within_s):
    rows = df.collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["user_id"], ([], []))
        ts_us = int(r["ts"].timestamp() * US)
        if r["event_type"] == "A":
            by_key[r["user_id"]][0].append((ts_us, r["event_id"]))
        if r["event_type"] == "B":
            by_key[r["user_id"]][1].append((ts_us, r["event_id"]))
    want = []
    for uid, (a, b) in by_key.items():
        got, _ = _quant_then_b(sorted(a), sorted(b), m, n, within_s * US)
        want += [(uid, f, l, c, bid) for f, l, c, bid, _ in got]
    return sorted(want)


@pytest.mark.parametrize("m,n,within", [(2, 4, 40), (1, 2, 25), (3, None, 60)])
def test_batch_join_lowering_equals_kernel(spark, rand_events, m, n, within):
    got = sorted(
        map(
            tuple,
            match_pattern(
                rand_events,
                [("a", Fn.col("event_type") == "A", m, n),
                 ("b", Fn.col("event_type") == "B", 1, 1)],
                within_seconds=within,
            ).collect(),
        )
    )
    assert got == _kernel_truth(rand_events, m, n, within)
    assert got, "fixture produced no matches — vacuous"


def test_bad_bounds_rejected(spark, rand_events):
    with pytest.raises(AnalysisError):
        match_pattern(
            rand_events, [("a", Fn.col("event_type") == "A", 0, 2),
                          ("b", Fn.col("event_type") == "B", 1, 1)], 10,
        )
    with pytest.raises(AnalysisError):
        match_pattern(
            rand_events, [("a", Fn.col("event_type") == "A", 3, 2),
                          ("b", Fn.col("event_type") == "B", 1, 1)], 10,
        )


# ---------------------------------------------------------------------------
# streaming NFA
# ---------------------------------------------------------------------------


def _write_stream_fixture(spark, df, path, parts=3):
    import time

    n = df.count()
    per = (n + parts - 1) // parts
    rows = df.orderBy("ts", "event_id").collect()
    for p in range(parts):
        chunk = rows[p * per : (p + 1) * per]
        if not chunk:
            continue
        spark.createDataFrame(chunk, df.schema).coalesce(1).write.mode("append").parquet(path)
        time.sleep(0.05)
    # far-future sentinel rows on a never-matching key advance the watermark
    # past every anchor's close
    sent = spark.createDataFrame(
        [(-1, -1, "A", "2024-06-01 00:00:00"), (-2, -1, "B", "2024-06-01 00:00:00")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts"))
    sent.coalesce(1).write.mode("append").parquet(path)


def _run_stream(spark, schema, path, tmp_path, m, n, within, ckpt="ckpt", max_files=None):
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    reader = spark.readStream.schema(schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    src = reader.parquet(path).withWatermark("ts", "5 seconds")
    out = match_pattern(
        src,
        [("a", Fn.col("event_type") == "A", m, n),
         ("b", Fn.col("event_type") == "B", 1, 1)],
        within_seconds=within,
    )
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / ckpt))
        .trigger(availableNow=True)
        .start()
    )
    return q, sink


def test_streaming_nfa_matches_batch(spark, rand_events, tmp_path):
    path = str(tmp_path / "ev")
    _write_stream_fixture(spark, rand_events, path)
    q, sink = _run_stream(spark, rand_events.schema, path, tmp_path, 2, 4, 40)
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["a_first_id"], r["a_last_id"], r["a_count"], r["b_id"])
        for r in sink.read_data(spark).collect()
    )
    want = _kernel_truth(rand_events, 2, 4, 40)
    assert got == want and len(got) > 10


def test_streaming_nfa_kill_resume_exactly_once(spark, rand_events, tmp_path):
    """Stop after the first files, resume from checkpoint: the flush cursor
    recovers and every match is emitted exactly once."""
    path = str(tmp_path / "ev")
    _write_stream_fixture(spark, rand_events, path, parts=4)

    q1, sink = _run_stream(
        spark, rand_events.schema, path, tmp_path, 2, 4, 40, max_files=1
    )
    # stop mid-stream (after >= 1 batch, before the final file)
    import time

    while q1.isActive and not q1.recentProgress:
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination()

    q2, sink2 = _run_stream(
        spark, rand_events.schema, path, tmp_path, 2, 4, 40, max_files=None
    )
    q2.awaitTermination()
    got = sorted(
        (r["user_id"], r["a_first_id"], r["a_last_id"], r["a_count"], r["b_id"])
        for r in sink2.read_data(spark).collect()
    )
    assert got == _kernel_truth(rand_events, 2, 4, 40)  # no dupes, no gaps


def test_state_bounded_by_time_window():
    """The state bound itself: feed a single hot key for many watermark
    epochs; the retained event buffer never exceeds one within-window of
    events (eviction keeps only ts >= wm - within)."""
    a_ev: list = []
    b_ev: list = []
    cursor = None
    within = 30 * US
    retained_max = 0
    rng = random.Random(9)
    t = 0
    for epoch in range(50):
        # 20 events per epoch, ~1s apart
        for _ in range(20):
            t += rng.randrange(1, 3) * US
            (a_ev if rng.random() < 0.7 else b_ev).append((t, t))
        a_ev.sort()
        b_ev.sort()
        wm = t - 5 * US
        _, cursor = _quant_then_b(
            a_ev, b_ev, 2, 4, within, close_before_us=wm, cursor=cursor
        )
        keep_from = wm - within
        a_ev = [e for e in a_ev if e[0] >= keep_from]
        b_ev = [e for e in b_ev if e[0] >= keep_from]
        retained_max = max(retained_max, len(a_ev) + len(b_ev))
    # ~35s of horizon at ~1.5s/event ≈ 24 events; assert well under history
    assert retained_max < 60, retained_max


# ---------------------------------------------------------------------------
# multi-leg patterns: L0{m0,n0} L1{m1,n1} ...
# ---------------------------------------------------------------------------


def test_kernel_three_leg_pattern():
    # A@0 A@5, B@10 B@12, C@20  (ids 1,2,3,4,5), within 60
    a = [(0, 1), (5 * US, 2)]
    b = [(10 * US, 3), (12 * US, 4)]
    c = [(20 * US, 5)]
    got, cur = pattern_matches([a, b, c], [(2, 2), (1, 2), (1, 1)], within_us=60 * US)
    # leg0 run must be {1,2}; leg1 runs after (5,2): {3},{4},{3,4}; leg2: {5}
    assert sorted(got) == [
        ((1, 2, 2), (3, 3, 1), (5, 5, 1), 0),
        ((1, 2, 2), (3, 4, 2), (5, 5, 1), 0),
        ((1, 2, 2), (4, 4, 1), (5, 5, 1), 0),
    ]
    assert cur == (5 * US, 2)


def _kernel_pattern_truth(df, legs, within_s):
    rows = df.collect()
    by_key: dict = {}
    for r in rows:
        lists = by_key.setdefault(r["user_id"], [[] for _ in legs])
        ts_us = int(r["ts"].timestamp() * US)
        for li, (_, types, _, _) in enumerate(legs):
            if types(r) if callable(types) else r["event_type"] in types:
                lists[li].append((ts_us, r["event_id"]))
    want = []
    bounds = [(m, n) for _, _, m, n in legs]
    for uid, lists in by_key.items():
        got, _ = pattern_matches([sorted(x) for x in lists], bounds, within_s * US)
        for mt in got:
            row = [uid]
            for li, (_, _, m, n) in enumerate(legs):
                if (m, n) == (0, 0):
                    continue  # negation legs emit no columns
                f, l, cnt = mt[li]
                if (m, n) == (1, 1):
                    row.append(f)
                else:
                    row += [f, l, cnt]
            want.append(tuple(row))
    return sorted(want, key=_nsk)


def _nsk(row):
    """None-safe sort key (optional-leg columns may be NULL)."""
    return tuple((v is None, v if v is not None else 0) for v in row)


def test_batch_three_leg_pattern_equals_kernel(spark, rand_events):
    legs_spec = [
        ("a", {"A"}, 1, 2),
        ("b", {"B"}, 1, 2),
        ("c", {"C"}, 1, 1),
    ]
    legs = [
        ("a", Fn.col("event_type") == "A", 1, 2),
        ("b", Fn.col("event_type") == "B", 1, 2),
        ("c", Fn.col("event_type") == "C", 1, 1),
    ]
    got = sorted(
        map(tuple, match_pattern(rand_events, legs, within_seconds=40).collect())
    )
    want = _kernel_pattern_truth(rand_events, legs_spec, 40)
    assert got == want and len(got) > 10


def test_streaming_three_leg_pattern_matches_batch(spark, rand_events, tmp_path):
    """The general NFA on a stream: one state store for a 3-leg pattern
    with a Kleene middle leg — result equals the batch twin."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    legs = [
        ("a", Fn.col("event_type") == "A", 2, 3),
        ("b", Fn.col("event_type") == "B", 1, None),  # Kleene-plus middle
        ("c", Fn.col("event_type") == "C", 1, 1),
    ]
    path = str(tmp_path / "ev")
    _write_stream_fixture(spark, rand_events, path)
    # sentinel C too (every leg's filter is pushed below its watermark node)
    sent = spark.createDataFrame(
        [(-3, -1, "C", "2024-06-01 00:00:00")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts"))
    sent.coalesce(1).write.mode("append").parquet(path)

    src = spark.readStream.schema(rand_events.schema).parquet(path).withWatermark("ts", "5 seconds")
    out = match_pattern(src, legs, within_seconds=45)
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()))
    want = sorted(
        map(tuple, match_pattern(rand_events, legs, within_seconds=45).collect())
    )
    assert got == want and len(got) > 5


# ---------------------------------------------------------------------------
# negation and optional legs (round 6: VERDICT r5 next-step #3)
# ---------------------------------------------------------------------------


def _brute_pattern(leg_events, bounds, within_us):
    """Independent re-derivation of the leg semantics (plain nested loops,
    no bisect/cursor machinery) to pin pattern_matches."""
    n_legs = len(bounds)
    out = []

    def runs_of(evs, m, n, start_after, horizon):
        res = []
        for j, f in enumerate(evs):
            if not (f > start_after) or f[0] > horizon:
                continue
            maxlen = (len(evs) - j) if n is None else min(max(n, 1), len(evs) - j)
            for ln in range(max(m, 1), maxlen + 1):
                last = evs[j + ln - 1]
                if last[0] > horizon:
                    continue
                res.append((f, last, ln))
        return res

    def rec(i, start_after, horizon, acc, anchor_ts, pending):
        if i == n_legs:
            out.append(tuple(acc) + (anchor_ts,))
            return
        m, n = bounds[i]
        evs = leg_events[i]
        if (m, n) == (0, 0):
            rec(i + 1, start_after, horizon, acc + [(None, None, 0)], anchor_ts, pending + [i])
            return
        if m == 0:
            rec(i + 1, start_after, horizon, acc + [(None, None, 0)], anchor_ts, pending)
        for f, last, ln in runs_of(evs, m, n, start_after, horizon):
            if any(start_after < e < f for li in pending for e in leg_events[li]):
                continue
            rec(i + 1, last, horizon, acc + [(f[1], last[1], ln)], anchor_ts, [])

    m0, n0 = bounds[0]
    for idx, a in enumerate(leg_events[0]):
        horizon = a[0] + within_us
        maxlen = (len(leg_events[0]) - idx) if n0 is None else min(n0, len(leg_events[0]) - idx)
        for ln in range(m0, maxlen + 1):
            last = leg_events[0][idx + ln - 1]
            if last[0] > horizon:
                continue
            head = (a[1], last[1], ln)
            if n_legs == 1:
                out.append((head, a[0]))
            else:
                rec(1, last, horizon, [head], a[0], [])
    return out


def _mk(match):
    return tuple(
        tuple(-1 if v is None else v for v in leg) if isinstance(leg, tuple) else leg
        for leg in match
    )


def test_kernel_negation_basic():
    a = [(0, 1), (5 * US, 2)]
    c = [(7 * US, 9)]  # negated: falls between A@5 and B@10 only
    b = [(3 * US, 3), (10 * US, 4)]
    got, _ = pattern_matches(
        [a, c, b], [(1, 1), (0, 0), (1, 1)], within_us=60 * US
    )
    # A@0 -> B@3 (gap (0,3): no C) ok; A@0 -> B@10 blocked by C@7;
    # A@5 -> B@10 blocked by C@7
    assert sorted(got) == [((1, 1, 1), (None, None, 0), (3, 3, 1), 0)]


def test_kernel_optional_basic():
    a = [(0, 1)]
    x = [(3 * US, 7), (5 * US, 8)]  # optional 0..1
    b = [(10 * US, 4)]
    got, _ = pattern_matches(
        [a, x, b], [(1, 1), (0, 1), (1, 1)], within_us=60 * US
    )
    assert sorted(got, key=_mk) == sorted(
        [
            ((1, 1, 1), (None, None, 0), (4, 4, 1), 0),  # empty branch
            ((1, 1, 1), (7, 7, 1), (4, 4, 1), 0),
            ((1, 1, 1), (8, 8, 1), (4, 4, 1), 0),
        ],
        key=_mk,
    )


def test_kernel_negation_optional_random_vs_brute():
    rng = random.Random(20260817)
    for _ in range(400):
        n_legs = rng.randint(2, 4)
        bounds = []
        for i in range(n_legs):
            if i == 0 or i == n_legs - 1:
                m = rng.randint(1, 2)
                n = rng.choice([m, m + 1, None])
            else:
                kind = rng.choice(["pos", "neg", "opt"])
                if kind == "pos":
                    m = rng.randint(1, 2)
                    n = rng.choice([m, m + 2, None])
                elif kind == "neg":
                    m, n = 0, 0
                else:
                    m, n = 0, rng.choice([1, 2, None])
            bounds.append((m, n))
        leg_events = []
        for _li in range(n_legs):
            k = rng.randint(0, 6)
            evs = sorted(set((rng.randint(0, 30), rng.randint(0, 100)) for _ in range(k)))
            leg_events.append(evs)
        within = rng.randint(5, 20)
        got, _ = pattern_matches(leg_events, bounds, within)
        want = _brute_pattern(leg_events, bounds, within)
        assert sorted(got, key=_mk) == sorted(want, key=_mk), (bounds, leg_events, within)


def test_kernel_work_cap_raises():
    from ksql_spark.operators.cep_nfa import PatternWorkCapExceeded, pattern_matches

    evs = [(t * US, t) for t in range(40)]  # dense run, Kleene bound
    with pytest.raises(PatternWorkCapExceeded):
        pattern_matches([evs, evs], [(1, None), (1, 1)], 1000 * US, work_cap=50)


def test_work_cap_fails_batch_and_streaming_alike(spark, tmp_path, monkeypatch):
    """One work cap for both lowerings: a dense key whose all-combinations
    matches pass the cap fails the task with PatternWorkCapExceeded, in a
    batch collect and in a stream's micro-batch alike.  The cap is read
    when the pattern is lowered, so the patched value reaches the tasks."""
    import datetime

    from ksql_spark.operators import cep_nfa
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    t0 = datetime.datetime(2024, 1, 1)
    # one key: six A then six B a second apart -> 36 (a, b) matches
    rows = [(i, 1, "A" if i < 6 else "B", t0 + datetime.timedelta(seconds=i)) for i in range(12)]
    df = spark.createDataFrame(rows, schema)
    legs = [("a", Fn.col("event_type") == "A", 1, 1), ("b", Fn.col("event_type") == "B", 1, 1)]
    assert match_pattern(df, legs, within_seconds=60).count() == 36

    monkeypatch.setattr(cep_nfa, "_WORK_CAP", 10)
    with pytest.raises(Exception, match="PatternWorkCapExceeded"):
        match_pattern(df, legs, within_seconds=60).collect()

    path = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(path)
    src = spark.readStream.schema(schema).parquet(path).withWatermark("ts", "1 minute")
    q = (
        match_pattern(src, legs, within_seconds=60)
        .writeStream.foreachBatch(ExactlyOnceParquetSink(str(tmp_path / "sink")))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="PatternWorkCapExceeded"):
        q.awaitTermination()


def test_pattern_shape_validation(spark):
    ev = None  # validation fires before the DataFrame is touched
    with pytest.raises(AnalysisError):  # leading optional: no anchor
        match_pattern(ev, [("x", Fn.lit(True), 0, 1), ("b", Fn.lit(True), 1, 1)], 10)
    with pytest.raises(AnalysisError):  # trailing negation: no closing elem
        match_pattern(ev, [("a", Fn.lit(True), 1, 1), ("x", Fn.lit(True), 0, 0)], 10)
    with pytest.raises(AnalysisError):  # n < m still rejected
        match_pattern(ev, [("a", Fn.lit(True), 3, 2), ("b", Fn.lit(True), 1, 1)], 10)


def test_batch_pattern_negation_equals_kernel(spark, rand_events):
    legs_spec = [("a", {"A"}, 1, 2), ("nc", {"C"}, 0, 0), ("b", {"B"}, 1, 1)]
    legs = [
        ("a", Fn.col("event_type") == "A", 1, 2),
        ("nc", Fn.col("event_type") == "C", 0, 0),
        ("b", Fn.col("event_type") == "B", 1, 1),
    ]
    got = sorted(
        map(tuple, match_pattern(rand_events, legs, within_seconds=40).collect()),
        key=_nsk,
    )
    want = _kernel_pattern_truth(rand_events, legs_spec, 40)
    assert got == want and len(got) > 5


def test_batch_pattern_optional_equals_kernel(spark, rand_events):
    legs_spec = [("a", {"A"}, 2, 3), ("ob", {"B"}, 0, 2), ("c", {"C"}, 1, 1)]
    legs = [
        ("a", Fn.col("event_type") == "A", 2, 3),
        ("ob", Fn.col("event_type") == "B", 0, 2),
        ("c", Fn.col("event_type") == "C", 1, 1),
    ]
    got = sorted(
        map(tuple, match_pattern(rand_events, legs, within_seconds=40).collect()),
        key=_nsk,
    )
    want = _kernel_pattern_truth(rand_events, legs_spec, 40)
    assert got == want and len(got) > 5
    # row = (user_id, a_first, a_last, a_count, ob_first, ob_last, ob_count, c_id)
    assert any(r[4] is None for r in got)  # empty-branch rows present
    assert any(r[4] is not None for r in got)


def test_batch_pattern_seven_optional_legs_equals_kernel(spark, rand_events, monkeypatch):
    """Any number of optional legs: the kernel explores each one's empty
    branch itself, so seven optional legs need no 2^7 expansion and hit
    no leg limit.  Leg i takes the C events with event_id % 7 == i, which
    keeps the all-combinations match count small.  A 16-row output chunk
    makes each partition yield several frames."""
    from ksql_spark.operators import cep_nfa

    monkeypatch.setattr(cep_nfa, "_OUT_CHUNK_ROWS", 16)

    legs_spec = [("a", {"A"}, 1, 1)]
    legs = [("a", Fn.col("event_type") == "A", 1, 1)]
    for i in range(7):
        legs_spec.append(
            (f"o{i}", lambda r, i=i: r["event_type"] == "C" and r["event_id"] % 7 == i, 0, 1)
        )
        legs.append(
            (f"o{i}", (Fn.col("event_type") == "C") & (Fn.col("event_id") % 7 == i), 0, 1)
        )
    legs_spec.append(("b", {"B"}, 1, 1))
    legs.append(("b", Fn.col("event_type") == "B", 1, 1))
    got = sorted(
        map(tuple, match_pattern(rand_events, legs, within_seconds=40).collect()),
        key=_nsk,
    )
    want = _kernel_pattern_truth(rand_events, legs_spec, 40)
    assert got == want and len(got) > 5
    # row = (user_id, a_id, then (first, last, count) per optional leg, b_id)
    assert any(sum(r[4:-1:3]) >= 2 for r in got)  # two optional legs present


def test_batch_negation_equals_chained_join(spark, rand_events):
    """Shared-fixture pin of the two negation spellings: for a 2-step
    pattern the NFA's positional (0, 0) leg and match_sequence's absent
    span leg (between the first and last step) coincide."""
    from ksql_spark.operators.cep import match_sequence

    nfa = match_pattern(
        rand_events,
        [
            ("a", Fn.col("event_type") == "A", 1, 1),
            ("nc", Fn.col("event_type") == "C", 0, 0),
            ("b", Fn.col("event_type") == "B", 1, 1),
        ],
        within_seconds=35,
    )
    chained = match_sequence(
        rand_events,
        [("a", Fn.col("event_type") == "A"), ("b", Fn.col("event_type") == "B")],
        within_seconds=35,
        absent=[("c", Fn.col("event_type") == "C")],
    )
    got = sorted((r["user_id"], r["a_id"], r["b_id"]) for r in nfa.collect())
    want = sorted((r["user_id"], r["a_id"], r["b_id"]) for r in chained.collect())
    assert got == want and len(got) > 5


def test_streaming_pattern_negation_optional_matches_batch(spark, rand_events, tmp_path):
    """The full NFA on a stream: quantified + negation + optional legs in
    one pattern, ONE state store — result equals the batch twin."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    legs = [
        ("a", Fn.col("event_type") == "A", 1, 2),
        ("nc", Fn.col("event_type") == "C", 0, 0),
        ("b", Fn.col("event_type") == "B", 1, 1),
        ("oc", Fn.col("event_type") == "C", 0, 1),
        ("b2", Fn.col("event_type") == "B", 1, 1),
    ]
    path = str(tmp_path / "ev")
    _write_stream_fixture(spark, rand_events, path)
    src = spark.readStream.schema(rand_events.schema).parquet(path).withWatermark("ts", "5 seconds")
    out = match_pattern(src, legs, within_seconds=45)
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()), key=_nsk)
    want = sorted(
        map(tuple, match_pattern(rand_events, legs, within_seconds=45).collect()),
        key=_nsk,
    )
    assert got == want and len(got) > 5


def test_streaming_string_ids(spark, tmp_path):
    """ADVICE r5: non-integer id columns must work end-to-end (native id
    values in the NFA state, ordering within the string type)."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    rng = random.Random(99)
    rows = []
    for uid in range(4):
        t = 0
        for k in range(30):
            t += rng.randrange(1, 10)
            rows.append((f"ev-{uid:02d}-{k:03d}", uid, rng.choice(["A", "A", "B"]), t))
    df = (
        spark.createDataFrame(rows, "event_id string, user_id bigint, event_type string, sec bigint")
        .select(
            "event_id", "user_id", "event_type",
            (Fn.lit("2024-01-01 00:00:00").cast("timestamp")
             + Fn.make_interval(secs=Fn.col("sec"))).alias("ts"),
        )
    )
    legs = [
        ("a", Fn.col("event_type") == "A", 2, 3),
        ("b", Fn.col("event_type") == "B", 1, 1),
    ]
    path = str(tmp_path / "ev")
    n = df.count()
    df.orderBy("ts", "event_id").coalesce(1).write.mode("append").parquet(path)
    sent = spark.createDataFrame(
        [("zz-sentinel-a", -1, "A", "2024-06-01 00:00:00"),
         ("zz-sentinel-b", -1, "B", "2024-06-01 00:00:00")],
        "event_id string, user_id bigint, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts"))
    sent.coalesce(1).write.mode("append").parquet(path)
    src = spark.readStream.schema(df.schema).parquet(path).withWatermark("ts", "5 seconds")
    out = match_pattern(src, legs, within_seconds=30, id_col="event_id")
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()))
    want = sorted(
        map(tuple, match_pattern(df, legs, within_seconds=30, id_col="event_id").collect())
    )
    assert got == want and len(got) > 5
    assert isinstance(got[0][1], str)


# ---------------------------------------------------------------------------
# AFTER MATCH `first` mode (round 6 follow-on)
# ---------------------------------------------------------------------------


def test_kernel_first_only_is_head_of_all():
    """first_only returns exactly the head of the all-matches enumeration,
    across positive / negation / optional leg mixes on random fixtures."""

    rng = random.Random(77)
    configs = [
        [(1, 2), (1, 1)],
        [(2, 3), (1, None), (1, 1)],
        [(1, 2), (0, 0), (1, 1)],
        [(1, 1), (0, 2), (1, 1)],
        [(1, 2), (0, 0), (0, 1), (1, 1)],
    ]
    checked_nonempty = 0
    for trial in range(60):
        bounds = configs[trial % len(configs)]
        legs = []
        for _ in bounds:
            t, evs = 0, []
            for i in range(rng.randrange(3, 10)):
                t += rng.randrange(1, 6) * US
                evs.append((t, rng.randrange(1000)))
            legs.append(sorted(set(evs)))
        within = rng.randrange(5, 30) * US
        all_m, _ = pattern_matches(legs, bounds, within)
        first_m, _ = pattern_matches(legs, bounds, within, first_only=True)
        assert first_m == all_m[:1]
        checked_nonempty += bool(all_m)
    assert checked_nonempty > 20, "fixtures mostly vacuous"


def _kernel_first_truth(df, legs_spec, within_s):
    """Per-key first match (kernel first_only), shaped like match_pattern
    mode='first' output rows."""

    rows = df.collect()
    by_key: dict = {}
    for r in rows:
        lists = by_key.setdefault(r["user_id"], [[] for _ in legs_spec])
        ts_us = int(r["ts"].timestamp() * US)
        for li, (_, types, _, _) in enumerate(legs_spec):
            if r["event_type"] in types:
                lists[li].append((ts_us, r["event_id"]))
    bounds = [(m, n) for _, _, m, n in legs_spec]
    want = []
    for uid, lists in by_key.items():
        got, _ = pattern_matches(
            [sorted(x) for x in lists], bounds, within_s * US, first_only=True
        )
        for mt in got:
            row = [uid]
            for li, (_, _, m, n) in enumerate(legs_spec):
                if (m, n) == (0, 0):
                    continue
                f, l, cnt = mt[li]
                if (m, n) == (1, 1):
                    row.append(f)
                else:
                    row += [f, l, cnt]
            want.append(tuple(row))
    return sorted(want, key=_nsk)


_FIRST_LEGS_SPEC = [
    ("a", {"A"}, 1, 2),
    ("nb", {"B"}, 0, 0),
    ("oc", {"C"}, 0, 1),
    ("b", {"B"}, 1, 1),
]


def _first_legs():
    return [
        ("a", Fn.col("event_type") == "A", 1, 2),
        ("nb", Fn.col("event_type") == "B", 0, 0),
        ("oc", Fn.col("event_type") == "C", 0, 1),
        ("b", Fn.col("event_type") == "B", 1, 1),
    ]


def test_batch_first_mode_equals_kernel_first(spark, rand_events):
    """match_pattern(mode='first') reproduces the kernel's canonical first
    match on a quantifier+negation+optional pattern."""

    got = sorted(
        map(
            tuple,
            match_pattern(
                rand_events, _first_legs(), within_seconds=40, mode="first"
            ).collect(),
        ),
        key=_nsk,
    )
    want = _kernel_first_truth(rand_events, _FIRST_LEGS_SPEC, 40)
    assert got == want
    assert len(got) > 3, "fixture produced almost no first matches — vacuous"
    # exactly one row per key
    assert len({r[0] for r in got}) == len(got)


def test_streaming_first_mode_matches_batch(spark, rand_events, tmp_path):
    """mode='first' on a stream, forced through many micro-batches: each
    key emits its canonical first match exactly once (done tombstone
    suppresses later batches' matches) and equals the batch twin."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    legs = _first_legs()
    path = str(tmp_path / "ev")
    _write_stream_fixture(spark, rand_events, path, parts=4)
    sent = spark.createDataFrame(
        [(-3, -1, "C", "2024-06-01 00:00:00")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts"))
    sent.coalesce(1).write.mode("append").parquet(path)

    src = (
        spark.readStream.schema(rand_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withWatermark("ts", "5 seconds")
    )
    out = match_pattern(src, legs, within_seconds=40, mode="first")
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()), key=_nsk)
    want = sorted(
        map(
            tuple,
            match_pattern(
                rand_events, legs, within_seconds=40, mode="first"
            ).collect(),
        ),
        key=_nsk,
    )
    assert got == want and len(got) > 3
    assert len({r[0] for r in got}) == len(got)


def test_bad_mode_rejected(spark, rand_events, tmp_path):
    legs = [("a", Fn.col("event_type") == "A", 1, 1),
            ("b", Fn.col("event_type") == "B", 1, 1)]
    with pytest.raises(AnalysisError, match="match mode"):
        match_pattern(rand_events, legs, 10, mode="skip-past-last")
    stream = spark.readStream.schema(rand_events.schema).parquet(str(tmp_path))
    with pytest.raises(AnalysisError, match="match mode"):
        match_pattern(stream, legs, 10, mode="last")


# ---------------------------------------------------------------------------
# AFTER MATCH SKIP PAST LAST ROW (round 6 follow-on)
# ---------------------------------------------------------------------------


def _brute_skip(leg_events, bounds, within_us):
    """Independent greedy reference: repeatedly take the first match of the
    canonically-ordered brute-force enumeration, then trim every event at
    or before its last consumed element (ids unique in fixtures)."""
    out = []
    evs = [list(l) for l in leg_events]
    while True:
        allm = _brute_pattern(evs, bounds, within_us)
        if not allm:
            return out
        m = allm[0]
        out.append(m)
        last_id = m[len(bounds) - 1][1]
        last = next(e for e in evs[len(bounds) - 1] if e[1] == last_id)
        evs = [[e for e in l if e > last] for l in evs]


def test_kernel_skip_greedy_vs_brute():
    from ksql_spark.operators.cep_nfa import pattern_matches_skip

    rng = random.Random(99)
    configs = [
        [(1, 2), (1, 1)],
        [(2, 3), (1, None), (1, 1)],
        [(1, 2), (0, 0), (1, 1)],
        [(1, 1), (0, 2), (1, 1)],
    ]
    nonempty = 0
    for trial in range(48):
        bounds = configs[trial % len(configs)]
        legs = []
        used = set()
        for _ in bounds:
            t, evs = 0, []
            for _ in range(rng.randrange(4, 12)):
                t += rng.randrange(1, 5) * US
                i = rng.randrange(10_000)
                while i in used:
                    i = rng.randrange(10_000)
                used.add(i)
                evs.append((t, i))
            legs.append(sorted(evs))
        within = rng.randrange(6, 30) * US
        got, frontier, _ = pattern_matches_skip(legs, bounds, within)
        want = _brute_skip(legs, bounds, within)
        assert got == want
        nonempty += bool(got)
        # non-overlap: each selection's anchor strictly after the previous
        # selection's last element is implied by got == want; spot-check
        # the frontier is the last selection's final element
        if got:
            last_id = got[-1][len(bounds) - 1][1]
            assert frontier[1] == last_id
    assert nonempty > 15, "fixtures mostly vacuous"


def test_batch_skip_equals_kernel(spark, rand_events):
    """applyInPandas skip lowering == per-key kernel greedy, on the
    quantifier+negation+optional pattern."""
    from ksql_spark.operators.cep_nfa import pattern_matches_skip

    got = sorted(
        map(
            tuple,
            match_pattern(
                rand_events, _first_legs(), within_seconds=40,
                mode="skip_past_last",
            ).collect(),
        ),
        key=_nsk,
    )
    rows = rand_events.collect()
    by_key: dict = {}
    for r in rows:
        lists = by_key.setdefault(r["user_id"], [[] for _ in _FIRST_LEGS_SPEC])
        ts_us = int(r["ts"].timestamp() * US)
        for li, (_, types, _, _) in enumerate(_FIRST_LEGS_SPEC):
            if r["event_type"] in types:
                lists[li].append((ts_us, r["event_id"]))
    bounds = [(m, n) for _, _, m, n in _FIRST_LEGS_SPEC]
    want = []
    for uid, lists in by_key.items():
        m, _, _ = pattern_matches_skip([sorted(x) for x in lists], bounds, 40 * US)
        for mt in m:
            row = [uid]
            for li, (_, _, bm, bn) in enumerate(_FIRST_LEGS_SPEC):
                if (bm, bn) == (0, 0):
                    continue
                f, l, cnt = mt[li]
                if (bm, bn) == (1, 1):
                    row.append(f)
                else:
                    row += [f, l, cnt]
            want.append(tuple(row))
    want = sorted(want, key=_nsk)
    assert got == want and len(got) > 5
    # greedy output is a strict subset of all-matches and >= one per matched key
    alln = match_pattern(rand_events, _first_legs(), within_seconds=40).count()
    assert len(got) < alln


def test_streaming_skip_matches_batch(spark, rand_events, tmp_path):
    """skip_past_last on a stream through many micro-batches: the persisted
    (cursor, frontier) pair reproduces the batch greedy selection."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    legs = _first_legs()
    path = str(tmp_path / "ev")
    _write_stream_fixture(spark, rand_events, path, parts=4)
    sent = spark.createDataFrame(
        [(-3, -1, "C", "2024-06-01 00:00:00")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts"))
    sent.coalesce(1).write.mode("append").parquet(path)

    src = (
        spark.readStream.schema(rand_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withWatermark("ts", "5 seconds")
    )
    out = match_pattern(src, legs, within_seconds=40, mode="skip_past_last")
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()), key=_nsk)
    want = sorted(
        map(
            tuple,
            match_pattern(
                rand_events, legs, within_seconds=40, mode="skip_past_last"
            ).collect(),
        ),
        key=_nsk,
    )
    assert got == want and len(got) > 5


def test_streaming_skip_kill_resume_exactly_once(spark, rand_events, tmp_path):
    """Stop mid-stream, resume from checkpoint: the persisted (cursor,
    frontier) pair recovers and the greedy selection is emitted exactly
    once, identical to the uninterrupted batch greedy."""
    import time

    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    legs = _first_legs()
    path = str(tmp_path / "ev")
    _write_stream_fixture(spark, rand_events, path, parts=4)
    sent = spark.createDataFrame(
        [(-3, -1, "C", "2024-06-01 00:00:00")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts"))
    sent.coalesce(1).write.mode("append").parquet(path)

    def run(max_files):
        reader = spark.readStream.schema(rand_events.schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        src = reader.parquet(path).withWatermark("ts", "5 seconds")
        out = match_pattern(src, legs, within_seconds=40, mode="skip_past_last")
        sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        return q, sink

    q1, _ = run(max_files=1)
    while q1.isActive and not q1.recentProgress:
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination()

    q2, sink2 = run(max_files=None)
    q2.awaitTermination()
    got = sorted(map(tuple, sink2.read_data(spark).collect()), key=_nsk)
    want = sorted(
        map(
            tuple,
            match_pattern(
                rand_events, legs, within_seconds=40, mode="skip_past_last"
            ).collect(),
        ),
        key=_nsk,
    )
    assert got == want and len(got) > 5  # no dupes, no gaps


# ---------------------------------------------------------------------------
# AFTER MATCH SKIP TO NEXT ROW (round 6 follow-on)
# ---------------------------------------------------------------------------


def test_kernel_skip_to_next_is_first_per_anchor():
    """per_anchor_first returns exactly the first match of each anchor in
    the all-matches enumeration order, across positive / negation /
    optional leg mixes — and is bounded by the leg-0 event count."""

    rng = random.Random(123)
    configs = [
        [(1, 2), (1, 1)],
        [(2, 3), (1, None), (1, 1)],
        [(1, 2), (0, 0), (1, 1)],
        [(1, 1), (0, 2), (1, 1)],
        [(1, 2), (0, 0), (0, 1), (1, 1)],
    ]
    nonempty = 0
    for trial in range(60):
        bounds = configs[trial % len(configs)]
        legs = []
        for _ in bounds:
            t, evs = 0, []
            for i in range(rng.randrange(3, 10)):
                t += rng.randrange(1, 6) * US
                evs.append((t, rng.randrange(1000)))
            legs.append(sorted(set(evs)))
        within = rng.randrange(5, 30) * US
        all_m, _ = pattern_matches(legs, bounds, within)
        got, _ = pattern_matches(legs, bounds, within, per_anchor_first=True)
        seen, want = set(), []
        for m in all_m:
            anchor = (m[-1], m[0][0])  # (anchor_ts, leg-0 first_id)
            if anchor not in seen:
                seen.add(anchor)
                want.append(m)
        assert got == want
        assert len(got) <= len(legs[0])
        nonempty += bool(got)
    assert nonempty > 20, "fixtures mostly vacuous"


def test_batch_skip_to_next_equals_kernel(spark, rand_events):
    """match_pattern(mode='skip_to_next') reproduces the kernel's
    first-per-anchor selection on the quantifier+negation+optional
    pattern."""

    got = sorted(
        map(
            tuple,
            match_pattern(
                rand_events, _first_legs(), within_seconds=40,
                mode="skip_to_next",
            ).collect(),
        ),
        key=_nsk,
    )
    rows = rand_events.collect()
    by_key: dict = {}
    for r in rows:
        lists = by_key.setdefault(r["user_id"], [[] for _ in _FIRST_LEGS_SPEC])
        ts_us = int(r["ts"].timestamp() * US)
        for li, (_, types, _, _) in enumerate(_FIRST_LEGS_SPEC):
            if r["event_type"] in types:
                lists[li].append((ts_us, r["event_id"]))
    bounds = [(m, n) for _, _, m, n in _FIRST_LEGS_SPEC]
    want = []
    for uid, lists in by_key.items():
        m, _ = pattern_matches(
            [sorted(x) for x in lists], bounds, 40 * US, per_anchor_first=True
        )
        for mt in m:
            row = [uid]
            for li, (_, _, bm, bn) in enumerate(_FIRST_LEGS_SPEC):
                if (bm, bn) == (0, 0):
                    continue
                f, l, cnt = mt[li]
                if (bm, bn) == (1, 1):
                    row.append(f)
                else:
                    row += [f, l, cnt]
            want.append(tuple(row))
    want = sorted(want, key=_nsk)
    assert got == want and len(got) > 5
    # between the two other selective modes: fewer rows than all-matches,
    # at least as many as per-key first
    alln = match_pattern(rand_events, _first_legs(), within_seconds=40).count()
    firstn = match_pattern(
        rand_events, _first_legs(), within_seconds=40, mode="first"
    ).count()
    assert firstn <= len(got) < alln


def test_streaming_skip_to_next_matches_batch(spark, rand_events, tmp_path):
    """skip_to_next on a stream through many micro-batches: all-mode
    buffering with per-anchor-first enumeration equals the batch twin."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    legs = _first_legs()
    path = str(tmp_path / "ev")
    _write_stream_fixture(spark, rand_events, path, parts=4)
    sent = spark.createDataFrame(
        [(-3, -1, "C", "2024-06-01 00:00:00")],
        "event_id bigint, user_id bigint, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts"))
    sent.coalesce(1).write.mode("append").parquet(path)

    src = (
        spark.readStream.schema(rand_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withWatermark("ts", "5 seconds")
    )
    out = match_pattern(src, legs, within_seconds=40, mode="skip_to_next")
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()), key=_nsk)
    want = sorted(
        map(
            tuple,
            match_pattern(
                rand_events, legs, within_seconds=40, mode="skip_to_next"
            ).collect(),
        ),
        key=_nsk,
    )
    assert got == want and len(got) > 5


def test_reserved_leg_name_prefix_rejected(spark):
    """ADVICE r6: '__'-prefixed leg names collide with the engine-internal
    column namespace (__k, __ts, __id, __p<i>) and must be rejected up
    front."""
    import pytest
    from pyspark.sql import functions as F

    from ksql_spark.errors import AnalysisError

    df = spark.createDataFrame([(1, 1, "a")], "user_id bigint, event_id bigint, event_type string").select(
        "user_id", "event_id", F.current_timestamp().alias("ts"), "event_type"
    )
    with pytest.raises(AnalysisError, match="reserved"):
        match_pattern(
            df,
            [("__order", F.col("event_type") == "a", 1, 1),
             ("b", F.col("event_type") == "b", 1, 1)],
            within_seconds=60,
        )


@pytest.mark.parametrize("mode", ["all", "first", "skip_to_next", "skip_past_last"])
def test_null_keys_never_match_batch_equals_streaming(spark, rand_events, tmp_path, mode):
    """One NULL contract for batch and streaming: events whose key, ts or
    id is NULL never match.  A NULL-key user (a copy of user 0's events,
    which do match) yields no rows; NULL-ts and NULL-id copies of user 1's
    events (the NULL ids tied on ts with their originals) change nothing;
    and the streaming NFA returns exactly the batch rows."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    null_user = rand_events.filter(Fn.col("user_id") == 0).select(
        (Fn.col("event_id") + 10_000).alias("event_id"),
        Fn.lit(None).cast("bigint").alias("user_id"),
        "event_type",
        "ts",
    )
    user1 = rand_events.filter(Fn.col("user_id") == 1)
    null_ts = user1.select(
        (Fn.col("event_id") + 20_000).alias("event_id"), "user_id", "event_type",
        Fn.lit(None).cast("timestamp").alias("ts"),
    )
    null_id = user1.select(
        Fn.lit(None).cast("bigint").alias("event_id"), "user_id", "event_type", "ts",
    )
    events = rand_events.unionByName(null_user).unionByName(null_ts).unionByName(null_id)
    legs = [("a", Fn.col("event_type") == "A", 1, 2), ("b", Fn.col("event_type") == "B", 1, 1)]
    batch = match_pattern(events, legs, within_seconds=40, mode=mode).collect()
    user0 = match_pattern(rand_events.filter(Fn.col("user_id") == 0), legs, 40, mode=mode)
    assert user0.count() > 0  # the NULL-key copy would match if keys did not matter
    clean = match_pattern(rand_events, legs, within_seconds=40, mode=mode).collect()
    assert sorted(map(tuple, batch), key=_nsk) == sorted(map(tuple, clean), key=_nsk)

    path = str(tmp_path / "ev")
    _write_stream_fixture(spark, events, path)
    src = spark.readStream.schema(events.schema).parquet(path).withWatermark("ts", "5 seconds")
    out = match_pattern(src, legs, within_seconds=40, mode=mode)
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = [r for r in sink.read_data(spark).collect() if r["user_id"] != -1]

    assert all(r["user_id"] is not None for r in batch + stream)
    assert sorted(map(tuple, stream), key=_nsk) == sorted(map(tuple, batch), key=_nsk)
    assert len(batch) > 5


def test_streaming_watermark_moves_on_non_leg_events(spark, tmp_path):
    """Every event moves the streaming NFA's watermark, not only the ones a
    leg accepts: ``a``@t0 and ``b``@t0+10s match within 60 s, and a
    non-leg ``x`` thirty days later is the only event past that window.
    The watermark must reach ``x``'s time minus the 1-minute delay, so the
    a→b match closes and is emitted."""
    import datetime

    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    t0 = datetime.datetime(2024, 1, 1)
    far = t0 + datetime.timedelta(days=30)
    path = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, 7, "a", t0), (2, 7, "b", t0 + datetime.timedelta(seconds=10)), (3, 8, "x", far)],
        "event_id bigint, user_id bigint, event_type string, ts timestamp",
    ).coalesce(1).write.parquet(path)
    src = (
        spark.readStream.schema("event_id bigint, user_id bigint, event_type string, ts timestamp")
        .parquet(path)
        .withWatermark("ts", "1 minute")
    )
    legs = [("a", Fn.col("event_type") == "a", 1, 1), ("b", Fn.col("event_type") == "b", 1, 1)]
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        match_pattern(src, legs, within_seconds=60)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    def times(field):
        return [
            datetime.datetime.fromisoformat(p["eventTime"][field].replace("Z", "+00:00"))
            for p in q.recentProgress if field in p["eventTime"]
        ]

    assert max(times("max")) - min(times("min")) == far - t0
    assert max(times("watermark")) == max(times("max")) - datetime.timedelta(minutes=1)
    assert [tuple(r) for r in sink.read_data(spark).collect()] == [(7, 1, 2)]
