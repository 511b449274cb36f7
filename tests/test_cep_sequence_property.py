"""Property test for ``cep.match_sequence``: on random keyed streams with
timestamp ties and duplicated events, every pattern shape returns exactly
the rows of a brute-force Python enumeration of its relational definition:

  * a match is one event per step, strictly increasing in (ts, id) order,
    with the last step at most ``within`` after the first;
  * an ``absent`` leg drops the match if one of its events lies strictly
    between the match's first and last element;
  * each ``optional`` leg contributes every one of its events strictly
    inside that span, or one NULL — several optional legs multiply;
  * ``mode="first"`` keeps, per key, the least row by the steps' (ts, id)
    tuple, then the optional legs' (NULL first).

Duplicated events count as separate rows (a match per copy).  Each case is
one Spark job, so the streams are drawn from fixed seeds instead of a
hypothesis search; one case runs the same check on a stream across a
kill/resume.
"""

from __future__ import annotations

import itertools
import random
import time

import pytest
from pyspark.sql import functions as Fn

from ksql_spark.operators.cep import match_sequence, repeat

SCHEMA = "event_id bigint, user_id bigint, event_type string, sec bigint"


def _rows(seed: int, n_events: int = 64, n_keys: int = 4) -> list[tuple]:
    """Random (event_id, user_id, event_type, sec) rows: seconds drawn from a
    narrow range so ties are common, plus verbatim copies of some rows."""
    rng = random.Random(seed)
    rows = [
        (eid, rng.randrange(n_keys), rng.choice("AABC"), rng.randrange(45))
        for eid in range(1, n_events + 1)
    ]
    return rows + rng.sample(rows, n_events // 6)


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).select(
        "event_id",
        "user_id",
        "event_type",
        (Fn.lit("2024-01-01 00:00:00").cast("timestamp")
         + Fn.make_interval(secs=Fn.col("sec"))).alias("ts"),
    )


def _truth(rows, steps, within, absent=(), optional=(), mode="all") -> list[tuple]:
    """The relational definition, by brute force.  ``steps`` / ``absent`` /
    ``optional`` are event-type sets; rows are (key, step ids..., optional
    ids...)."""
    out = []
    for key in sorted({r[1] for r in rows}):
        evs = sorted((sec, eid, typ) for eid, k, typ, sec in rows if k == key)

        def leg(types):
            return [(sec, eid) for sec, eid, typ in evs if typ in types]

        def inside(types, first, last):
            return [e for e in leg(types) if first < e < last]

        found = []
        for combo in itertools.product(*[leg(t) for t in steps]):
            if any(a >= b for a, b in zip(combo, combo[1:])):
                continue
            first, last = combo[0], combo[-1]
            if last[0] > first[0] + within:
                continue
            if any(inside(t, first, last) for t in absent):
                continue
            opts = [inside(t, first, last) or [None] for t in optional]
            found += [(combo, o) for o in itertools.product(*opts)]
        if mode == "first" and found:
            found = [min(found, key=lambda f: (f[0], [(0,) if e is None else (1, e) for e in f[1]]))]
        out += [
            (key, *[e[1] for e in combo], *[None if e is None else e[1] for e in o])
            for combo, o in found
        ]
    return sorted(out, key=repr)


def _pred(types):
    return Fn.col("event_type").isin(*sorted(types))


def _pattern(steps, absent, optional, use_repeat):
    """(match_sequence keyword args, output columns) for event-type sets."""
    if use_repeat:  # steps[:-1] are one repeated type set
        named = [*repeat("r", _pred(steps[0]), len(steps) - 1), ("s", _pred(steps[-1]))]
    else:
        named = [(f"s{i}", _pred(t)) for i, t in enumerate(steps)]
    kw = dict(
        steps=named,
        absent=[(f"x{i}", _pred(t)) for i, t in enumerate(absent)],
        optional=[(f"o{i}", _pred(t)) for i, t in enumerate(optional)],
    )
    cols = ["user_id"] + [f"{n}_id" for n, _ in named] + [f"o{i}_id" for i in range(len(optional))]
    return kw, cols


CASES = {
    # name: (steps, absent, optional, mode, use_repeat, within)
    "two_steps": (["A", "B"], [], [], "all", False, 12),
    "two_steps_first": (["A", "B"], [], [], "first", False, 12),
    "three_steps_overlapping_preds": (["AB", "B", "C"], [], [], "all", False, 15),
    "repeat3_then_b": (["A", "A", "A", "B"], [], [], "all", True, 20),
    "four_steps_first": (["A", "B", "A", "C"], [], [], "first", False, 25),
    "absent": (["A", "B"], ["C"], [], "all", False, 12),
    "absent_on_a_step_type": (["A", "B", "C"], ["A"], [], "all", False, 15),
    "absent_first": (["A", "C"], ["B"], [], "first", False, 15),
    "optional": (["A", "B"], [], ["C"], "all", False, 12),
    "two_optional_first": (["A", "B"], [], ["C", "A"], "first", False, 15),
    "absent_and_two_optional": (["A", "C"], ["B"], ["A", "C"], "all", False, 15),
}


@pytest.mark.parametrize("seed", [11, 12])
@pytest.mark.parametrize("case", sorted(CASES))
def test_match_sequence_equals_relational_definition(spark, case, seed):
    steps, absent, optional, mode, use_repeat, within = CASES[case]
    rows = _rows(seed)
    kw, cols = _pattern(steps, absent, optional, use_repeat)
    got = match_sequence(_frame(spark, rows), within_seconds=within, mode=mode, **kw)
    got = sorted(map(tuple, got.select(*cols).collect()), key=repr)
    assert got == _truth(rows, steps, within, absent, optional, mode)


def test_streaming_equals_batch_across_kill_resume(spark, tmp_path):
    """The stream of four files, one per micro-batch, is stopped after its
    first committed epoch and resumed from the checkpoint: the committed
    rows equal the batch answer and the brute-force one, duplicates
    included, each exactly once."""
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    rows = _rows(13)
    steps = ["A", "B", "C"]
    kw, cols = _pattern(steps, [], [], False)
    path = str(tmp_path / "ev")
    for i in range(4):  # file i holds every fourth row, so matches straddle files
        _frame(spark, rows[i::4]).coalesce(1).write.mode("append").parquet(path)
        time.sleep(0.05)  # distinct mod-times: a deterministic file order

    def start(sink):
        src = (
            spark.readStream.schema(_frame(spark, rows[:1]).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .withWatermark("ts", "1 day")
        )
        m = match_sequence(src, within_seconds=15, **kw).select(*cols)
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
    q.stop()
    q.awaitTermination()
    assert sink.committed_batches(), "no epoch committed before the stop"
    start(sink).awaitTermination()

    got = sorted(map(tuple, sink.read_data(spark).collect()), key=repr)
    batch = match_sequence(_frame(spark, rows), within_seconds=15, **kw).select(*cols)
    want = _truth(rows, steps, 15)
    assert got == sorted(map(tuple, batch.collect()), key=repr) == want
    assert len(want) > 10
