"""Session windows under EMIT CHANGES: a custom stateful operator.

Spark's built-in ``session_window`` aggregation rejects ``update`` output
mode (STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION), but ksqlDB's session
windows are changelogs (reference: ksql/window.go:83-88 with EMIT CHANGES,
select_builder.go:231-234).  This module closes the gap with a per-key
merge kernel that runs on the keyed-state driver (``streaming/keyed.py``):
this module supplies the fold and the flush, the driver loads and stores
each key's state in the state store and re-arms its timeout; rows move as
Arrow batches, no per-row Python.  ``bounded.bounded_agg_changelog`` builds
the operator around it, for a session window as for the bounded kernel:
the key and masked-input projection, the output schema and the slot
columns.  The session watermark is the query's own, applied upstream
before any WHERE filter, so every event moves it.

Semantics (identical to batch ``session_window`` + the changelog contract):

  * a session is a maximal run of events per key where consecutive events
    are less than ``gap`` apart; ``window_end = last_event_ts + gap``;
  * every micro-batch emits an upsert ('U') row for each session it touched
    (created, extended, or merged);
  * when two previously-emitted sessions merge, the stale identities are
    retracted with tombstone rows ('D') — the exactly-once sink's
    ``read_latest_state`` drops retracted keys, so the QUERYABLE view always
    equals the batch recomputation;
  * state per key is the open-session list (closed sessions are evicted on
    event-time timeout once the watermark passes ``window_end``), so state
    size is bounded by concurrent open sessions, not history; its layout
    tag covers the gap, the aggregates' kinds and input types and the key
    count, so a resume under another gap or aggregate list is refused.

Scale notes: the only shuffle is the groupBy on the session key (same as any
session aggregation); per-key state is O(open sessions); Arrow batches keep
the Python boundary amortized.

Aggregates must merge without replay: COUNT / SUM / MIN / MAX / AVG, on
the aggregate-slot algebra the bounded kernel also runs
(``streaming/bounded.py``: the spec builder, the masked projection, one
``(value, n)`` slot per aggregate merged by ``combine``, and the output
lowering).  The contract is batch ``session_window``'s: NULL inputs are
skipped (a session with none gives NULL, COUNT 0), NaN is a value (the
greatest double for MIN/MAX, propagated by SUM/AVG, counted by COUNT),
integral SUM is exact beyond 2^53.  SUM/AVG need an integral or
floating-point input; COUNT and MIN/MAX take any orderable type.
Output types: COUNT bigint, SUM bigint/double, MIN/MAX the input type,
AVG double.
"""

from __future__ import annotations

from itertools import repeat

from .bounded import combine, emit_slots

US = 1_000_000  # microseconds per second


def _session_func(gap_seconds: float, n_keys: int, specs: list[dict]) -> tuple:
    """The session kernel's ``(fold, flush)`` pair for
    :func:`~.keyed.apply_keyed` (closures, no driver state).

    A key's state is its list of open sessions ``(start_us, end_us,
    slots, new)``, one ``(value, n)`` slot per aggregate.  Every stored
    session was emitted under its current bounds; ``fold`` appends each
    event as a ``new`` single-event session and ``flush`` merges them in."""
    import numpy as np  # noqa: PLC0415 — executor-side import
    import pandas as pd  # noqa: PLC0415 — executor-side import

    gap_us = int(gap_seconds * US)
    kinds = [(s["kind"], s["is_float"]) for s in specs]
    empty = [(None, 0)] * len(specs)

    def merge(a: list, b: list) -> list:
        return [combine(k, x, y, f) for (k, f), x, y in zip(kinds, a, b)]

    def emit_df(key, rows) -> pd.DataFrame:
        # int64 µs -> datetime64[us] via a view: the values ARE epoch
        # micros, so this is a dtype relabel, not a conversion (r7 — the
        # two pd.to_datetime calls per key dominated emit cost)
        data = {
            "window_start": pd.Series(
                np.fromiter((r[0] for r in rows), dtype="int64", count=len(rows)).view("M8[us]")
            ),
            "window_end": pd.Series(
                np.fromiter((r[1] for r in rows), dtype="int64", count=len(rows)).view("M8[us]")
            ),
        }
        for k in range(n_keys):
            data[f"__k{k}"] = [key[k]] * len(rows)
        for j, (kind, _) in enumerate(kinds):
            emit_slots(data, j, kind, [r[2][j] for r in rows])
        data["__op"] = [r[3] for r in rows]
        return pd.DataFrame(data)

    def fold(key, sessions, pdf) -> list:
        ts_us = (pdf["__ts"].astype("int64").to_numpy() // 1000).tolist()  # ns -> us
        # one single-event slot per aggregate: (value, 1), or (None, 0)
        # where the input is NULL (the JVM-side mask; NaN is a value)
        per_agg = []
        for j, (kind, _) in enumerate(kinds):
            masked = pdf[f"__m{j}"].tolist()
            vals = repeat(None) if kind == "count" else pdf[f"__a{j}"].tolist()
            per_agg.append([(None, 0) if m else (v, 1) for v, m in zip(vals, masked)])
        sessions = list(sessions or [])
        sessions += [(t, t + gap_us, slots, True) for t, *slots in zip(ts_us, *per_agg)]
        return sessions

    def flush(key, sessions, wm_us: int, timed_out: bool):
        if timed_out:
            # evict sessions the watermark has closed; nothing to emit (the
            # changelog already carries their final upsert)
            open_sessions = [s for s in sessions if s[1] > wm_us]
            return None, open_sessions or None, _deadline(open_sessions)

        # -- merge overlapping/touching [start, end) intervals --------------
        merged: list[list] = []  # [start, end, slots, dirty, emitted identity]
        retracted: list[tuple[int, int]] = []
        for start, end, slots, new in sorted(sessions, key=lambda s: (s[0], s[1])):
            if merged and start < merged[-1][1]:
                cur = merged[-1]
                cur[1] = max(cur[1], end)
                cur[2] = merge(cur[2], slots)
                cur[3] = True
                # a previously-emitted identity absorbed by this merge must
                # be retracted (unless it IS the surviving identity)
                if not new:
                    retracted.append((start, end))
            else:
                merged.append([start, end, slots, new, None if new else (start, end)])

        rows = []  # (start_us, end_us, slots, op)
        survivors = set()
        for start, end, slots, dirty, emitted in merged:
            survivors.add((start, end))
            if dirty:
                # a surviving session whose bounds grew also leaves a stale
                # previously-emitted identity behind — retract it too
                if emitted not in (None, (start, end)):
                    retracted.append(emitted)
                rows.append((start, end, slots, "U"))
        for ident in retracted:
            if ident not in survivors:
                rows.append((ident[0], ident[1], empty, "D"))

        open_sessions = [(s, e, p, False) for s, e, p, _, _ in merged if e > wm_us]
        frame = emit_df(key, rows) if rows else None
        return frame, open_sessions or None, _deadline(open_sessions)

    def _deadline(sessions: list) -> int | None:
        return min(s[1] for s in sessions) if sessions else None

    return fold, flush
