"""Session windows under EMIT CHANGES: a custom stateful operator.

Spark's built-in ``session_window`` aggregation rejects ``update`` output
mode (STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION), but ksqlDB's session
windows are changelogs (reference: ksql/window.go:83-88 with EMIT CHANGES,
select_builder.go:231-234).  This module closes the gap with a per-key
merge kernel that runs on the keyed-state driver (``streaming/keyed.py``):
this module supplies the fold and the flush, the driver loads and stores
each key's state in the state store and re-arms its timeout; rows move as
Arrow batches, no per-row Python.

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
    tag covers the gap, the aggregates' slot kinds and the key count, so a
    resume under another gap or aggregate list is refused.

Scale notes: the only shuffle is the groupBy on the session key (same as any
session aggregation); per-key state is O(open sessions); Arrow batches keep
the Python boundary amortized.  Aggregates must be algebraic to merge
sessions without replay — COUNT / SUM / MIN / MAX / AVG are supported.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..errors import AnalysisError
from ..expr import Avg, Count, Max, Min, Sum
from .keyed import apply_keyed

US = 1_000_000  # microseconds per second

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")
_FLOATING = ("float", "double")


class AggSpec:
    """One algebraic aggregate in the session output.

    ``slot_kinds`` types each partial slot ('long' | 'double'): integral SUM/
    MIN/MAX/COUNT partials stay exact Python ints end-to-end (a float64 slot
    silently loses exactness above 2^53, diverging from the batch path).
    """

    def __init__(
        self, kind: str, in_col: str, out_name: str, out_type: str, in_integral: bool = False
    ):
        self.kind = kind  # count | sum | min | max | avg (avg = sum+count)
        self.in_col = in_col
        self.out_name = out_name
        self.out_type = out_type  # spark sql type string for the output
        if kind == "count":
            self.slot_kinds = ["long"]
        elif kind == "avg":
            # (sum, count); integral input keeps an exact long sum slot
            self.slot_kinds = ["long" if in_integral else "double", "long"]
        else:
            self.slot_kinds = ["long" if in_integral else "double"]

    @property
    def n_slots(self) -> int:
        return len(self.slot_kinds)


def _require_numeric(f, dtype: str) -> None:
    if dtype not in _INTEGRAL + _FLOATING:
        raise AnalysisError(
            f"session window EMIT CHANGES requires a numeric input for "
            f"{type(f).__name__} (got {dtype}); use EMIT FINAL or a pull query"
        )


def agg_specs_from_fields(fields, df: DataFrame) -> list[AggSpec]:
    """Map builder aggregate fields to algebraic specs (input col = __a<i>)."""
    specs: list[AggSpec] = []
    in_dtypes = dict(df.dtypes)
    for i, f in enumerate(fields):
        in_col = f"__a{i}"
        name = f.output_name()
        if isinstance(f, Count):
            specs.append(AggSpec("count", in_col, name, "bigint", in_integral=True))
        elif isinstance(f, Sum):
            src = in_dtypes.get(in_col, "double")
            _require_numeric(f, src)
            integral = src in _INTEGRAL
            out = "bigint" if integral else "double"
            specs.append(AggSpec("sum", in_col, name, out, in_integral=integral))
        elif isinstance(f, (Min, Max)):
            src = in_dtypes.get(in_col, "double")
            _require_numeric(f, src)
            specs.append(
                AggSpec(
                    "min" if isinstance(f, Min) else "max",
                    in_col, name, src, in_integral=src in _INTEGRAL,
                )
            )
        elif isinstance(f, Avg):
            src = in_dtypes.get(in_col, "double")
            _require_numeric(f, src)
            specs.append(AggSpec("avg", in_col, name, "double", in_integral=src in _INTEGRAL))
        else:
            raise AnalysisError(
                f"session window EMIT CHANGES supports algebraic aggregates "
                f"(COUNT/SUM/MIN/MAX/AVG); got {type(f).__name__} — use EMIT FINAL "
                "or a pull query for non-mergeable aggregates"
            )
    return specs


def _session_func(gap_seconds: float, n_keys: int, specs: list[AggSpec]) -> tuple:
    """The session kernel's ``(fold, flush)`` pair for
    :func:`~.keyed.apply_keyed` (closures, no driver state).

    A key's state is its list of open sessions ``(start_us, end_us,
    partial, new)``.  Every stored session was emitted under its current
    bounds; ``fold`` appends each event as a ``new`` single-event session
    and ``flush`` merges them in."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    gap_us = int(gap_seconds * US)
    n_slots = sum(s.n_slots for s in specs)
    # None is the identity element for every merge (SQL semantics:
    # aggregates skip NULL inputs)
    _OPS = {"add": lambda a, b: a + b, "min": min, "max": max}

    def _conv(kind: str, v):
        return int(v) if kind == "long" else float(v)

    def new_partial(row_vals) -> list:
        out: list = []
        for s, v in zip(specs, row_vals):
            if s.kind == "count":
                out.append(0 if v is None else 1)
            elif s.kind == "avg":
                if v is None:
                    out.extend([None, 0])
                else:
                    out.extend([_conv(s.slot_kinds[0], v), 1])
            else:  # sum | min | max
                out.append(None if v is None else _conv(s.slot_kinds[0], v))
        return out

    def _merge_slot(op: str, a, b):
        if a is None:
            return b
        if b is None:
            return a
        return _OPS[op](a, b)

    def merge_partial(a: list, b: list) -> list:
        out: list = []
        i = 0
        for s in specs:
            if s.kind in ("count", "sum"):
                out.append(_merge_slot("add", a[i], b[i]))
                i += 1
            elif s.kind == "avg":
                out.append(_merge_slot("add", a[i], b[i]))
                out.append(_merge_slot("add", a[i + 1], b[i + 1]))
                i += 2
            else:  # min | max
                out.append(_merge_slot(s.kind, a[i], b[i]))
                i += 1
        return out

    def finish(p: list) -> list:
        out: list = []
        i = 0
        for s in specs:
            if s.kind == "avg":
                out.append(p[i] / p[i + 1] if (p[i] is not None and p[i + 1]) else None)
                i += 2
            else:
                out.append(p[i])
                i += 1
        return out

    def emit_df(key, rows) -> pd.DataFrame:
        import numpy as np  # noqa: PLC0415 — executor-side import

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
        finished = [finish(r[2]) for r in rows]
        for j in range(len(specs)):
            # object dtype: a mixed int/None column must NOT collapse to
            # float64 (Arrow converts object int+None to exact int64)
            data[f"__o{j}"] = pd.Series([f[j] for f in finished], dtype=object)
        data["__op"] = [r[3] for r in rows]
        return pd.DataFrame(data)

    def fold(key, sessions, pdf) -> list:
        ts_us = (pdf["__ts"].astype("int64").to_numpy() // 1000).tolist()  # ns -> us
        # vectorized NULL masks + plain-python values once per frame
        # instead of a pd.isna call per cell (r7)
        vals = [pdf[s.in_col].to_numpy() for s in specs]
        nulls = [pd.isna(v) for v in vals]
        vals = [v.tolist() for v in vals]
        sessions = list(sessions or [])
        for r, t in enumerate(ts_us):
            row_vals = [None if nulls[j][r] else vals[j][r] for j in range(len(specs))]
            sessions.append((t, t + gap_us, new_partial(row_vals), True))
        return sessions

    def flush(key, sessions, wm_us: int, timed_out: bool):
        if timed_out:
            # evict sessions the watermark has closed; nothing to emit (the
            # changelog already carries their final upsert)
            open_sessions = [s for s in sessions if s[1] > wm_us]
            return None, open_sessions or None, _deadline(open_sessions)

        # -- merge overlapping/touching [start, end) intervals --------------
        merged: list[list] = []  # [start, end, partial, dirty, emitted identity]
        retracted: list[tuple[int, int]] = []
        for start, end, p, new in sorted(sessions, key=lambda s: (s[0], s[1])):
            if merged and start < merged[-1][1]:
                cur = merged[-1]
                cur[1] = max(cur[1], end)
                cur[2] = merge_partial(cur[2], p)
                cur[3] = True
                # a previously-emitted identity absorbed by this merge must
                # be retracted (unless it IS the surviving identity)
                if not new:
                    retracted.append((start, end))
            else:
                merged.append([start, end, p, new, None if new else (start, end)])

        rows = []  # (start_us, end_us, partial, op)
        survivors = set()
        for start, end, p, dirty, emitted in merged:
            survivors.add((start, end))
            if dirty:
                # a surviving session whose bounds grew also leaves a stale
                # previously-emitted identity behind — retract it too
                if emitted not in (None, (start, end)):
                    retracted.append(emitted)
                rows.append((start, end, p, "U"))
        for ident in retracted:
            if ident not in survivors:
                rows.append((ident[0], ident[1], [None] * n_slots, "D"))

        open_sessions = [(s, e, p, False) for s, e, p, _, _ in merged if e > wm_us]
        frame = emit_df(key, rows) if rows else None
        return frame, open_sessions or None, _deadline(open_sessions)

    def _deadline(sessions: list) -> int | None:
        return min(s[1] for s in sessions) if sessions else None

    return fold, flush


def session_changelog(
    df: DataFrame,
    ts_col: str,
    keys: list[tuple[str, Column]],
    gap_seconds: float,
    fields,
    grace: str = "10 minutes",
) -> DataFrame:
    """Compile a session-window EMIT CHANGES aggregate over a stream.
    ``keys`` are (output_name, key expression) pairs; ``fields`` are the
    builder's aggregate fields (algebraic only); the watermark (``grace``)
    is applied here on the projected event time.

    Output: window_start, window_end, <keys...>, <aggs...>, __op — the same
    shape as the built-in windowed changelog plus the tombstone column.
    """
    proj = _projected(df, ts_col, keys, fields).withWatermark("__ts", grace)
    specs = agg_specs_from_fields(fields, proj)
    key_cols = [n for n, _ in keys]

    key_fields = [
        StructField(f"__k{i}", proj.schema[f"__k{i}"].dataType)
        for i in range(len(key_cols))
    ]
    out_schema = StructType(
        [
            StructField("window_start", proj.schema["__ts"].dataType),
            StructField("window_end", proj.schema["__ts"].dataType),
            *key_fields,
            # long-slot aggregates emit exact int64; everything else double
            *[
                StructField(
                    f"__o{j}",
                    LongType() if (s.kind != "avg" and s.slot_kinds[0] == "long") else DoubleType(),
                )
                for j, s in enumerate(specs)
            ],
            StructField("__op", StringType()),
        ]
    )
    fold, flush = _session_func(gap_seconds, len(key_cols), specs)
    layout = (int(gap_seconds * US), [(sp.kind, sp.slot_kinds) for sp in specs], len(key_cols))
    # the name shows in the plan: the engine reads it to tell this kernel,
    # whose timeout only evicts, from one that emits on the watermark
    out = apply_keyed(
        proj.groupBy(*[F.col(f"__k{i}") for i in range(len(key_cols))]),
        out_schema, "session_upsert", layout, fold, flush, "update",
    )
    sel = [
        F.col("window_start"),
        F.col("window_end"),
        *[F.col(f"__k{i}").alias(c) for i, c in enumerate(key_cols)],
        *[F.col(f"__o{j}").cast(s.out_type).alias(s.out_name) for j, s in enumerate(specs)],
        F.col("__op"),
    ]
    return out.select(*sel)


def _projected(df: DataFrame, ts_col: str, keys: list[tuple[str, Column]], fields) -> DataFrame:
    """Narrow pre-shuffle projection: ts, keys, one column per agg input."""
    cols = [F.col(ts_col).alias("__ts")]
    cols += [c.alias(f"__k{i}") for i, (_, c) in enumerate(keys)]
    for i, f in enumerate(fields):
        cols.append(f.arg.to_column().alias(f"__a{i}"))
    return df.select(*cols)
