"""Session windows under EMIT CHANGES: a custom stateful operator.

Spark's built-in ``session_window`` aggregation rejects ``update`` output
mode (STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION), but ksqlDB's session
windows are changelogs (reference: ksql/window.go:83-88 with EMIT CHANGES,
select_builder.go:231-234).  This module closes the gap with
``applyInPandasWithState`` — Spark's Arrow-batched custom-stateful-operator
API (the sanctioned escape hatch; state lives in the state store, rows move
as Arrow batches, no per-row Python).

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
    size is bounded by concurrent open sessions, not history.

Scale notes: the only shuffle is the groupBy on the session key (same as any
session aggregation); per-key state is O(open sessions); Arrow batches keep
the Python boundary amortized.  Aggregates must be algebraic to merge
sessions without replay — COUNT / SUM / MIN / MAX / AVG are supported.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..errors import AnalysisError
from ..expr import Avg, Count, Max, Min, Sum

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


def _session_func(
    gap_seconds: float, n_keys: int, specs: list[AggSpec]
) -> Callable:
    """Build the applyInPandasWithState function (closure, no driver state)."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    gap_us = int(gap_seconds * US)
    # flat slot layout across specs; each slot is typed 'long' or 'double'
    # so integral partials stay exact Python ints (no float64 round-trip)
    slot_kinds: list[str] = [k for s in specs for k in s.slot_kinds]
    n_slots = len(slot_kinds)
    # per-spec (first slot index, merge op per slot); None is the identity
    # element for every merge (SQL semantics: aggregates skip NULL inputs)
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

    # state keeps two typed flat arrays (long slots, double slots) so
    # integral partials survive the state round-trip exactly
    long_idx = [i for i, k in enumerate(slot_kinds) if k == "long"]
    dbl_idx = [i for i, k in enumerate(slot_kinds) if k == "double"]
    n_long, n_dbl = len(long_idx), len(dbl_idx)

    # the name shows in the plan: the engine reads it to tell this kernel,
    # whose timeout only evicts, from one that emits on the watermark
    def session_upsert(key, pdf_iter: Iterator, state: GroupState) -> Iterator:
        # -- load state: parallel arrays of open sessions -------------------
        if state.exists:
            starts, ends, e_starts, e_ends, p_long, p_dbl = state.get
            partials = []
            for i in range(len(starts)):
                p: list = [None] * n_slots
                for j, idx in enumerate(long_idx):
                    p[idx] = p_long[i * n_long + j]
                for j, idx in enumerate(dbl_idx):
                    p[idx] = p_dbl[i * n_dbl + j]
                partials.append(p)
            sessions = [
                {"start": s, "end": e, "emitted": (es, ee), "p": p}
                for s, e, es, ee, p in zip(starts, ends, e_starts, e_ends, partials)
            ]
        else:
            sessions = []

        wm_us = state.getCurrentWatermarkMs() * 1000

        if state.hasTimedOut:
            # evict sessions the watermark has closed; nothing to emit (the
            # changelog already carries their final upsert)
            sessions = [s for s in sessions if s["end"] > wm_us]
            if sessions:
                _save(state, sessions)
                _set_timeout(state, sessions, wm_us)
            else:
                state.remove()
            return  # nothing to emit — and no empty frame to build (r7)

        # -- fold new rows in as single-event sessions ----------------------
        touched = False
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            touched = True
            ts_us = pdf["__ts"].astype("int64").to_numpy() // 1000  # ns -> us
            # vectorized NULL masks + plain-python values once per batch
            # instead of a pd.isna call per cell (r7)
            vals = [pdf[s.in_col].to_numpy() for s in specs]
            nulls = [pd.isna(v) for v in vals]
            vals = [v.tolist() for v in vals]
            for r in range(len(pdf)):
                row_vals = [
                    None if nulls[j][r] else vals[j][r] for j in range(len(specs))
                ]
                sessions.append(
                    {
                        "start": int(ts_us[r]),
                        "end": int(ts_us[r]) + gap_us,
                        "emitted": (-1, -1),
                        "p": new_partial(row_vals),
                        "new": True,
                    }
                )
        if not touched:
            # invoked but no usable rows: re-arm the eviction timeout (Spark
            # clears it on every invocation) or open sessions leak
            if sessions:
                _set_timeout(state, sessions, wm_us)
            return  # nothing to emit — and no empty frame to build (r7)

        # -- merge overlapping/touching [start, end) intervals --------------
        sessions.sort(key=lambda s: (s["start"], s["end"]))
        merged: list[dict] = []
        consumed_identities: list[tuple[int, int]] = []
        for s in sessions:
            if merged and s["start"] < merged[-1]["end"]:
                cur = merged[-1]
                cur["end"] = max(cur["end"], s["end"])
                cur["p"] = merge_partial(cur["p"], s["p"])
                cur["dirty"] = True
                # a previously-emitted identity absorbed by this merge must
                # be retracted (unless it IS the surviving identity)
                if s["emitted"] != (-1, -1):
                    consumed_identities.append(s["emitted"])
            else:
                s = dict(s)
                s["dirty"] = bool(s.pop("new", False))
                merged.append(s)

        rows = []  # (start_us, end_us, partial, op)
        survivors = set()
        for s in merged:
            ident = (s["start"], s["end"])
            survivors.add(ident)
            if s["dirty"] or s["emitted"] != ident:
                # a surviving session whose bounds grew also leaves a stale
                # previously-emitted identity behind — retract it too
                if s["emitted"] not in ((-1, -1), ident):
                    consumed_identities.append(s["emitted"])
                rows.append((s["start"], s["end"], s["p"], "U"))
                s["emitted"] = ident
        for ident in consumed_identities:
            if ident not in survivors:
                rows.append((ident[0], ident[1], [None] * n_slots, "D"))

        # -- persist + schedule eviction ------------------------------------
        open_sessions = [s for s in merged if s["end"] > wm_us]
        if open_sessions:
            _save(state, open_sessions)
            _set_timeout(state, open_sessions, wm_us)
        elif state.exists:
            state.remove()

        if rows:
            yield emit_df(key, rows)

    def _save(state: GroupState, sessions: list[dict]) -> None:
        state.update(
            (
                [s["start"] for s in sessions],
                [s["end"] for s in sessions],
                [s["emitted"][0] for s in sessions],
                [s["emitted"][1] for s in sessions],
                [s["p"][idx] for s in sessions for idx in long_idx],
                [s["p"][idx] for s in sessions for idx in dbl_idx],
            )
        )

    def _set_timeout(state: GroupState, sessions: list[dict], wm_us: int) -> None:
        t_ms = min(s["end"] for s in sessions) // 1000
        state.setTimeoutTimestamp(max(t_ms, wm_us // 1000 + 1))

    return session_upsert


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
    state_schema = StructType(
        [
            StructField("starts", ArrayType(LongType())),
            StructField("ends", ArrayType(LongType())),
            StructField("e_starts", ArrayType(LongType())),
            StructField("e_ends", ArrayType(LongType())),
            StructField("p_long", ArrayType(LongType())),
            StructField("p_dbl", ArrayType(DoubleType())),
        ]
    )

    func = _session_func(gap_seconds, len(key_cols), specs)
    out = (
        proj.groupBy(*[F.col(f"__k{i}") for i in range(len(key_cols))])
        .applyInPandasWithState(
            func, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
        )
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
