"""Bounded-state streaming TOPK / TOPK_DISTINCT / HISTOGRAM / COLLECT_*.

The native streaming lowering of these aggregates folds ``collect_list``
state per group — one state value that grows with the group's history, so a
hot key in a long-running EMIT CHANGES query grows one RocksDB value without
bound.  This module is the scale path: a per-group fold and flush run by
the keyed-state driver (``streaming/keyed.py``, which loads and stores
each group's state and re-arms its timeout), whose per-group state is
*bounded by construction*:

  * TOPK(k):          state = the current top-k values (sorted desc, <= k).
    Exact: values are only ever added, so anything outside the running
    top-k can never re-enter it.
  * TOPK_DISTINCT(k): state = distinct top-k (<= k).  Exact, same argument.
  * COLLECT_LIST/SET: state = first ``limit`` values (ksqlDB semantics:
    ``ksql.functions.collect_list.limit`` caps entries and ignores the
    rest; reference aggregate_fn.go:96-140 surfaces the same UDAFs).
    Exact (== batch) whenever the group stays under the limit.
  * HISTOGRAM:        state = a SpaceSaving sketch (Metwally et al. 2005)
    of ``capacity`` (value, count, error) entries.  Counts are EXACT while
    the group's distinct-value count <= capacity (all errors 0 — the common
    case: HISTOGRAM is meant for low-cardinality values); beyond that it
    degrades to the classic top-frequent guarantee (count overestimated by
    at most min-count at eviction time, tracked in the error slot).

Emission contract (same as the built-in windowed changelog): every
micro-batch emits an upsert row per touched group; closed windows are
evicted by event-time timeout once the watermark passes window_end.  Group
identities never merge, so no tombstones are needed (unlike sessions).  The
state's layout tag covers each aggregate's kind, bound, buckets and input
type plus the key count and windowing, so a resume under another TOPK
bound or aggregate list is refused.

The scalar slots — the spec builder ``_spec_of``, the masked projection
``masked_inputs``, one ``(value, n)`` slot per aggregate merged by
``combine``, and the output lowering ``emit_slots`` / ``slot_column`` —
are the one aggregate-slot algebra the session kernel
(``streaming/sessions.py``) runs too, so both keep batch's NULL/NaN
contract the same way.  ``bounded_agg_changelog`` is the one keyed
aggregate entry: given a SESSION window it runs the session kernel, with
the same key projection, masked inputs, output schema and slot columns.
A group whose inputs are all NULL is still a group: it emits its empty
aggregates (COUNT 0, SUM NULL, TOPK []), as batch does.

Scale notes: one shuffle on (window, keys) — identical to the native agg;
state per group is O(k) / O(limit) / O(capacity) regardless of group size;
rows cross the Python boundary as Arrow batches (no per-row UDF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..errors import AnalysisError
from ..expr import (
    CollectList,
    CollectSet,
    Histogram,
    SessionWindow,
    TopK,
    TopKDistinct,
    WindowSpec,
)
from .keyed import apply_keyed

DEFAULT_COLLECT_LIMIT = 1000  # ksqlDB: ksql.functions.collect_list.limit


# ---------------------------------------------------------------------------
# pure merge kernels (unit-testable; these ARE the state bound)
# ---------------------------------------------------------------------------


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


def _sort_key(v):
    """Order key matching Spark's double ordering: NaN sorts greatest.

    Plain ``sorted`` is undefined with NaN (every comparison is False); the
    (is_nan, value) tuple makes all NaNs compare equal to each other and
    greater than every number — bit-matching the batch ``sort_array`` path.
    """
    return (_is_nan(v), v)


def merge_topk(cur: list, new_vals, k: int, distinct: bool) -> list:
    """Merge batch values into a top-k state list (sorted desc, len <= k).

    NaN handling matches the batch lowering: NaN is the greatest double and
    (for the distinct variant) all NaNs are one value — Spark's set
    semantics, not Python's object-identity NaN sets.
    """
    if distinct:
        vals = set()
        has_nan = False
        for v in list(cur) + list(new_vals):
            if _is_nan(v):
                has_nan = True
            else:
                vals.add(v)
        merged = list(vals) + ([float("nan")] if has_nan else [])
        return sorted(merged, key=_sort_key, reverse=True)[:k]
    merged = list(cur)
    merged.extend(new_vals)
    merged.sort(key=_sort_key, reverse=True)
    return merged[:k]


def merge_collect(cur: list, new_vals, limit: int, is_set: bool) -> list:
    """First-``limit`` collect (ksqlDB cap semantics; len <= limit).

    For the set variant NaN counts as a single value (Spark set semantics).
    """
    out = list(cur)
    if is_set:
        seen = {v for v in out if not _is_nan(v)}
        has_nan = any(_is_nan(v) for v in out)
        for v in new_vals:
            if len(out) >= limit:
                break
            if _is_nan(v):
                if not has_nan:
                    out.append(v)
                    has_nan = True
            elif v not in seen:
                out.append(v)
                seen.add(v)
    else:
        room = limit - len(out)
        if room > 0:
            out.extend(list(new_vals)[:room])
    return out


def merge_spacesaving(
    hkeys: list, hcnts: list, herrs: list, batch_counts: dict, capacity: int
) -> tuple[list, list, list]:
    """SpaceSaving merge: at most ``capacity`` (key, count, error) entries.

    While len <= capacity every error is 0 and counts are exact.  On
    eviction the incoming key inherits (min_count + its count) with
    error = min_count — the standard overestimate bound.  Batch keys are
    folded in sorted order so eviction is deterministic.
    """
    m = {k: [c, e] for k, c, e in zip(hkeys, hcnts, herrs)}
    for v in sorted(batch_counts):
        c = batch_counts[v]
        if v in m:
            m[v][0] += c
        elif len(m) < capacity:
            m[v] = [c, 0]
        else:
            evict = min(m.items(), key=lambda kv: (kv[1][0], kv[0]))
            floor = evict[1][0]
            del m[evict[0]]
            m[v] = [floor + c, floor]
    keys = sorted(m)
    return keys, [m[k][0] for k in keys], [m[k][1] for k in keys]


def hist_top_buckets(hkeys: list, hcnts: list, buckets: int) -> tuple[list, list]:
    """The HISTOGRAM output contract: ``buckets`` most frequent entries,
    ties broken by value — identical ordering to the batch lowering."""
    order = sorted(range(len(hkeys)), key=lambda i: (-hcnts[i], hkeys[i]))[:buckets]
    return [hkeys[i] for i in order], [hcnts[i] for i in order]


# ---------------------------------------------------------------------------
# the stateful operator
# ---------------------------------------------------------------------------


def combine(kind: str, a: tuple, b: tuple, is_float: bool) -> tuple:
    """Merge two ``(value, n)`` aggregate slots of a scalar ``kind``.

    This is the one scalar merge of both keyed aggregate kernels: the
    bounded fold adds a batch value by value, the session kernel merges
    two sessions' slots.  ``n`` counts the non-NULL inputs the slot has
    seen; ``value`` is ``None`` while ``n == 0`` and always for COUNT (its
    result is ``n``).  Merges are associative and commutative, so any
    split of the input folds to the same slot (exactly for integral input;
    for doubles up to float rounding):

      * NaN is the greatest double for MIN/MAX (Spark's ordering) and
        propagates through SUM/AVG;
      * integral SUM **and AVG** keep the exact Python-int sum (ADVICE r4:
        a double accumulator drifts above 2^53) and raise on int64
        overflow — the failure the native ANSI-mode (Spark 4 default) long
        sum produces, with a clear message instead of an Arrow type error.
    """
    va, na = a
    vb, nb = b
    n = na + nb
    if kind == "count" or not nb:
        return va, n
    if not na:
        return vb, n
    if kind in ("sum", "avg"):
        s = va + vb
        if not is_float and not (-(1 << 63) <= s < (1 << 63)):
            raise ArithmeticError(
                f"[ARITHMETIC_OVERFLOW] long overflow in streaming {kind.upper()} "
                f"state (ANSI mode matches the native lowering); cast the input "
                f"to DOUBLE or aggregate a narrower window"
            )
        return s, n
    if is_float and (va != va or vb != vb):
        # NaN is the greatest double (Spark's ordering)
        lo, hi = (vb, va) if va != va else (va, vb)
        return (hi if kind == "max" else lo), n
    if kind == "max":
        return (vb if vb > va else va), n
    return (vb if vb < va else va), n


def _merge_scalar(kind: str, cur_val, cur_n: int, batch_vals: list, is_float: bool = True):
    """Fold a batch's NON-NULL inputs (per-agg mask applied) into a slot,
    in arrival order, through :func:`combine`."""
    slot = (cur_val, cur_n)
    if kind == "count":
        return combine(kind, slot, (None, len(batch_vals)), is_float)
    for v in batch_vals:
        slot = combine(kind, slot, (v, 1), is_float)
    return slot


SCALAR_KINDS = ("count", "sum", "min", "max", "avg")
COLLECTION_KINDS = ("topk", "topk_distinct", "collect_list", "collect_set")


def emit_slots(data: dict, i: int, kind: str, slots: list) -> None:
    """Ship scalar aggregate ``i``'s slots, one per output row, into the
    kernel's output frame ``data``: COUNT as ``__v{i}`` = n; the others as
    the value ``__v{i}`` plus the input count ``__n{i}``.  A NaN value
    cannot cross the Arrow output boundary (from_pandas turns it into
    null), so it ships as None and :func:`slot_column` restores it."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    ns = [n for _, n in slots]
    if kind == "count":
        data[f"__v{i}"] = ns
        return
    # object dtype: a mixed int/None column must NOT collapse to float64
    # (Arrow converts object int+None to exact int64)
    data[f"__v{i}"] = pd.Series(
        [None if (v is None or _is_nan(v)) else v for v, _ in slots], dtype=object
    )
    data[f"__n{i}"] = ns


def _bounded_func(specs: list[dict], n_keys: int, windowed: bool) -> tuple:
    """The multi-aggregate kernel's ``(fold, flush)`` pair for
    :func:`~.keyed.apply_keyed`.

    ``specs`` is a list of plain dicts {kind, bound, buckets, is_float} —
    picklable, shipped to executors.  A group's state is one slot per agg
    (collection: a list; histogram: (keys, counts, errors); count and
    sum/min/max/avg: (value, contribution count)).
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    def emit(key, outs: list) -> "pd.DataFrame":
        data = {}
        i = 0
        if windowed:
            data["window_start"] = [key[0]]
            data["window_end"] = [key[1]]
            i = 2
        for j in range(n_keys):
            data[f"__k{j}"] = [key[i + j]]
        for ai, (spec, out) in enumerate(zip(specs, outs)):
            kind = spec["kind"]
            if kind == "histogram":
                bk, bc = out
                data[f"__hk{ai}"] = pd.Series([list(bk)], dtype=object)
                data[f"__hc{ai}"] = pd.Series([list(bc)], dtype=object)
            elif kind in COLLECTION_KINDS:
                # float NaN cannot cross the Arrow output boundary as a
                # VALUE (from_pandas converts it to null, and Spark's
                # columnar reader for this operator's output throws on null
                # array elements under any element-level expression).  Ship
                # the non-NaN elements plus a NaN count; the JVM side
                # rebuilds the array with array_repeat + concat.
                vals_list = list(out)
                nan_ct = sum(1 for v in vals_list if _is_nan(v))
                data[f"__out{ai}"] = pd.Series(
                    [[v for v in vals_list if not _is_nan(v)]], dtype=object
                )
                data[f"__nan{ai}"] = [nan_ct]
            else:
                emit_slots(data, ai, kind, [out])
        return pd.DataFrame(data)

    def new_slot(spec: dict):
        kind = spec["kind"]
        if kind == "histogram":
            return ([], [], [])
        if kind in COLLECTION_KINDS:
            return []
        return (None, 0)

    def fold(key, slots, pdf) -> list:
        slots = slots or [new_slot(spec) for spec in specs]
        for ai, spec in enumerate(specs):
            kind = spec["kind"]
            col = pdf[f"__a{ai}"][~pdf[f"__m{ai}"]]
            if col.empty:
                continue
            batch = col.tolist()
            if kind == "topk":
                slots[ai] = merge_topk(slots[ai], batch, spec["bound"], distinct=False)
            elif kind == "topk_distinct":
                slots[ai] = merge_topk(slots[ai], batch, spec["bound"], distinct=True)
            elif kind in ("collect_list", "collect_set"):
                slots[ai] = merge_collect(
                    slots[ai], batch, spec["bound"], is_set=kind == "collect_set"
                )
            elif kind == "histogram":
                counts: dict = {}
                for v in batch:
                    sv = str(v)
                    counts[sv] = counts.get(sv, 0) + 1
                slots[ai] = merge_spacesaving(*slots[ai], counts, spec["bound"])
            else:
                slots[ai] = _merge_scalar(kind, *slots[ai], batch, spec["is_float"])
        return slots

    def flush(key, slots, wm_us, timed_out: bool):
        if timed_out:
            # watermark passed window_end: the final upsert is already in the
            # changelog; just release the state
            return None, None, None
        outs = []
        for spec, slot in zip(specs, slots):
            kind = spec["kind"]
            if kind == "histogram":
                outs.append(hist_top_buckets(slot[0], slot[1], spec["buckets"]))
            elif kind in ("collect_list", "collect_set"):
                outs.append(sorted(slot, key=_sort_key))
            else:
                outs.append(slot)
        # group keys arrive as NAIVE datetimes (session runs in UTC);
        # datetime.timestamp() would re-interpret them in host-local time —
        # pd.Timestamp.value is the naive-as-UTC epoch
        deadline = int(pd.Timestamp(key[1]).value // 1000) if windowed else None
        return emit(key, outs), slots, deadline

    return fold, flush


_NUMERIC = ("byte", "short", "integer", "long", "float", "double")


def _spec_of(agg, vt) -> dict:
    """The picklable spec {kind, bound, buckets, is_float} of one aggregate
    over input type ``vt`` — the input contract of both keyed aggregate
    kernels.  SUM/AVG need an integral or floating-point input; COUNT and
    MIN/MAX take any orderable type, as batch does."""
    from ..expr import Avg, Count, Max, Min, Sum

    spec = {"bound": 0, "buckets": 0, "is_float": vt.typeName() in ("float", "double")}
    if isinstance(agg, TopKDistinct):
        return {**spec, "kind": "topk_distinct", "bound": agg.k}
    if isinstance(agg, TopK):
        return {**spec, "kind": "topk", "bound": agg.k}
    if isinstance(agg, Histogram):
        return {
            **spec,
            "kind": "histogram",
            "bound": max(agg.buckets * 5, 100),
            "buckets": agg.buckets,
        }
    if isinstance(agg, CollectSet):
        return {**spec, "kind": "collect_set", "bound": DEFAULT_COLLECT_LIMIT}
    if isinstance(agg, CollectList):
        if getattr(agg, "order_by", None):
            raise AnalysisError(
                "COLLECT_LIST with an explicit order key is not supported in the "
                "bounded streaming path; use EMIT FINAL or a pull query"
            )
        return {**spec, "kind": "collect_list", "bound": DEFAULT_COLLECT_LIMIT}
    if isinstance(agg, (Sum, Avg)) and vt.typeName() not in _NUMERIC:
        raise AnalysisError(
            f"{type(agg).__name__.upper()} requires a numeric (integral or "
            f"floating-point) input, got {vt.simpleString()}"
        )
    for cls, kind in ((Count, "count"), (Sum, "sum"), (Min, "min"), (Max, "max"), (Avg, "avg")):
        if isinstance(agg, cls):
            return {**spec, "kind": kind}
    raise AnalysisError(
        f"{type(agg).__name__} has no keyed-state streaming lowering; use EMIT "
        "FINAL or a pull query"
    )


def _null_default(dtype) -> Column:
    """A type-true non-null placeholder for masked (NULL) inputs — never
    aggregated (the mask excludes it), only there to keep Arrow dtypes
    exact.  DATE/TIMESTAMP/BINARY need literal defaults: ANSI mode rejects
    the numeric cast for them."""
    import datetime

    name = dtype.typeName()
    if name == "string":
        return F.lit("")
    if name == "boolean":
        return F.lit(False)
    if name == "date":
        return F.lit(datetime.date(1970, 1, 1))
    if name in ("timestamp", "timestamp_ntz"):
        return F.lit(datetime.datetime(1970, 1, 1)).cast(dtype)
    if name == "binary":
        return F.lit(b"")
    return F.lit(0).cast(dtype)


def masked_inputs(df: DataFrame, aggs) -> tuple[list[Column], list]:
    """The pre-shuffle projection of every aggregate's input over ``df``,
    and the input types.

    Aggregates skip NULL inputs, but a row may be NULL for one input and
    not another, so aggregate ``i`` gets its own NULL mask ``__m{i}``; its
    value ``__a{i}`` is coalesced to a type-true default, so the
    Arrow->pandas transfer keeps exact dtypes (a nullable int64 batch
    would otherwise arrive as float64 and round ids above 2^53).  NaN is a
    value, not NULL.  HISTOGRAM keys must match the batch lowering
    bit-for-bit: Spark's cast-to-string, not Python str(), so the cast
    happens JVM-side.
    """
    ins: list[Column] = []
    for agg in aggs:
        c = agg.arg.to_column()
        ins.append(c.cast("string") if isinstance(agg, Histogram) else c)
    if not ins:
        return [], []
    schema = df.select(*[c.alias(f"__a{i}") for i, c in enumerate(ins)]).schema
    types = [f.dataType for f in schema]
    cols: list[Column] = []
    for i, (c, vt) in enumerate(zip(ins, types)):
        cols += [c.isNull().alias(f"__m{i}"), F.coalesce(c, _null_default(vt)).alias(f"__a{i}")]
    return cols, types


def _slot_type(spec: dict, vt):
    # SUM widens integrals to long (Spark sum semantics); AVG over
    # integrals keeps the EXACT long sum and casts to double only at the
    # final division (ADVICE r4); MIN/MAX keep the input type
    if spec["kind"] in ("sum", "avg"):
        return DoubleType() if spec["is_float"] else LongType()
    return vt


def slot_fields(i: int, spec: dict, vt) -> list[StructField]:
    """The kernel output fields :func:`emit_slots` fills for scalar
    aggregate ``i`` over input type ``vt``."""
    if spec["kind"] == "count":
        return [StructField(f"__v{i}", LongType())]
    return [StructField(f"__v{i}", _slot_type(spec, vt)), StructField(f"__n{i}", LongType())]


def slot_column(i: int, spec: dict, vt) -> Column:
    """Scalar aggregate ``i``'s result from its shipped slot: NULL with no
    input, NaN restored (a float value that crossed the boundary as null
    with n > 0 inputs can only be NaN), AVG = sum / n as a double."""
    v = F.col(f"__v{i}")
    if spec["kind"] == "count":
        return v
    n = F.col(f"__n{i}")
    st = _slot_type(spec, vt)
    if spec["is_float"]:
        v = F.coalesce(v, F.lit(float("nan")).cast(st))
    if spec["kind"] == "avg":
        v, st = v.cast("double") / n, DoubleType()
    return F.when(n > 0, v).otherwise(F.lit(None).cast(st))


def bounded_agg_changelog(
    df: DataFrame,
    ts_col: str | None,
    keys: list[tuple[str, Column]],
    window: WindowSpec | None,
    aggs: list,
) -> DataFrame:
    """Fold the groups of an EMIT CHANGES stream on a keyed-state kernel.

    ``keys`` are (output_name, expression) pairs; ``window`` is a tumbling,
    hopping or session spec (or None for a plain grouped table); ``aggs``
    are the aggregate fields.  A session window runs the session kernel
    (``streaming/sessions.py``, COUNT / SUM / MIN / MAX / AVG); any other
    runs the bounded kernel, where the collection aggregates (TOPK /
    TOPK_DISTINCT / HISTOGRAM / COLLECT_*) and the O(1)-state scalars fold
    in ONE stateful operator, so a mixed query never falls back to the
    unbounded native collect fold.  Upstream must already carry the
    event-time watermark on ``ts_col`` (compile_select applies it before
    any stateful op).

    Output: [``__window`` struct(start, end),] <keys...>, <aggs...>, and
    ``__op`` ('U' upsert / 'D' tombstone) for sessions — the group fold
    shape compile's ``_lower_aggregate`` projects.
    """
    agg_cols, val_types = masked_inputs(df, aggs)
    specs = [_spec_of(a, vt) for a, vt in zip(aggs, val_types)]
    windowed = window is not None
    if windowed and ts_col is None:
        raise AnalysisError("windowed aggregation requires an event-time column")
    # a session kernel finds its own windows per key; the bounded kernel
    # groups by the tumbling/hopping window bounds beside the keys
    session = isinstance(window, SessionWindow)
    bucketed = windowed and not session

    # narrow pre-shuffle projection; for hopping windows F.window expands one
    # event into size/advance rows (same as the native lowering)
    cols: list[Column] = []
    if windowed:
        # keep the watermark-tagged event-time column in the projection —
        # EventTimeTimeout requires a watermarked column in the stateful
        # operator's child (the tag does not survive `__w.start` extraction)
        cols.append(F.col(ts_col).alias("__ts"))
    if bucketed:
        cols.append(window.grouping_column(ts_col).alias("__w"))
    drop_dummy = not keys and not windowed
    if drop_dummy:
        keys = [("__g", F.lit(0))]
    cols += [c.alias(f"__k{i}") for i, (_, c) in enumerate(keys)]
    proj = df.select(*cols, *agg_cols)
    if bucketed:
        proj = proj.select(
            F.col("__ts"),
            F.col("__w.start").alias("__ws"),
            F.col("__w.end").alias("__we"),
            *proj.columns[2:],
        )

    key_names = [f"__k{i}" for i in range(len(keys))]
    group_cols = (["__ws", "__we"] if bucketed else []) + key_names

    ts_type = proj.schema["__ts"].dataType if windowed else None
    out_fields = (
        [StructField("window_start", ts_type), StructField("window_end", ts_type)]
        if windowed
        else []
    )
    out_fields += [StructField(n, proj.schema[n].dataType) for n in key_names]
    for i, (spec, vt) in enumerate(zip(specs, val_types)):
        kind = spec["kind"]
        if kind == "histogram":
            out_fields += [
                StructField(f"__hk{i}", ArrayType(StringType())),
                StructField(f"__hc{i}", ArrayType(LongType())),
            ]
        elif kind in COLLECTION_KINDS:
            out_fields += [
                StructField(f"__out{i}", ArrayType(vt)),
                StructField(f"__nan{i}", LongType()),
            ]
        else:
            out_fields += slot_fields(i, spec, vt)

    # the kernel name shows in the plan: the engine reads it to tell these
    # kernels, whose timeout only evicts, from one that emits on the
    # watermark.  A plain grouped table never closes a group, so it runs
    # without timeout
    if session:
        from .sessions import US, _session_func  # noqa: PLC0415 — sessions imports this module

        for a, spec in zip(aggs, specs):
            if spec["kind"] not in SCALAR_KINDS:
                raise AnalysisError(
                    f"session window EMIT CHANGES supports algebraic aggregates "
                    f"(COUNT/SUM/MIN/MAX/AVG); got {type(a).__name__} — use EMIT "
                    "FINAL or a pull query for non-mergeable aggregates"
                )
        # merged-away sessions leave as tombstones: the kernel emits __op
        out_fields.append(StructField("__op", StringType()))
        op_col = [F.col("__op")]
        fold, flush = _session_func(window.gap_seconds, len(keys), specs)
        name = "session_upsert"
        layout = (
            int(window.gap_seconds * US),
            [(s["kind"], vt.simpleString()) for s, vt in zip(specs, val_types)],
            len(keys),
        )
    else:
        op_col = []
        fold, flush = _bounded_func(specs, len(keys), windowed)
        name = "bounded_upsert"
        layout = (
            [(sp["kind"], sp["bound"], sp["buckets"], sp["is_float"], vt.simpleString())
             for sp, vt in zip(specs, val_types)],
            len(keys),
            windowed,
        )
    out = apply_keyed(
        proj.groupBy(*[F.col(c) for c in group_cols]),
        StructType(out_fields), name, layout, fold, flush, "update", event_time=windowed,
    )

    sel: list[Column] = []
    if windowed:
        sel.append(
            F.struct(
                F.col("window_start").alias("start"), F.col("window_end").alias("end")
            ).alias("__window")
        )
    if not drop_dummy:
        sel += [F.col(n).alias(keys[i][0]) for i, n in enumerate(key_names)]
    for i, (agg, spec, vt) in enumerate(zip(aggs, specs, val_types)):
        kind = spec["kind"]
        alias = agg.output_name()
        if kind == "histogram":
            sel.append(F.map_from_arrays(F.col(f"__hk{i}"), F.col(f"__hc{i}")).alias(alias))
        elif kind in COLLECTION_KINDS:
            if spec["is_float"]:
                # rebuild the NaN elements shipped as a count (see emit()):
                # NaN is the greatest double, so it leads a desc top-k and
                # trails an asc collect — matching the batch sort exactly
                nan_arr = F.array_repeat(
                    F.lit(float("nan")).cast(vt), F.col(f"__nan{i}").cast("int")
                )
                rebuilt = (
                    F.concat(nan_arr, F.col(f"__out{i}"))
                    if kind in ("topk", "topk_distinct")
                    else F.concat(F.col(f"__out{i}"), nan_arr)
                )
                sel.append(rebuilt.alias(alias))
            else:
                sel.append(F.col(f"__out{i}").alias(alias))
        else:
            sel.append(slot_column(i, spec, vt).alias(alias))
    return out.select(*sel, *op_col)
