"""Plan -> DataFrame lowering.

This is the engine's "physical planning" entry point, except there is
deliberately almost no physical planning here: the SelectBuilder lowers to
declarative DataFrame operations and Catalyst picks the physical strategy
(predicate pushdown, column pruning, broadcast-vs-SMJ, whole-stage codegen,
AQE skew handling).  The only physical decisions we make ourselves are the
ones Catalyst cannot (SURVEY.md §4 implication table):

  * watermarks before stateful streaming ops (the reference has no client-side
    notion of grace periods; ksqlDB does it server-side),
  * broadcast hints for stream-table joins against small dimension relations,
  * time-range bounds on stream-stream joins (state cleanup requirement),
  * LATEST_BY_OFFSET's deterministic event-order key.

Reference parity: the lowering table in SURVEY.md §2 is the spec; citations
inline.
"""

from __future__ import annotations

import copy
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..builder import EmitMode, FromExpression, JoinKind, Ref, SelectBuilder
from ..errors import AnalysisError
from ..expr import (
    AggregateFn,
    Arithmetic,
    BooleanExpr,
    Case,
    CollectList,
    CollectSet,
    Conditional,
    EarliestByOffset,
    Expr,
    ExpressionList,
    Field,
    Histogram,
    LatestByOffset,
    SessionWindow,
    TopK,
    TopKDistinct,
)

DEFAULT_GRACE = "10 minutes"


def _normalize_event_time(df: DataFrame, ts_col: str | None) -> DataFrame:
    """Cast a TIMESTAMP_NTZ event-time column to TIMESTAMP (instant).

    Parquet written without isAdjustedToUTC reads back as NTZ; watermarks
    and streaming state require instant semantics.  Sessions run with
    spark.sql.session.timeZone=UTC (session.py), so the cast is the
    deterministic naive-as-UTC interpretation.
    """
    if ts_col and dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


class CompileContext:
    """Per-compilation state: source resolution + event-time metadata."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        catalog=None,
        sources: dict[str, DataFrame] | None = None,
        streaming: bool = False,
        grace: str = DEFAULT_GRACE,
        event_time: str | None = None,
        event_order: list[str] | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.sources = {k.lower(): v for k, v in (sources or {}).items()}
        self.streaming = streaming
        self.grace = grace
        self.event_time = event_time
        self.event_order = event_order

    def resolve(self, fe: FromExpression) -> DataFrame:
        name = fe.name.lower()
        if name in self.sources:
            df = self.sources[name]
        elif self.catalog is not None and self.catalog.exists(fe.name):
            rel = self.catalog.get(fe.name)
            if self.streaming and rel.ref == Ref.STREAM and fe.ref == Ref.STREAM:
                df = self.catalog.read_stream(fe.name)
            else:
                df = self.catalog.read(fe.name)
        else:
            raise AnalysisError(f"unknown relation {fe.name!r}")
        # normalize BEFORE aliasing: withColumn builds a new projection that
        # would strip the relation alias (breaking qualified refs like r.ts
        # in join bounds)
        df = _normalize_event_time(df, self.resolve_event_time(fe, df))
        return df.alias(fe.effective_name())

    def relation_meta(self, fe: FromExpression):
        if self.catalog is not None and self.catalog.exists(fe.name):
            return self.catalog.get(fe.name)
        return None

    def resolve_event_time(self, fe: FromExpression, df: DataFrame) -> str | None:
        if self.event_time:
            return self.event_time
        rel = self.relation_meta(fe)
        if rel is not None and rel.event_time_col:
            return rel.event_time_col
        if "ts" in df.columns:
            return "ts"
        return None

    def resolve_event_order(self, fe: FromExpression, df: DataFrame) -> list[str]:
        if self.event_order:
            return self.event_order
        rel = self.relation_meta(fe)
        if rel is not None and rel.event_order_cols:
            return rel.event_order_cols
        cols = [c for c in ("ts", "turn_idx") if c in df.columns]
        return cols


# ---------------------------------------------------------------------------
# HAVING lowering: aggregate refs inside conditions become hidden agg outputs
# ---------------------------------------------------------------------------


def _collect_aggs(expr: Any, out: list[AggregateFn]) -> None:
    if isinstance(expr, AggregateFn):
        out.append(expr)
        return
    if isinstance(expr, (Conditional, Arithmetic)):
        _collect_aggs(expr.left, out)
        _collect_aggs(expr.right, out)
    elif isinstance(expr, ExpressionList):
        for e in expr.exprs:
            _collect_aggs(e, out)
    elif isinstance(expr, Case):
        for cond, then in expr.branches:
            _collect_aggs(cond, out)
            _collect_aggs(then, out)
        if expr.has_else:
            _collect_aggs(expr.else_value, out)


def _lower_with_subs(expr: Any, subs: dict[int, str]) -> Column:
    """Lower a boolean tree, replacing AggregateFn leaves with their
    post-aggregation column references (reference: aggregatedField wrappers,
    ksql/field.go:222-299)."""
    if isinstance(expr, AggregateFn) and id(expr) in subs:
        return F.col(subs[id(expr)])
    if isinstance(expr, Conditional):
        left = _lower_with_subs(expr.left, subs) if isinstance(expr.left, Expr) else F.lit(expr.left)
        op = expr.op
        if op in ("IS NULL", "IS NOT NULL", "IS TRUE", "IS FALSE"):
            return {
                "IS NULL": left.isNull(),
                "IS NOT NULL": left.isNotNull(),
                "IS TRUE": left == F.lit(True),
                "IS FALSE": left == F.lit(False),
            }[op]
        if op in ("IN", "NOT IN"):
            cond = left.isin(*expr.right)
            return cond if op == "IN" else ~cond
        right = (
            _lower_with_subs(expr.right, subs)
            if isinstance(expr.right, Expr)
            else F.lit(expr.right)
        )
        return {
            "=": left == right,
            "!=": left != right,
            ">": left > right,
            ">=": left >= right,
            "<": left < right,
            "<=": left <= right,
        }[op]
    if isinstance(expr, ExpressionList):
        cols = [_lower_with_subs(e, subs) for e in expr.exprs]
        acc = cols[0]
        for c in cols[1:]:
            acc = (acc & c) if expr.op == "AND" else (acc | c)
        return acc
    if isinstance(expr, Arithmetic):
        left = _lower_with_subs(expr.left, subs)
        right = _lower_with_subs(expr.right, subs)
        return {
            "+": left + right,
            "-": left - right,
            "*": left * right,
            "/": left / right,
            "%": left % right,
        }[expr.op]
    if isinstance(expr, Case):
        col = F.when(
            _lower_with_subs(expr.branches[0][0], subs),
            _lower_with_subs(expr.branches[0][1], subs),
        )
        for cond, then in expr.branches[1:]:
            col = col.when(_lower_with_subs(cond, subs), _lower_with_subs(then, subs))
        if expr.has_else:
            col = col.otherwise(_lower_with_subs(expr.else_value, subs))
        return col
    if isinstance(expr, Expr):
        return expr.to_column()
    return F.lit(expr)


# ---------------------------------------------------------------------------
# Main lowering
# ---------------------------------------------------------------------------


def compile_select(
    sb: SelectBuilder,
    *,
    spark: SparkSession | None = None,
    catalog=None,
    sources: dict[str, DataFrame] | None = None,
    streaming: bool = False,
    grace: str = DEFAULT_GRACE,
    event_time: str | None = None,
    event_order: list[str] | None = None,
) -> DataFrame:
    """Lower a validated SelectBuilder to a DataFrame.

    ``sources`` overrides catalog resolution by relation name (used by the
    streaming engine to thread readStream frames through, and by tests).
    """
    sb.validate()
    ctx = CompileContext(
        spark=spark,
        catalog=catalog,
        sources=sources,
        streaming=streaming,
        grace=grace,
        event_time=event_time,
        event_order=event_order,
    )

    # CTE: just another named source (SURVEY.md §2.8 — plain DataFrame composition)
    if sb.cte is not None:
        alias, sub = sb.cte
        ctx.sources[alias.lower()] = compile_select(
            sub,
            spark=spark,
            catalog=catalog,
            sources=sources,
            streaming=streaming,
            grace=grace,
        )

    assert sb.from_expr is not None
    df = ctx.resolve(sb.from_expr)
    ts_col = ctx.resolve_event_time(sb.from_expr, df)
    order_cols = ctx.resolve_event_order(sb.from_expr, df)

    left_is_stream = sb.from_expr.ref == Ref.STREAM

    # watermark before any stateful streaming op (SURVEY.md §2.5); every
    # aggregate fold, the keyed-state kernels included, reads this one
    needs_state = streaming and (sb.window is not None or sb.group_by or sb.joins)
    if needs_state and left_is_stream:
        if ts_col is None:
            raise AnalysisError("stateful streaming query requires an event-time column")
        df = df.withWatermark(ts_col, grace)

    # -- joins (left-deep, SURVEY.md §2.3) ---------------------------------
    for j in sb.joins:
        right = ctx.resolve(j.source)
        right_rel = ctx.relation_meta(j.source)
        right_is_stream = j.source.ref == Ref.STREAM

        if streaming and left_is_stream and right_is_stream:
            # stream-stream: watermark the right side; require a time bound
            r_ts = ctx.resolve_event_time(j.source, right)
            if r_ts is None:
                raise AnalysisError("stream-stream join requires event-time on both sides")
            right = right.withWatermark(r_ts, grace)
            if j.within_seconds is None and j.kind != JoinKind.INNER:
                # ksqlDB restricts outer stream-stream joins to windowed joins;
                # we enforce the same (SURVEY.md §2.3)
                raise AnalysisError("outer stream-stream join requires within_seconds (windowed join)")

        on: Column | None = j.on.to_column() if j.on is not None else None
        drop_after_join: list[str] = []
        if j.within_seconds is not None:
            l_ts = F.col(f"{sb.from_expr.effective_name()}.{ts_col}")
            r_ts_col = F.col(
                f"{j.source.effective_name()}.{ctx.resolve_event_time(j.source, right) or 'ts'}"
            )
            bound = (r_ts_col >= l_ts - F.expr(f"INTERVAL {j.within_seconds} SECONDS")) & (
                r_ts_col <= l_ts + F.expr(f"INTERVAL {j.within_seconds} SECONDS")
            )
            on = bound if on is None else (on & bound)
            if (
                streaming
                and left_is_stream
                and right_is_stream
                and j.kind in (JoinKind.INNER, JoinKind.LEFT)
            ):
                # W-wide time buckets on the equi-key (skew.time_bucket):
                # |l_ts - r_ts| <= W implies bucket(l_ts) is within ±1 of
                # bucket(r_ts), so the symmetric hash join probes only the
                # three adjacent buckets instead of the key's whole retained
                # history.  Explode the RIGHT (non-preserved) side ×3; the
                # left bucket stays a pure condition expression.  RIGHT/FULL
                # joins preserve the right side, where an exploded copy per
                # bucket would emit unmatched right rows ×3 — those keep the
                # plain key.
                from ..streaming.skew import TIME_BUCKET_COL, explode_time_buckets, time_bucket

                r_ts_name = ctx.resolve_event_time(j.source, right) or "ts"
                right = right.withColumn(
                    TIME_BUCKET_COL,
                    explode_time_buckets(F.col(r_ts_name), j.within_seconds, [-1, 0, 1]),
                ).alias(j.source.effective_name())
                on = on & (
                    time_bucket(l_ts, j.within_seconds)
                    == F.col(f"{j.source.effective_name()}.{TIME_BUCKET_COL}")
                )
                drop_after_join.append(TIME_BUCKET_COL)

        # broadcast small dimension tables: explicit for stream-table joins
        # (Catalyst's size-based auto-broadcast handles pure batch plans)
        if right_rel is not None and right_rel.broadcast:
            right = F.broadcast(right)
        elif streaming and left_is_stream and not right_is_stream:
            right = F.broadcast(right)

        if j.kind == JoinKind.CROSS:
            df = df.crossJoin(right)
        else:
            df = df.join(right, on=on, how=j.kind.value)
            if drop_after_join:
                df = df.drop(*drop_after_join)

    # -- WHERE: conjunctive list (ksql/where.go:10-75) -----------------------
    for cond in sb.where_exprs:
        df = df.filter(cond.to_column())

    # -- aggregation ---------------------------------------------------------
    if sb.group_by or any(f.is_aggregate() for f in sb.fields):
        # after a join both sides may carry the event-time column name;
        # qualify it with the left relation alias to keep it unambiguous
        agg_ts = f"{sb.from_expr.effective_name()}.{ts_col}" if sb.joins and ts_col else ts_col
        if streaming and sb.emit == EmitMode.CHANGES and sb.having_exprs and isinstance(
            sb.window, SessionWindow
        ):
            # merged-away sessions are retracted by tombstones; a HAVING
            # filter over that changelog is not a well-defined upsert
            # stream — reject rather than silently emit unfiltered rows
            raise AnalysisError(
                "HAVING is not supported with SESSION windows under EMIT CHANGES; "
                "use EMIT FINAL or a pull query"
            )
        df = _lower_aggregate(sb, df, agg_ts, order_cols)
    else:
        df = df.select(*[f.output() for f in sb.fields])

    # -- set operations (engine extension, SURVEY.md §2.7) ---------------------
    for op, other in sb.set_ops:
        right = compile_select(
            other,
            spark=spark,
            catalog=catalog,
            sources=sources,
            streaming=streaming,
            grace=grace,
            event_time=event_time,
            event_order=event_order,
        )
        if set(df.columns) != set(right.columns):
            raise AnalysisError(
                f"set operation operands must project the same columns: "
                f"{sorted(df.columns)} vs {sorted(right.columns)}"
            )
        if op != "union_all" and (df.isStreaming or right.isStreaming):
            # distinct set ops over an unbounded stream need unbounded state
            raise AnalysisError(
                f"{op.upper()} on a streaming query is not supported; "
                "only UNION ALL composes streams"
            )
        if df.isStreaming != right.isStreaming:
            # Spark rejects stream/batch unions at start time with a raw
            # error; fail at compile time with the engine's typed one
            raise AnalysisError(
                "set operation operands must both be streams or both tables"
            )
        if op == "union":
            df = df.unionByName(right).dropDuplicates()
        elif op == "intersect":
            df = df.intersect(right.select(*df.columns))
        elif op == "except":
            df = df.subtract(right.select(*df.columns))  # SQL EXCEPT (distinct)
        else:
            df = df.unionByName(right)

    # -- ORDER BY / LIMIT ------------------------------------------------------
    if sb.order_by:
        if streaming:
            # like ksqlDB: sorting an unbounded push query is rejected
            raise AnalysisError("ORDER BY on a streaming push query is not supported")
        df = df.orderBy(*[o.to_column() for o in sb.order_by])
    if sb.limit_n is not None:
        df = df.limit(sb.limit_n)
    return df


# bypass the salted two-level TOPK below this estimated input size: the
# rewrite's fixed two-shuffle overhead dominates small inputs (measured 5x
# at sf0.1), while any group under this size trivially fits one task's
# collect_list.  Catalyst's file-source size estimate is free (no scan).
TOPK_TWOLEVEL_MIN_BYTES = 256 << 20


def _estimated_plan_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate for the plan's output (file sizes for scans,
    propagated through filters/projections).  None when unavailable."""
    try:  # py4j internals — version-pinned to the bundled Spark
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover — e.g. streaming relation quirks
        return None


def _topk_twolevel_worthwhile(df: DataFrame) -> bool:
    """AQE-spirited switch: engage the salted rewrite only when the input
    estimate crosses ``TOPK_TWOLEVEL_MIN_BYTES``."""
    size = _estimated_plan_bytes(df)
    # unknown size -> two-level (the safe plan at scale)
    return size is None or size >= TOPK_TWOLEVEL_MIN_BYTES


def _agg_matches(a: AggregateFn, b: AggregateFn) -> bool:
    """Structural equality of two aggregate refs (same fn, same input, same
    parameters) — lets HAVING reference the selected aggregate by value, the
    way the reference's aggregatedField wrappers do (field.go:222-299)."""
    if a is b:
        return True
    if type(a) is not type(b):
        return False
    if not (isinstance(a.arg, Field) and isinstance(b.arg, Field)):
        return False

    def order_names(x) -> list | None:
        ob = getattr(x, "order_by", None)
        if ob is None:
            return None
        return [f.name if isinstance(f, Field) else repr(f) for f in ob]

    return (
        a.arg.name == b.arg.name
        and getattr(a, "k", None) == getattr(b, "k", None)
        and getattr(a, "buckets", None) == getattr(b, "buckets", None)
        and order_names(a) == order_names(b)
    )


def _describe_cond(expr: Any) -> str:
    """Compact human-readable form of a HAVING condition for error text."""
    if isinstance(expr, ExpressionList):
        return (" " + expr.op + " ").join(_describe_cond(e) for e in expr.exprs)
    if isinstance(expr, Conditional):
        return f"{_describe_cond(expr.left)} {expr.op} {_describe_cond(expr.right)}"
    if isinstance(expr, Arithmetic):
        return f"({_describe_cond(expr.left)} {expr.op} {_describe_cond(expr.right)})"
    if isinstance(expr, Case):
        return "CASE WHEN ..."
    if isinstance(expr, AggregateFn):
        name = type(expr).__name__.upper()
        return f"{name}({getattr(expr.arg, 'name', '...')})"
    if isinstance(expr, Field):
        return expr.name
    if isinstance(expr, Expr):
        return type(expr).__name__
    return repr(expr)


def _resolve_having_agg(operand: Any, agg_by_name: dict[str, AggregateFn]) -> Any:
    """Resolve a HAVING operand to the aggregate it denotes, if any.

    Returns the AggregateFn for a direct aggregate operand or a Field that
    names a selected aggregate's output alias (ADVICE r4: ``F("cnt") < 5``
    where ``cnt`` aliases a COUNT is an aggregate comparison, not a
    group-key condition).  Returns the sentinel string "nested" when the
    operand hides an aggregate inside Arithmetic/Case (monotonicity
    unknowable), and None for genuinely per-group-constant operands."""
    if isinstance(operand, AggregateFn):
        return operand
    if isinstance(operand, Field):
        base = operand.name.split(".")[-1]
        if base in agg_by_name:
            return agg_by_name[base]
        return None
    nested: list[AggregateFn] = []
    _collect_aggs(operand, nested)
    if nested:
        return "nested"
    return None


def _monotone_safe_having(expr: Any, agg_by_name: dict[str, AggregateFn]) -> bool:
    """True when a HAVING condition can be applied as a post-filter on an
    UPSERT changelog without ever needing a retraction: per group the
    predicate may flip false->true at most once.  That holds when every
    aggregate comparison pairs a monotone aggregate with the right
    direction — nondecreasing aggregates (COUNT, MAX, TOPK/TOPK_DISTINCT:
    the desc-sorted array is lexicographically nondecreasing as values
    arrive) with > / >=, the nonincreasing MIN with < / <= — and
    conjunctions/disjunctions of such conditions (monotone indicators
    compose under AND and OR).  Anything else (SUM/AVG with signed inputs,
    COLLECT arrays, equality, the wrong direction) could flip true->false,
    leaving a stale upsert in the materialized state.  Aggregates reached
    through a selected alias (``F("cnt")`` naming a COUNT) are resolved to
    their AggregateFn; aggregates hidden inside Arithmetic/CASE make the
    condition unsafe (monotonicity unknowable) — ADVICE r4 closed the hole
    where both forms passed as 'pure group-key conditions'."""
    from ..expr import Count, Max, Min

    if isinstance(expr, ExpressionList):
        return all(_monotone_safe_having(e, agg_by_name) for e in expr.exprs)
    if not isinstance(expr, Conditional):
        return False
    left_agg = _resolve_having_agg(expr.left, agg_by_name)
    right_agg = _resolve_having_agg(expr.right, agg_by_name)
    if left_agg == "nested" or right_agg == "nested":
        return False
    if left_agg is None and right_agg is None:
        return True  # pure group-key condition: constant per group
    if left_agg is not None and right_agg is not None:
        return False
    agg = left_agg if left_agg is not None else right_agg
    op = expr.op
    if right_agg is not None:  # literal OP agg — mirror the comparison
        op = {">": "<", ">=": "<=", "<": ">", "<=": ">="}.get(op, op)
    if isinstance(agg, (Count, Max, TopK)):  # TopKDistinct subclasses TopK
        return op in (">", ">=")
    if isinstance(agg, Min):
        return op in ("<", "<=")
    return False


def _is_bounded_collection(f: AggregateFn) -> bool:
    if isinstance(f, (TopK, Histogram, CollectSet)):  # TopKDistinct subclasses TopK
        return True
    return isinstance(f, CollectList) and not f.order_by


def _is_bounded_scalar(f: AggregateFn) -> bool:
    from ..expr import Avg, Count, Max, Min, Sum

    return isinstance(f, (Count, Sum, Avg, Min, Max))


def _keyed_fold(sb: SelectBuilder, df: DataFrame, agg_fields: list) -> bool:
    """True when a keyed-state kernel (streaming/bounded.py) folds the
    groups of an EMIT CHANGES stream instead of Spark's native aggregate:

      * a SESSION window — Spark's session_window aggregation rejects
        update mode, so the session kernel keeps the open sessions;
      * every aggregate has a bounded-state lowering and at least one is a
        collection aggregate (TOPK / HISTOGRAM / COLLECT_*), whose NATIVE
        fold keeps the whole group history in one state value.  Scalar
        aggregates ride along as O(1) slots, so a mixed `COUNT(*),
        TOPK(v, 3)` query stays bounded; an all-scalar query keeps the
        native hash aggregate, already O(1) per group."""
    if not (df.isStreaming and sb.emit == EmitMode.CHANGES):
        return False
    if isinstance(sb.window, SessionWindow):
        return True
    return any(_is_bounded_collection(f) for f in agg_fields) and all(
        _is_bounded_collection(f) or _is_bounded_scalar(f) for f in agg_fields
    )


def _having_slots(
    sb: SelectBuilder, agg_fields: list
) -> tuple[dict[int, str], list[AggregateFn]]:
    """Map each HAVING aggregate to the output column it reads.

    Returns (subs, hidden): ``subs`` maps each HAVING AggregateFn id to a
    selected aggregate's output name when one matches it, else to a hidden
    ``__having_i`` aggregate; ``hidden`` are those extra aggregates, folded
    beside the selected ones by whichever fold runs and dropped by the
    final projection."""
    subs: dict[int, str] = {}
    hidden: list[AggregateFn] = []
    h_aggs: list[AggregateFn] = []
    for cond in sb.having_exprs:
        _collect_aggs(cond, h_aggs)
    for a in h_aggs:
        match = next((f for f in agg_fields if _agg_matches(a, f)), None)
        if match is not None:
            subs[id(a)] = match.output_name()
            continue
        # alias a COPY, not the user's expression object: compile must stay
        # side-effect-free so the same SelectBuilder can be lowered again
        # (e.g. the batch oracle twin) without the hidden alias leaking in
        slot = copy.copy(a)
        slot.alias_name = f"__having_{len(hidden)}"
        subs[id(a)] = slot.alias_name
        hidden.append(slot)
    return subs, hidden


def _lower_histogram_twolevel(
    sb: SelectBuilder, df: DataFrame, group_cols: list[Column], hist: Histogram, windowed: bool
) -> DataFrame:
    """Two-shuffle HISTOGRAM: groupBy(keys, value).count, then per-key
    top-`buckets` over the (small) distinct-value rows.  Output is identical
    to the single-agg fold: entries ordered by (-count, value)."""
    lvl1 = df.groupBy(*group_cols, hist.arg.to_column().cast("string").alias("__hval")).agg(
        F.count(F.lit(1)).alias("__hcnt")
    )
    key_names = (["__window"] if windowed else []) + [g.output_name() for g in sb.group_by]
    return lvl1.groupBy(*[F.col(n) for n in key_names]).agg(
        F.map_from_entries(
            F.transform(
                F.slice(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                (-F.col("__hcnt")).alias("neg"),
                                F.col("__hval").alias("key"),
                                F.col("__hcnt").alias("cnt"),
                            )
                        )
                    ),
                    1,
                    hist.buckets,
                ),
                lambda s: F.struct(s["key"].alias("key"), s["cnt"].alias("value")),
            )
        ).alias(hist.output_name())
    )


def _lower_topk_twolevel(
    sb: SelectBuilder, df: DataFrame, group_cols: list[Column], topk: TopK, windowed: bool
) -> DataFrame:
    """Pre-aggregated salted two-level TOPK (mirrors _lower_histogram_twolevel):

      level 0: groupBy(keys, value).count() — a plain hash agg with map-side
               partial aggregation, so a value-CONCENTRATED hot key (10^9
               copies of one value) collapses to one (value, count) row per
               task before anything is collected.  The previous lowering
               salted by value hash, which put such a group's entire history
               in ONE salt bucket's collect_list — bounded only for
               value-diverse hot keys (VERDICT r3 finding #1).
      level 1: salt by value hash; per-(keys, salt) top-k of the DISTINCT
               (value, count) structs — state <= k structs per bucket.
      level 2: merge <= n_salt*k structs per key, keep the top-k distinct
               values, re-expand by their exact level-0 counts (capped at k),
               slice to k.

    Exact for both variants: any value in the global top-k is among the
    global top-k distinct values, each of which is in its (unique) salt
    bucket's top-k; duplicates are reconstructed from exact counts.  The
    extra shuffle vs the old plan moves only distinct-value rows, and both
    new shuffles partial-aggregate map-side."""
    n_salt = 32
    val = topk.arg.to_column()
    distinct = isinstance(topk, TopKDistinct)
    key_cols = [F.col(c) for c in _group_names(sb, windowed)]
    # NULL values are kept through the grouping (filtering them out would
    # also drop GROUPS whose values are all NULL, which the single-agg
    # lowering emits with an empty array) and excluded from the final array
    # below — matching collect_list's skip-nulls semantics exactly
    lvl0 = (
        df.select(*group_cols, val.alias("__tv"))
        .groupBy(*key_cols, F.col("__tv"))
        .agg(F.count(F.lit(1)).alias("__tc"))
    )
    lvl1 = (
        lvl0.withColumn("__salt", F.pmod(F.hash(F.col("__tv")), F.lit(n_salt)))
        .groupBy(*key_cols, F.col("__salt"))
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("__tv").alias("v"), F.col("__tc").alias("c"))
                    ),
                    asc=False,
                ),
                1,
                topk.k,
            ).alias("__partial")
        )
    )
    # same value -> same salt bucket, so merged structs are already distinct;
    # NULL-valued structs sort last under desc order — drop them BEFORE the
    # slice so a group short of k non-null values still fills correctly
    merged = F.slice(
        F.filter(
            F.sort_array(F.flatten(F.collect_list(F.col("__partial"))), asc=False),
            lambda s: s["v"].isNotNull(),
        ),
        1,
        topk.k,
    )
    if distinct:
        out_expr = F.transform(merged, lambda s: s["v"])
    else:
        out_expr = F.slice(
            F.flatten(
                F.transform(
                    merged,
                    lambda s: F.array_repeat(
                        s["v"], F.least(s["c"], F.lit(topk.k)).cast("int")
                    ),
                )
            ),
            1,
            topk.k,
        )
    return lvl1.groupBy(*key_cols).agg(out_expr.alias(topk.output_name()))


def _group_names(sb: SelectBuilder, windowed: bool) -> list[str]:
    return (["__window"] if windowed else []) + [g.output_name() for g in sb.group_by]


def _source_name(f: Expr) -> str:
    """The grouped-output column a non-aggregate SELECT field reads: a
    field by its unqualified name (grouped output drops relation
    qualifiers), any other expression by its output name."""
    return f.name.split(".")[-1] if isinstance(f, Field) else f.output_name()


def output_keys(sb: SelectBuilder) -> list[str]:
    """The output columns that key an aggregate query's result: the window
    bounds when windowed, then each GROUP BY key under the name the final
    projection of :func:`_lower_aggregate` gives it.  A GROUP BY key the
    SELECT list leaves out raises AnalysisError: the result could not be
    keyed by it."""
    keys = ["window_start", "window_end"] if sb.window is not None else []
    plain = [f for f in sb.fields if not f.is_aggregate()]
    for g in sb.group_by:
        name = g.output_name()
        f = next((f for f in plain if _source_name(f) == name), None)
        if f is None:
            raise AnalysisError(
                f"GROUP BY key {name!r} is not in the SELECT list; a table's "
                f"rows are keyed by every GROUP BY key, so select it"
            )
        keys.append(f.output_name())
    return keys


def _lower_aggregate(
    sb: SelectBuilder, df: DataFrame, ts_col: str | None, order_cols: list[str]
) -> DataFrame:
    """Lower GROUP BY / aggregates: the one place every fold shares the
    event-order injection, the HAVING aggregates and filter, and the final
    projection.  A fold returns ``__window`` (struct start/end) when
    windowed, the GROUP BY keys under their output names, one column per
    aggregate (selected and hidden) under its output name, and ``__op``
    when it emits tombstones."""
    # inject event-order key into LATEST/EARLIEST_BY_OFFSET (parity contract:
    # offset := struct(ts, turn_idx); SURVEY.md §7)
    for f in sb.fields:
        if isinstance(f, (LatestByOffset, EarliestByOffset)) and not f.order_by:
            if not order_cols:
                raise AnalysisError(
                    "LATEST/EARLIEST_BY_OFFSET requires an event-order key "
                    "(relation metadata event_order or explicit order_by)"
                )
            f.order_by = [Field(c) for c in order_cols]

    windowed = sb.window is not None
    if windowed and ts_col is None:
        raise AnalysisError("windowed aggregation requires an event-time column")
    agg_fields = [f for f in sb.fields if f.is_aggregate()]
    for f in sb.fields:
        nested: list[AggregateFn] = []
        _collect_aggs(f, nested)
        if nested and not f.is_aggregate():
            raise AnalysisError(
                f"SELECT field {f.output_name()!r} is an expression over aggregates; "
                f"a grouped query selects GROUP BY keys and aggregates, so select "
                f"each aggregate and combine them in a downstream query"
            )
    # HAVING over aggregates (reference: select_builder_test.go:92-99)
    subs, hidden = _having_slots(sb, agg_fields)

    if _keyed_fold(sb, df, agg_fields):
        from ..streaming.bounded import bounded_agg_changelog

        # HAVING post-filters the kernel's upsert changelog: only a monotone
        # predicate (a group flips false->true at most once) keeps it equal
        # to the batch result, so anything else is refused — never a silent
        # fallback to the unbounded native fold (VERDICT r4 finding #1)
        agg_by_name = {f.output_name(): f for f in agg_fields}
        for cond in sb.having_exprs:
            if not _monotone_safe_having(cond, agg_by_name):
                raise AnalysisError(
                    f"non-monotone HAVING predicate ({_describe_cond(cond)}) cannot "
                    f"post-filter a bounded streaming upsert changelog under EMIT "
                    f"CHANGES: a group may flip true->false and upserts cannot be "
                    f"retracted.  Use a monotone comparison (COUNT/MAX/TOPK with "
                    f">/>= or MIN with </<=), or EMIT FINAL, or a batch query"
                )
        out = bounded_agg_changelog(
            df,
            ts_col,
            [(g.output_name(), g.output()) for g in sb.group_by],
            sb.window,
            agg_fields + hidden,
        )
    else:
        out = _native_fold(sb, df, ts_col, agg_fields + hidden)

    for cond in sb.having_exprs:
        out = out.filter(_lower_with_subs(cond, subs))

    # final projection in declared order; windows expose window_start/window_end
    proj: list[Column] = []
    if windowed:
        proj.append(F.col("__window.start").alias("window_start"))
        proj.append(F.col("__window.end").alias("window_end"))
    for f in sb.fields:
        if f.is_aggregate():
            proj.append(F.col(f.output_name()))
        else:
            proj.append(F.col(_source_name(f)).alias(f.output_name()))
    if "__op" in out.columns:
        proj.append(F.col("__op"))
    return out.select(*proj)


def _native_fold(
    sb: SelectBuilder, df: DataFrame, ts_col: str | None, aggs: list[AggregateFn]
) -> DataFrame:
    """Spark's own aggregation: ``groupBy().agg()``, or for a batch plan
    whose one aggregate is a HISTOGRAM or a large-input TOPK, a two-level
    rewrite."""
    windowed = sb.window is not None
    group_cols: list[Column] = []
    if windowed:
        group_cols.append(sb.window.grouping_column(ts_col).alias("__window"))
    group_cols.extend(g.output() for g in sb.group_by)

    # HISTOGRAM scale path (SURVEY.md §2.4): for batch plans the value->count
    # map comes from a two-level groupBy — (keys, value) count, then a small
    # per-key top-`buckets` fold — instead of the single-agg map-fold, whose
    # per-group cost is O(distinct²) and degenerates on a hot key with a
    # large distinct value set.  Both shuffles partial-aggregate map-side;
    # per-key state after level 1 is one row per distinct value, spillable.
    # Streaming keeps the single-pass fold (state must live in one agg).
    if not df.isStreaming and len(aggs) == 1 and isinstance(aggs[0], Histogram):
        return _lower_histogram_twolevel(sb, df, group_cols, aggs[0], windowed)
    if (
        not df.isStreaming
        and len(aggs) == 1
        and isinstance(aggs[0], TopK)  # covers TopKDistinct (subclass)
        and _topk_twolevel_worthwhile(df)
    ):
        return _lower_topk_twolevel(sb, df, group_cols, aggs[0], windowed)
    agg_cols = [f.output() for f in aggs]
    if not agg_cols:
        # GROUP BY with no aggregates == DISTINCT over the keys
        agg_cols = [F.count(F.lit(1)).alias("__cnt")]
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return grouped.agg(*agg_cols)
