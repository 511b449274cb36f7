"""Partitioning and skew handling.

The north rule mandates explicit repartitioning on ``conv_id`` and
salted-key handling for skewed long conversations.  AQE's skew-join split
covers *batch* joins; stateful streaming aggregation over a power-law key
distribution (a handful of million-turn conversations) needs the classic
two-phase salted aggregate, which AQE cannot do.

All helpers are pure DataFrame transforms — no Python row paths.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"
TIME_BUCKET_COL = "__tbkt"


def time_bucket(ts: Column, within_seconds: float) -> Column:
    """Event-time bucket id of width ``within_seconds`` (integer floor over
    microseconds — exact for any representable interval).

    A time-BOUNDED stream-stream join (``|l_ts - r_ts| <= W`` or
    ``r_ts in [l_ts, l_ts + W]``) keyed only on the business key makes the
    symmetric hash join scan EVERY stored same-key row per probe and filter
    by time afterwards — per-probe work proportional to the key's whole
    retained history (quadratic on a hot key).  Adding the W-wide time
    bucket to the equi-key restricts each probe to the two/three adjacent
    buckets the bound can reach, making per-probe work proportional to the
    rows of one bucket instead (guide §2.4/§3: remove work the optimizer
    cannot — the bound implies the bucket equality).

    One side keeps its single natural bucket (pure expression in the join
    condition — no column materialized); the OTHER side is exploded across
    the adjacent bucket ids it may have to meet (``explode_time_buckets``),
    trading k× state on that side for history-independent probes.  Only a
    non-preserved join side may be exploded (an exploded preserved side
    would emit its unmatched rows once per copy).
    """
    us = int(round(within_seconds * 1_000_000))
    return F.floor(F.unix_micros(ts.cast("timestamp")) / F.lit(us)).cast("long")


def explode_time_buckets(
    ts: Column, within_seconds: float, offsets: Sequence[int]
) -> Column:
    """All bucket ids of ``ts``'s bucket shifted by ``offsets`` — the bucket
    set the OTHER side's single bucket can land in under the join's time
    bound.  ``[-1, 0]`` covers ``other_ts in [ts - W, ts]`` style one-sided
    bounds (this side is the later event); ``[-1, 0, 1]`` covers the
    symmetric ``|l_ts - r_ts| <= W``."""
    b = time_bucket(ts, within_seconds)
    return F.explode(F.array(*[b + F.lit(int(o)) for o in offsets]))


def add_salt(df: DataFrame, salt_buckets: int, deterministic_cols: Sequence[str] | None = None) -> DataFrame:
    """Append a salt column in [0, salt_buckets).

    Deterministic (hash of the given columns) so re-delivered epochs salt
    identically — required for exactly-once replay stability; never uses
    rand().
    """
    if deterministic_cols:
        salt = F.pmod(F.abs(F.xxhash64(*[F.col(c) for c in deterministic_cols])), salt_buckets)
    else:
        salt = F.pmod(F.abs(F.xxhash64(F.monotonically_increasing_id())), salt_buckets)
    return df.withColumn(SALT_COL, salt.cast("int"))


def salted_two_phase_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    Phase 1 aggregates on (keys + salt) — the hot key is spread over
    ``salt_buckets`` reducers; phase 2 merges partials on the true keys.
    ``aggs`` maps output name -> (function, column) where function is one of
    the algebraic aggregates: count, sum, min, max, avg.

    avg is decomposed into (sum, count) partials so the merge is exact.
    """
    phase1: list[Column] = []
    phase2: list[Column] = []
    for out, (fn, col) in aggs.items():
        if fn == "count":
            phase1.append(F.count(F.col(col)).alias(f"__p_{out}"))
            phase2.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "sum":
            phase1.append(F.sum(F.col(col)).alias(f"__p_{out}"))
            phase2.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "min":
            phase1.append(F.min(F.col(col)).alias(f"__p_{out}"))
            phase2.append(F.min(f"__p_{out}").alias(out))
        elif fn == "max":
            phase1.append(F.max(F.col(col)).alias(f"__p_{out}"))
            phase2.append(F.max(f"__p_{out}").alias(out))
        elif fn == "avg":
            phase1.append(F.sum(F.col(col)).alias(f"__p_{out}_s"))
            phase1.append(F.count(F.col(col)).alias(f"__p_{out}_c"))
            phase2.append(
                (F.sum(f"__p_{out}_s") / F.sum(f"__p_{out}_c")).alias(out)
            )
        else:
            raise ValueError(f"salted agg does not support {fn!r} (not algebraic)")

    salted = add_salt(df, salt_buckets, deterministic_cols=salt_cols or ["turn_idx"])
    partial = salted.groupBy(*[F.col(k) for k in keys], F.col(SALT_COL)).agg(*phase1)
    return partial.groupBy(*[F.col(k) for k in keys]).agg(*phase2)


def salted_stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within_seconds: float,
    salt_buckets: int = 8,
    left_salt_cols: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant STREAM-STREAM time-bounded equi-join (VERDICT r4 #4).

    A stream-stream join keeps per-key state on BOTH sides; a Zipf-hot key
    concentrates that state (and every probe against it) on one state-store
    partition, which AQE cannot split — streaming plans are fixed at start.
    The salted twin of the batch ``salted_join``: the big/skewed left side
    gets a DETERMINISTIC salt (hash of ``left_salt_cols`` — replay-stable
    across epoch re-delivery, never rand()); the right side is exploded
    across all ``salt_buckets``, so every left row still meets every
    matching right row exactly once.  Join keys become (key, salt): the hot
    key's state and probe work spread over ``salt_buckets`` store
    partitions.  Right-side state grows ×salt_buckets — use for a hot
    probe side against a moderate build side.

    Both inputs must already carry watermarks; the ``within_seconds`` bound
    (``left_ts <= right_ts <= left_ts + within``) keeps both sides'
    state watermark-evictable — the same WITHIN shape compile.py gives
    stream-stream joins.  Distinct ts column names are required (rename
    before calling); every other column name must be disjoint too.

    ``left_salt_cols`` is REQUIRED here (unlike the batch ``salted_join``):
    the stream-stream state contract needs a salt that is stable across
    micro-batch replay and task retries, and ``add_salt``'s fallback
    (``xxhash64(monotonically_increasing_id())``) depends on partition
    layout — a replayed epoch could salt the same row differently and lose
    or duplicate matches on recovery (ADVICE r5).

    ``how`` is restricted to ``inner`` / ``left_outer`` / ``left_semi``:
    the right side is exploded across all ``salt_buckets``, so a
    right-preserving join would emit every unmatched right row
    ``salt_buckets`` times (ADVICE r5).
    """
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    if not left_salt_cols:
        raise ValueError(
            "salted_stream_stream_join requires left_salt_cols: the salt must "
            "be a deterministic function of row content to stay stable across "
            "micro-batch replay (exactly-once recovery); add_salt's "
            "monotonically_increasing_id fallback is partition-layout-dependent"
        )
    if how.replace("_", "") not in ("inner", "leftouter", "left", "leftsemi"):
        raise ValueError(
            f"salted_stream_stream_join supports how='inner'/'left_outer'/"
            f"'left_semi' only (got {how!r}): the right side is exploded "
            f"across {salt_buckets} salt buckets, so a right-preserving join "
            f"would emit each unmatched right row {salt_buckets} times"
        )
    l = add_salt(left, salt_buckets, deterministic_cols=left_salt_cols).alias("__l")
    r = (
        right.withColumn(
            SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
        )
        .withColumn(SALT_COL, F.col(SALT_COL).cast("int"))
        # W-wide time buckets on the equi-key: r_ts in [l_ts, l_ts + W]
        # implies bucket(l_ts) in {bucket(r_ts) - 1, bucket(r_ts)} — probe
        # work per row drops from the key's whole retained history to the
        # two adjacent buckets (see time_bucket); right side is already the
        # non-preserved side (how is inner/left-ish), so exploding it is safe
        .withColumn(
            TIME_BUCKET_COL,
            explode_time_buckets(F.col(right_ts), within_seconds, [-1, 0]),
        )
        .alias("__r")
    )
    within = F.expr(f"INTERVAL {within_seconds} SECONDS")
    cond = (
        (F.col(f"__l.{key}") == F.col(f"__r.{key}"))
        & (F.col(f"__l.{SALT_COL}") == F.col(f"__r.{SALT_COL}"))
        & (time_bucket(F.col(f"__l.{left_ts}"), within_seconds) == F.col(f"__r.{TIME_BUCKET_COL}"))
        & (F.col(f"__r.{right_ts}") >= F.col(f"__l.{left_ts}"))
        & (F.col(f"__r.{right_ts}") <= F.col(f"__l.{left_ts}") + within)
    )
    out = l.join(r, cond, how)
    return out.drop(F.col(f"__r.{key}")).drop(
        F.col(f"__l.{SALT_COL}")
    ).drop(F.col(f"__r.{SALT_COL}")).drop(F.col(f"__r.{TIME_BUCKET_COL}"))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 8,
    left_salt_cols: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big/skewed left side, explode the
    right side across all buckets.  Right-side fan-out is ×salt_buckets, so
    use only when the right side is small-to-medium (else prefer AQE's
    skew-join split for batch plans).
    """
    l = add_salt(left, salt_buckets, deterministic_cols=left_salt_cols)
    r = right.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = l.join(r, on=[key, SALT_COL], how=how)
    return out.drop(SALT_COL)
