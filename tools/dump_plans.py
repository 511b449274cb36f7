"""Dump the physical plans of the headline queries to PLANS.md.

Show-don't-tell scale evidence: for each headline query the formatted
physical plan is recorded so a reviewer can verify pushdown, pruning,
broadcast choices, aggregate strategies and join shapes without running
anything.  Streaming queries are captured as their EXECUTED micro-batch
plans (explainInternal of the last batch), so the stateful operators —
StateStoreSave, FlatMapGroupsInPandasWithState, stream-stream join with
watermarks — are auditable too.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

BATCH_QUERIES = [
    "filter_project",
    "groupby_agg",
    "multi_join_revenue",
    "topk",
    "histogram",
    "window_session",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_incremental",
    "chunk_documents",
    "cep_match_sequence",
    "cep_negation",
    "cep_quantifier",
    "cep_pattern_multi",
    "cep_pattern_negation",
    "cep_pattern_optional",
    "cep_pattern_first",
    "cep_pattern_skip",
    "cep_pattern_skip_next",
    "embed_cosine_topk",
    "embed_neardup",
    "embed_lsh_ann",
    "embed_lsh_ann_batch",
    "embed_lsh_ann_served",
]


STREAMING_QUERIES = [
    "streaming_tumbling_changelog",
    "streaming_emit_final",
    "streaming_hopping_changelog",
    "streaming_session_changelog",
    "streaming_stream_stream_join",
    "streaming_stream_table_join",
    "streaming_topk_changelog",
    "streaming_histogram_changelog",
    "streaming_collect_set_changelog",
    "streaming_topk_having",
    "streaming_session_final",
    "streaming_multi_agg_changelog",
]


def capture_streaming_plans(entry_mod, spark, names: list[str]) -> dict[str, str]:
    """Run each streaming entry with PersistentQueryManager._start patched to
    drain the query and record its executed micro-batch physical plan."""
    import ksql_spark.streaming.engine as eng

    captured: dict[str, str] = {}
    orig = eng.PersistentQueryManager._start

    def patched(self, pq, available_now, processing_time, await_termination, mft):
        orig(self, pq, available_now, processing_time, False, mft)
        q = pq.streaming_query
        q.awaitTermination()
        captured[pq.name] = q._jsq.explainInternal(False)

    eng.PersistentQueryManager._start = patched
    plans: dict[str, str] = {}
    try:
        qs = entry_mod.queries()
        for name in names:
            captured.clear()
            qs[name](spark, SF_DIR)
            # one entry may start several queries; keep them all
            plans[name] = "\n\n".join(
                f"-- persistent query: {k}\n{v}" for k, v in captured.items()
            )
    finally:
        eng.PersistentQueryManager._start = orig
    return plans


def main() -> None:
    import __spark_entry__ as entry_mod
    from ksql_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    out = [
        "# PLANS — formatted physical plans of the headline batch queries",
        "",
        f"Generated by `python tools/dump_plans.py {SF_DIR}`.  Checked",
        "properties (asserted in tests/test_plans.py): parquet filter",
        "pushdown + column pruning, broadcast of small dimensions, top-k via",
        "TakeOrderedAndProject, HashAggregate for fixed-width aggregates, no",
        "cartesian products in any LSH path, shuffle-free bucketed joins.",
        "",
    ]
    for name in BATCH_QUERIES:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", "```", buf.getvalue().rstrip(), "```", ""]

    out += [
        "# Streaming micro-batch plans",
        "",
        "Executed physical plan of the last micro-batch (explainInternal)",
        "for every streaming driver entry — stateful operators, watermarks",
        "and the Arrow stateful-operator boundaries are visible below.",
        "",
    ]
    for name, plan in capture_streaming_plans(entry_mod, spark, STREAMING_QUERIES).items():
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]

    out += [
        "# Streaming analyzed plans (operator frames)",
        "",
        "The NFA quantifier/negation/first/skip modes, the salted",
        "stream-stream join and the n=4 repeat start through",
        "start_stream, not PersistentQueryManager; their analyzed plans",
        "(pre-execution) show the single FlatMapGroupsInPandasWithState",
        "store, the (key, __salt) join keys, and the on-completion NFA store",
        "respectively.  first/skip share the all-matches plan shape —",
        "the mode changes only the kernel's selection policy and shrinks",
        "per-key state (done tombstone / advancing frontier).",
        "",
    ]
    from pyspark.sql import functions as Fn

    from ksql_spark.operators.cep import match_sequence, repeat
    from ksql_spark.operators.cep_nfa import match_pattern
    from ksql_spark.streaming.skew import salted_stream_stream_join

    ev_schema = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).schema
    src = (
        spark.readStream.schema(ev_schema)
        .parquet(os.path.join(SF_DIR, "events.parquet"))
        .withColumn("ts", Fn.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
    )
    static = {
        "streaming_cep_quantifier (NFA)": match_pattern(
            src, [("a", Fn.col("event_type") == "view", 2, 3),
                  ("b", Fn.col("event_type") == "purchase", 1, 1)], within_seconds=86400,
        ),
        "streaming_cep_repeat4 (NFA, emits on completion)": match_sequence(
            src, [*repeat("a", Fn.col("event_type") == "view", 4),
                  ("b", Fn.col("event_type") == "purchase")],
            within_seconds=172800,
        ),
        "streaming_cep_pattern_negation (NFA, one store)": match_pattern(
            src,
            [("v", Fn.col("event_type") == "view", 1, 2),
             ("nc", Fn.col("event_type") == "click", 0, 0),
             ("p", Fn.col("event_type") == "purchase", 1, 1)],
            within_seconds=86400,
        ),
        "streaming_cep_pattern_first (NFA, done tombstone)": match_pattern(
            src,
            [("v", Fn.col("event_type") == "view", 1, 2),
             ("c", Fn.col("event_type") == "click", 1, 1),
             ("p", Fn.col("event_type") == "purchase", 1, 1)],
            within_seconds=86400, mode="first",
        ),
        "streaming_cep_pattern_skip (NFA, greedy frontier)": match_pattern(
            src,
            [("v", Fn.col("event_type") == "view", 1, 2),
             ("c", Fn.col("event_type") == "click", 1, 1),
             ("p", Fn.col("event_type") == "purchase", 1, 1)],
            within_seconds=86400, mode="skip_past_last",
        ),
        "streaming_cep_pattern_skip_next (NFA, per-anchor first)": match_pattern(
            src,
            [("v", Fn.col("event_type") == "view", 1, 2),
             ("c", Fn.col("event_type") == "click", 1, 1),
             ("p", Fn.col("event_type") == "purchase", 1, 1)],
            within_seconds=86400, mode="skip_to_next",
        ),
        "streaming_skew_salted_join": salted_stream_stream_join(
            src.select(Fn.col("user_id").alias("k"), Fn.col("event_id").alias("l_id"),
                       Fn.col("ts").alias("l_ts")).withWatermark("l_ts", "30 minutes"),
            src.select(Fn.col("user_id").alias("k"), Fn.col("event_id").alias("r_id"),
                       Fn.col("ts").alias("r_ts")).withWatermark("r_ts", "30 minutes"),
            key="k", left_ts="l_ts", right_ts="r_ts",
            within_seconds=900, salt_buckets=8, left_salt_cols=["l_id"],
        ),
    }
    for name, df in static.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
