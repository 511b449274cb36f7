"""Skew handling: salted two-phase aggregation and salted joins must be
result-identical to their unsalted forms (north rule: salted-key handling
for skewed long conversations)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as Fn

from ksql_spark.streaming.skew import (
    SALT_COL,
    add_salt,
    salted_join,
    salted_two_phase_agg,
)


def test_salted_agg_matches_plain(spark, transcripts):
    _, tdf = transcripts
    plain = (
        tdf.groupBy("conv_id")
        .agg(
            Fn.count("turn_idx").alias("n"),
            Fn.sum("turn_idx").alias("s"),
            Fn.min("ts").alias("mn"),
            Fn.max("ts").alias("mx"),
            Fn.avg("turn_idx").alias("av"),
        )
    )
    salted = salted_two_phase_agg(
        tdf,
        keys=["conv_id"],
        aggs={
            "n": ("count", "turn_idx"),
            "s": ("sum", "turn_idx"),
            "mn": ("min", "ts"),
            "mx": ("max", "ts"),
            "av": ("avg", "turn_idx"),
        },
        salt_buckets=8,
        salt_cols=["turn_idx"],
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.select("conv_id", "n", "s", "mn", "mx", "av").collect()))
    assert a == b


def test_salted_join_matches_plain(spark, transcripts):
    _, tdf = transcripts
    dim = tdf.select("conv_id").distinct().withColumn(
        "tag", Fn.concat(Fn.lit("t-"), Fn.col("conv_id"))
    )
    plain = tdf.join(dim, "conv_id").select("conv_id", "turn_idx", "tag")
    salted = salted_join(
        tdf, dim, key="conv_id", salt_buckets=4, left_salt_cols=["turn_idx"]
    ).select("conv_id", "turn_idx", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salt_is_deterministic(spark, transcripts):
    _, tdf = transcripts
    s1 = add_salt(tdf, 8, deterministic_cols=["conv_id", "turn_idx"]).select(SALT_COL)
    s2 = add_salt(tdf, 8, deterministic_cols=["conv_id", "turn_idx"]).select(SALT_COL)
    assert sorted(r[0] for r in s1.collect()) == sorted(r[0] for r in s2.collect())
    assert s1.agg(Fn.max(SALT_COL)).collect()[0][0] <= 7
    assert s1.agg(Fn.min(SALT_COL)).collect()[0][0] >= 0


def test_salted_stream_stream_join_matches_plain(spark, tmp_path):
    """VERDICT r4 #4: the streaming twin of salted_join.  A Zipf-hot key's
    join state spreads over (key, salt) buckets; result == the plain batch
    join, and the salt equality is part of the streaming join condition."""
    import random

    from ksql_spark.streaming.skew import salted_stream_stream_join

    rng = random.Random(77)
    lrows, rrows = [], []
    for i in range(600):
        k = 0 if rng.random() < 0.7 else rng.randrange(1, 20)  # hot key 0
        t = rng.randrange(0, 3600)
        lrows.append((i, k, f"2024-01-01 00:{t // 60:02d}:{t % 60:02d}"))
    for i in range(200):
        k = 0 if rng.random() < 0.7 else rng.randrange(1, 20)
        t = rng.randrange(0, 3600)
        rrows.append((10_000 + i, k, f"2024-01-01 00:{t // 60:02d}:{t % 60:02d}"))
    ldf = spark.createDataFrame(lrows, "l_id bigint, k bigint, ts_s string").select(
        "l_id", "k", Fn.col("ts_s").cast("timestamp").alias("l_ts")
    )
    rdf = spark.createDataFrame(rrows, "r_id bigint, k bigint, ts_s string").select(
        "r_id", "k", Fn.col("ts_s").cast("timestamp").alias("r_ts")
    )
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    ldf.write.parquet(lp)
    rdf.write.parquet(rp)

    ls = spark.readStream.schema(ldf.schema).parquet(lp).withWatermark("l_ts", "1 day")
    rs = spark.readStream.schema(rdf.schema).parquet(rp).withWatermark("r_ts", "1 day")
    joined = salted_stream_stream_join(
        ls, rs, key="k", left_ts="l_ts", right_ts="r_ts",
        within_seconds=30, salt_buckets=4, left_salt_cols=["l_id"],
    ).select("k", "l_id", "r_id")
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert SALT_COL in plan  # the salt is a join key in the streaming plan

    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        joined.writeStream.foreachBatch(sink)
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
            ldf.join(
                rdf,
                (ldf["k"] == rdf["k"])
                & (rdf["r_ts"] >= ldf["l_ts"])
                & (rdf["r_ts"] <= ldf["l_ts"] + Fn.expr("INTERVAL 30 SECONDS")),
            )
            .select(ldf["k"], "l_id", "r_id")
            .collect(),
        )
    )
    assert got == want and len(got) > 100


def test_salted_stream_stream_join_requires_salt_cols(spark):
    """ADVICE r5: the stream-stream variant must reject the nondeterministic
    monotonically_increasing_id salt fallback (not replay-stable) and
    right-preserving join types (right rows are exploded x salt_buckets)."""
    from ksql_spark.streaming.skew import salted_stream_stream_join

    df = spark.createDataFrame([(1, 1)], "l_id bigint, k bigint").select(
        "l_id", "k", Fn.current_timestamp().alias("l_ts")
    )
    rdf = df.select(Fn.col("l_id").alias("r_id"), "k", Fn.col("l_ts").alias("r_ts"))
    with pytest.raises(ValueError, match="left_salt_cols"):
        salted_stream_stream_join(
            df, rdf, key="k", left_ts="l_ts", right_ts="r_ts", within_seconds=10
        )
    with pytest.raises(ValueError, match="right-preserving|supports how"):
        salted_stream_stream_join(
            df, rdf, key="k", left_ts="l_ts", right_ts="r_ts",
            within_seconds=10, left_salt_cols=["l_id"], how="full_outer",
        )


def test_time_bucket_join_boundaries(spark, tmp_path):
    """r7 optimization: the W-wide time-bucket equi-key added to the
    stream-stream join (probe work per row ∝ one bucket instead of the
    key's whole history) must be result-invisible — exercised here on the
    adversarial timestamps: rows exactly ON a bucket edge, exactly AT the
    [l_ts, l_ts + W] bound endpoints, and just outside them."""
    from ksql_spark.streaming.skew import TIME_BUCKET_COL, salted_stream_stream_join

    W = 60  # bucket width == within bound
    base = 1704067200  # 2024-01-01 00:00:00 UTC — a multiple of 60
    # left rows at bucket edge, mid-bucket, one tick before the edge
    loff = [0, 1, 59, 60, 61, 119, 120]
    # right rows at every offset that can be exactly at/inside/outside a
    # left row's [l_ts, l_ts + 60] window, incl. equality and 1-tick misses
    roff = [0, 1, 59, 60, 61, 62, 119, 120, 121, 179, 180, 181]
    lrows = [(i, 0, base + o) for i, o in enumerate(loff)]
    rrows = [(100 + i, 0, base + o) for i, o in enumerate(roff)]
    ldf = spark.createDataFrame(lrows, "l_id bigint, k bigint, es bigint").select(
        "l_id", "k", Fn.timestamp_seconds("es").alias("l_ts")
    )
    rdf = spark.createDataFrame(rrows, "r_id bigint, k bigint, es bigint").select(
        "r_id", "k", Fn.timestamp_seconds("es").alias("r_ts")
    )
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    ldf.write.parquet(lp)
    rdf.write.parquet(rp)
    ls = spark.readStream.schema(ldf.schema).parquet(lp).withWatermark("l_ts", "1 day")
    rs = spark.readStream.schema(rdf.schema).parquet(rp).withWatermark("r_ts", "1 day")
    joined = salted_stream_stream_join(
        ls, rs, key="k", left_ts="l_ts", right_ts="r_ts",
        within_seconds=W, salt_buckets=2, left_salt_cols=["l_id"],
    ).select("k", "l_id", "r_id")
    # the bucket column is part of the streaming join's equi-key
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert TIME_BUCKET_COL in plan

    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        joined.writeStream.foreachBatch(sink)
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
            ldf.join(
                rdf,
                (ldf["k"] == rdf["k"])
                & (rdf["r_ts"] >= ldf["l_ts"])
                & (rdf["r_ts"] <= ldf["l_ts"] + Fn.expr(f"INTERVAL {W} SECONDS")),
            )
            .select(ldf["k"], "l_id", "r_id")
            .collect(),
        )
    )
    assert got == want and len(got) > 20
