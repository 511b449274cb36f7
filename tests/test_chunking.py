"""Chunking operator + streaming ingest dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as Fn

from ksql_spark.operators.chunking import chunk_documents


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
        (2, " ".join(f"x{i}" for i in range(4))),  # single short chunk
        (3, ""),  # no tokens -> no chunks
        (4, "one"),  # 1 token
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_chunk_boundaries_and_overlap(spark, docs):
    out = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk"], r["n_tokens"])
        for r in chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    }
    # doc 1: stride 2 -> ceil((10-2)/2)=4 chunks: [0:4],[2:6],[4:8],[6:10]
    assert out[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert out[(1, 1)] == ("w2 w3 w4 w5", 4)
    assert out[(1, 2)] == ("w4 w5 w6 w7", 4)
    assert out[(1, 3)] == ("w6 w7 w8 w9", 4)
    assert (1, 4) not in out
    assert out[(2, 0)] == ("x0 x1 x2 x3", 4)
    assert (2, 1) not in out
    assert all(k[0] != 3 for k in out)  # empty doc: no chunks
    assert out[(4, 0)] == ("one", 1)


def test_chunks_reconstruct_document(spark, docs):
    """Concatenating chunk[i][overlap:] after chunk[0] rebuilds the token
    stream — no token lost or duplicated beyond the declared overlap."""
    rows = sorted(
        (
            (r["chunk_idx"], r["chunk"].split(" "))
            for r in chunk_documents(
                docs.filter("doc_id = 1"), chunk_tokens=4, overlap=2
            ).collect()
        )
    )
    rebuilt = list(rows[0][1])
    for _, toks in rows[1:]:
        rebuilt.extend(toks[2:])
    assert rebuilt == [f"w{i}" for i in range(10)]


def test_no_shuffle_in_plan(spark, docs):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        chunk_documents(docs).explain("formatted")
    assert "Exchange" not in buf.getvalue()  # embarrassingly parallel


def test_rejects_bad_overlap(spark, docs):
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Re-delivered rows in LATER micro-batches are dropped too (state keyed
    on event_id inside the watermark horizon)."""
    from ksql_spark.operators.dedup import exact_dedup_stream
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink

    rows = [(i, f"t{i % 3}", f"2024-01-01 00:{i:02d}:00") for i in range(20)]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, ts_s string").select(
        "event_id", "event_type", Fn.col("ts_s").cast("timestamp").alias("ts")
    )
    path = str(tmp_path / "ev")
    df.coalesce(1).write.mode("append").parquet(path)
    df.coalesce(1).write.mode("append").parquet(path)  # full re-delivery, new file

    src = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)  # re-delivery lands in a LATER batch
        .parquet(path)
    )
    out = exact_dedup_stream(src, keys=["event_id"], ts_col="ts", grace="1 day")
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = (
        out.select("event_id", "event_type")
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, sink.read_data(spark).collect()))
    assert got == sorted((i, f"t{i % 3}") for i in range(20))  # each exactly once
