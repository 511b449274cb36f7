"""Driver contract for the spark-graft builder (PySpark target).

Every operator family from SURVEY.md §2 plus the training-data operators
(dedup / similarity / text analysis) gets a ``queries()`` entry implemented
through the ksql_spark engine, paired with an exact DuckDB oracle in
``oracle_sql()``.  All hashes used by signature-based operators are the
md5-derived portable hash so both engines produce bit-identical results;
doubles are rounded identically on both sides.

The flagship (``entry`` and ``streaming_tumbling_changelog``) runs the real
Structured Streaming path — CSAS persistent query, exactly-once sink,
changelog state — and its oracle is plain batch SQL: streaming == batch is
the core parity claim (BASELINE.json north_rule).

Streaming entries only declare their query: the engine
(``streaming/engine.py::start_stream``) pins the declared state parallelism
and decides whether a bounded run keeps its trailing no-data micro-batch.
"""

from __future__ import annotations

import atexit
import datetime
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

# resolve the ksql_spark package relative to this file, regardless of the
# driver's working directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as Fn

from ksql_spark import (
    STREAM,
    TABLE,
    TOPIC,
    Avg,
    Case,
    Catalog,
    CollectList,
    CollectSet,
    Count,
    Create,
    EarliestByOffset,
    F,
    Histogram,
    HoppingWindow,
    Insert,
    KType,
    LatestByOffset,
    Literal,
    Max,
    Min,
    RawColumn,
    Schema,
    SchemaField,
    Select,
    SelectStruct,
    SessionWindow,
    Sum,
    TimeUnit,
    TopK,
    TopKDistinct,
    TumblingWindow,
    compile_select,
)
from ksql_spark.errors import AnalysisError, SchemaError
from ksql_spark.expr import Conditional
from ksql_spark.functions.numeric import portable_round
from ksql_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count_bpe,
    token_count_ws,
)
from ksql_spark.migrations import Migrator, create_migration
from ksql_spark.operators.cep import match_sequence, repeat
from ksql_spark.operators.cep_nfa import match_pattern
from ksql_spark.operators.chunking import chunk_documents
from ksql_spark.operators.compile import DEFAULT_GRACE
from ksql_spark.operators.dedup import (
    cleanup_persisted,
    dedup_clusters,
    embedding_neardup_pairs,
    embedding_neardup_pairs_lsh,
    exact_dedup,
    exact_dedup_stream,
    minhash_index,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    ngram_jaccard_pairs,
    simhash_pairs_blocked,
)
from ksql_spark.operators.multimodal import (
    extract_features,
    synthesize_media,
    synthesize_media_real,
)
from ksql_spark.operators.sampling import hash_sample, stratified_sample
from ksql_spark.operators.similarity import add_lsh_buckets, cosine_topk, lsh_topk, lsh_topk_batch
from ksql_spark.streaming.engine import PersistentQueryManager, start_stream
from ksql_spark.streaming.sink import ExactlyOnceParquetSink
from ksql_spark.streaming.skew import (
    salted_join,
    salted_stream_stream_join,
    salted_two_phase_agg,
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _load(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return {n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names}


def _fmt(col):
    return Fn.date_format(col, "yyyy-MM-dd HH:mm:ss")


def _session_us(df: DataFrame) -> DataFrame:
    """Session-window rows as (start_us, end_us, user_id, cnt)."""
    return df.select(
        Fn.unix_micros(Fn.col("window_start").cast("timestamp")).alias("session_start_us"),
        Fn.unix_micros(Fn.col("window_end").cast("timestamp")).alias("session_end_us"),
        "user_id",
        "cnt",
    )


def _ranked(df: DataFrame, arr: str, rank: str, value: str, *keep: str) -> DataFrame:
    """Canonicalize an array column to (rank, value) rows so the driver can
    hash it; the rank also verifies the engine's stable-order contract."""
    return df.select("user_id", *keep, Fn.posexplode(arr).alias(rank, value)).select(
        "user_id", *keep, Fn.col(rank).cast("bigint").alias(rank), value
    )


def _scratch_dir(prefix: str) -> str:
    """Ephemeral per-entry scratch (checkpoints, staged inputs, sink dirs).

    ``KSQL_SPARK_SCRATCH`` points it at a specific volume (e.g. NVMe or a
    RAM fs); default is the system tempdir.  A tmpfs default was measured
    (interleaved A/B, r7) and showed NO benefit over ext4 here — the
    multi-second RocksDB `CommitFileSyncLatencyMs` readings under host
    load turned out to be contention, not disk latency — so the
    un-surprising default stays.  Dirs are released atexit so repeated
    bench runs leave nothing behind."""
    root = os.environ.get("KSQL_SPARK_SCRATCH")
    if root:
        os.makedirs(root, exist_ok=True)
        d = tempfile.mkdtemp(prefix=prefix, dir=root)
    else:
        d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:
    """Release this process's scratch dirs at exit so repeated bench runs
    do not accumulate state in the RAM-backed fs.  (Results are always
    fully drained before the process exits — the driver counts each
    entry's frame before moving on.)"""
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_scratch)


def _engine(spark: SparkSession, prefix: str, grace: str = DEFAULT_GRACE) -> PersistentQueryManager:
    """A fresh catalog and persistent-query manager in their own scratch
    dir, on UTC session time."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = _scratch_dir(prefix)
    cat = Catalog(spark, root=os.path.join(work, "catalog"))
    return PersistentQueryManager(spark, cat, workdir=os.path.join(work, "engine"), grace=grace)


def _events_engine(
    spark: SparkSession, sf_dir: str, prefix: str, grace: str, *names: str
) -> PersistentQueryManager:
    """:func:`_engine` with the events table registered as a STREAM under
    each of ``names`` (default ``events``): event time ``ts``, (ts,
    event_id) order, 8 declared partitions."""
    mgr = _engine(spark, prefix, grace)
    for name in names or ("events",):
        mgr.catalog.register_parquet(
            name,
            os.path.join(sf_dir, "events.parquet"),
            ref=STREAM,
            event_time_col="ts",
            event_order_cols=["ts", "event_id"],
            partitions=8,
        )
    return mgr


def _utc_ts(df: DataFrame) -> DataFrame:
    """``ts`` as TIMESTAMP (the test data may store TIMESTAMP_NTZ)."""
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        return df.withColumn("ts", Fn.col("ts").cast("timestamp"))
    return df


def _drain(
    df: DataFrame, work: str, output_mode: str = "append", state_partitions: int | None = 8
) -> DataFrame:
    """Run the streaming frame ``df`` to completion through the engine into
    an exactly-once sink under ``work``; return its committed rows.  The
    default 8 state partitions fit the events keyspace: the session default
    would multiply the per-batch state-store open/commit cost per operator
    for no speedup."""
    sink = ExactlyOnceParquetSink(os.path.join(work, "sink"))
    start_stream(
        df, sink, os.path.join(work, "ckpt"),
        output_mode=output_mode, state_partitions=state_partitions,
    ).awaitTermination()
    return sink.read_data(df.sparkSession)


def _stage_events_sentinels(spark: SparkSession, sf_dir: str, work: str):
    """Stage the events stream plus one far-future watermark sentinel
    WITHOUT a Spark job: hard-link the source parquet files into
    <work>/ev, take the exact max(ts) from the parquet footer statistics,
    and write the sentinel row with pyarrow under the source's own schema.
    The streaming file source reads every file of the directory.  Returns
    the readStream frame with ts normalized to TIMESTAMP.

    The sentinel is (event_id, user_id) = (-1, -1), event_type
    'sentinel', value 0.0, props '{}': a type no pattern leg accepts.  It
    still moves the watermark, because the CEP lowering filters its legs
    above the watermark node, so every event counts.  A source column the
    sentinel row has no value for raises :class:`SchemaError` naming it."""
    src_path = os.path.join(sf_dir, "events.parquet")
    ev_dir = os.path.join(work, "ev")
    os.makedirs(ev_dir, exist_ok=True)
    files = (
        sorted(
            os.path.join(src_path, f)
            for f in os.listdir(src_path)
            if f.endswith(".parquet")
        )
        if os.path.isdir(src_path)
        else [src_path]
    )
    for i, f in enumerate(files):
        dst = os.path.join(ev_dir, f"src-{i}.parquet")
        try:
            os.link(f, dst)
        except OSError:
            shutil.copy(f, dst)

    def _footer_max_ts():
        mx = None
        for f in files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                found = False
                for c in range(rgm.num_columns):
                    col = rgm.column(c)
                    if col.path_in_schema == "ts":
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            return None  # stats missing -> exact agg fallback
                        mx = st.max if mx is None else max(mx, st.max)
                        found = True
                if not found:
                    return None
        return mx

    max_ts = _footer_max_ts()
    if max_ts is None:
        max_ts = spark.read.parquet(src_path).agg(Fn.max("ts")).first()[0]
    far = max_ts + datetime.timedelta(days=365)

    schema = pq.read_schema(files[0])
    values = {
        "event_id": [-1], "ts": [far], "user_id": [-1], "event_type": ["sentinel"],
        "value": [0.0], "props": ["{}"],
    }
    unknown = [f.name for f in schema if f.name not in values]
    if unknown:
        raise SchemaError(
            f"{src_path} has column {unknown[0]!r}, which the watermark "
            f"sentinel rows have no value for (they know {sorted(values)})"
        )
    arrays = [
        pa.array(values[f.name], type=f.type) for f in schema
    ]
    pq.write_table(pa.table(arrays, schema=schema), os.path.join(ev_dir, "sentinel.parquet"))

    spark_schema = spark.read.parquet(files[0]).schema
    return _utc_ts(spark.readStream.schema(spark_schema).parquet(ev_dir))


def _sentinel_events(spark: SparkSession, sf_dir: str, prefix: str) -> tuple[DataFrame, str]:
    """(events stream plus one far-future sentinel row, watermarked at 30
    minutes; its scratch dir), on UTC session time."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = _scratch_dir(prefix)
    src = _stage_events_sentinels(spark, sf_dir, work)
    return src.withWatermark("ts", "30 minutes"), work


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table, after releasing the PREVIOUS entry's persisted
    signature frames: the driver collects each entry fully before calling
    the next, so caller-side cleanup here is safe and bounds the
    MEMORY_AND_DISK footprint to one entry (operators themselves never
    flush the registry — ADVICE r3)."""
    cleanup_persisted()
    return _load(spark, sf_dir, "documents")["documents"]


# ---------------------------------------------------------------------------
# relational operators (builder API -> compile_select)
# ---------------------------------------------------------------------------


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "lineitem")
    q = (
        Select(
            F("l_orderkey"),
            F("l_linenumber"),
            F("l_quantity"),
            F("l_extendedprice").Mul(Literal(1).Sub(F("l_discount"))).Alias("net_price"),
        )
        .From(Schema("lineitem", STREAM))
        .Where(F("l_quantity").Less(25), F("l_returnflag").Equal("R"))
    )
    df = compile_select(q, sources=src)
    return df.withColumn("net_price", Fn.round("net_price", 4))


def q_filter_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "orders")
    q = (
        Select(F("o_orderkey"), F("o_orderpriority"), F("o_orderstatus"))
        .From(Schema("orders", STREAM))
        .Where(
            F("o_orderpriority").In("1-URGENT", "2-HIGH"),
            F("o_orderstatus").NotEqual("O"),
            F("o_totalprice").IsNotNull(),
        )
    )
    return compile_select(q, sources=src)


def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "orders")
    q = (
        Select(
            F("o_orderkey"),
            Case()
            .When(F("o_totalprice").Greater(300000), "high")
            .When(F("o_totalprice").Greater(150000), "mid")
            .Else("low")
            .Alias("price_band"),
        )
        .From(Schema("orders", STREAM))
    )
    return compile_select(q, sources=src)


def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "lineitem")
    q = (
        Select(
            F("l_returnflag"),
            F("l_linestatus"),
            Sum(F("l_quantity")).Alias("sum_qty"),
            Avg(F("l_extendedprice")).Alias("avg_price"),
            Min(F("l_discount")).Alias("min_disc"),
            Max(F("l_tax")).Alias("max_tax"),
            Count(F("l_orderkey")).Alias("cnt"),
        )
        .From(Schema("lineitem", STREAM))
        .GroupBy(F("l_returnflag"), F("l_linestatus"))
        .EmitChanges()
    )
    df = compile_select(q, sources=src)
    return df.select(
        "l_returnflag",
        "l_linestatus",
        Fn.round("sum_qty", 4).alias("sum_qty"),
        portable_round(Fn.col("avg_price"), 4).alias("avg_price"),
        Fn.round("min_disc", 4).alias("min_disc"),
        Fn.round("max_tax", 4).alias("max_tax"),
        "cnt",
    )


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "orders")
    q = (
        Select(F("o_custkey"), Count(F("o_orderkey")).Alias("n_orders"))
        .From(Schema("orders", STREAM))
        .GroupBy(F("o_custkey"))
        .Having(Count(F("o_orderkey")).Greater(15))
        .EmitChanges()
    )
    return compile_select(q, sources=src)


def q_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "orders")
    q = (
        Select(F("o_orderkey"), F("o_totalprice"))
        .From(Schema("orders", STREAM))
        .OrderBy(F("o_totalprice").Desc(), F("o_orderkey").Asc())
        .Limit(10)
    )
    df = compile_select(q, sources=src)
    return df.withColumn("o_totalprice", Fn.round("o_totalprice", 4))


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "orders", "customer", "nation")
    q = (
        Select(F("o.o_orderkey"), F("c.c_name"), F("n.n_name"))
        .From(Schema("orders", TABLE).As("o"))
        .Join(Schema("customer", TABLE).As("c"), F("o.o_custkey").Equal(F("c.c_custkey")))
        .Join(Schema("nation", TABLE).As("n"), F("c.c_nationkey").Equal(F("n.n_nationkey")))
        .Where(F("o.o_totalprice").Greater(350000))
    )
    return compile_select(q, sources=src)


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "customer", "orders")
    q = (
        Select(F("c.c_custkey"), Count(F("o.o_orderkey")).Alias("n_orders"))
        .From(Schema("customer", TABLE).As("c"))
        .LeftJoin(Schema("orders", TABLE).As("o"), F("c.c_custkey").Equal(F("o.o_custkey")))
        .GroupBy(F("c.c_custkey"))
    )
    return compile_select(q, sources=src)


def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "orders", "customer")
    # RIGHT JOIN keeps all customers, with nulls for order columns
    q = (
        Select(F("c.c_custkey"), F("c.c_mktsegment"), F("o.o_orderkey"))
        .From(Schema("orders", TABLE).As("o"))
        .RightJoin(
            Schema("customer", TABLE).As("c"),
            F("o.o_custkey").Equal(F("c.c_custkey")),
        )
        .Where(F("c.c_acctbal").Less(-900))
    )
    return compile_select(q, sources=src)


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "customer", "supplier")
    c = src["customer"].groupBy("c_nationkey").agg(Fn.count(Fn.lit(1)).alias("n_cust"))
    s = src["supplier"].groupBy("s_nationkey").agg(Fn.count(Fn.lit(1)).alias("n_supp"))
    q = (
        Select(F("c.c_nationkey"), F("c.n_cust"), F("s.s_nationkey"), F("s.n_supp"))
        .From(Schema("cust_agg", TABLE).As("c"))
        .OuterJoin(Schema("supp_agg", TABLE).As("s"), F("c.c_nationkey").Equal(F("s.s_nationkey")))
    )
    return compile_select(q, sources={"cust_agg": c, "supp_agg": s})


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "region", "nation")
    q = (
        Select(F("r.r_name"), F("n.n_name"))
        .From(Schema("region", TABLE).As("r"))
        .CrossJoin(Schema("nation", TABLE).As("n"))
    )
    return compile_select(q, sources=src)


def q_multi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "orders", "customer", "nation", "region")
    q = (
        Select(F("r.r_name"), F("n.n_name"), Sum(F("o.o_totalprice")).Alias("revenue"))
        .From(Schema("orders", TABLE).As("o"))
        .Join(Schema("customer", TABLE).As("c"), F("o.o_custkey").Equal(F("c.c_custkey")))
        .Join(Schema("nation", TABLE).As("n"), F("c.c_nationkey").Equal(F("n.n_nationkey")))
        .Join(Schema("region", TABLE).As("r"), F("n.n_regionkey").Equal(F("r.r_regionkey")))
        .GroupBy(F("r.r_name"), F("n.n_name"))
    )
    df = compile_select(q, sources=src)
    return df.withColumn("revenue", Fn.round("revenue", 2))


def q_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "orders", "customer")
    big = (
        Select(F("o_orderkey"), F("o_custkey"))
        .From(Schema("orders", TABLE))
        .Where(F("o_totalprice").Greater(250000))
    )
    q = (
        Select(F("c.c_mktsegment"), Count(F("b.o_orderkey")).Alias("n_big"))
        .With("big_orders", big)
        .From(Schema("big_orders", TABLE).As("b"))
        .Join(Schema("customer", TABLE).As("c"), F("b.o_custkey").Equal(F("c.c_custkey")))
        .GroupBy(F("c.c_mktsegment"))
    )
    return compile_select(q, sources=src)


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "lineitem")
    q = (
        Select(F("l_returnflag"), F("l_linestatus"))
        .From(Schema("lineitem", TABLE))
        .GroupBy(F("l_returnflag"), F("l_linestatus"))
    )
    return compile_select(q, sources=src)


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "customer")
    # closed scalar-function registry exposure (SURVEY.md §2.2): upper/lower/
    # concat/substr/length — plain JVM built-ins through the engine's RawColumn
    q = Select(
        F("c_custkey"),
        RawColumn(Fn.upper(Fn.col("c_name")), "name_upper"),
        RawColumn(Fn.lower(Fn.col("c_mktsegment")), "seg_lower"),
        RawColumn(Fn.substring(Fn.col("c_name"), 1, 8), "name_prefix"),
        RawColumn(Fn.length(Fn.col("c_name")).cast("bigint"), "name_len"),
        RawColumn(Fn.concat(Fn.col("c_mktsegment"), Fn.lit("#"), Fn.col("c_name")), "tagged"),
    ).From(Schema("customer", TABLE))
    return compile_select(q, sources=src)


def q_bool_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IS TRUE / IS FALSE conditionals (reference: conditionals.go IsTrue/IsFalse)
    src = _load(spark, sf_dir, "events")
    q = (
        Select(F("event_id"), RawColumn(Fn.col("value") > 50, "is_big"))
        .From(Schema("events", STREAM))
        .Where(
            RawColumn(Fn.col("value") > 50, "big").IsTrue(),
            RawColumn(Fn.col("event_type") == "click", "clk").IsFalse(),
        )
    )
    return compile_select(q, sources=src)


def q_ddl_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL + DML lifecycle: CREATE STREAM with declared SchemaFields ->
    INSERT VALUES (reference: create_builder.go:132-209,
    insert_builder.go:56-161) -> pull read.  Oracle = the same VALUES."""
    mgr = _engine(spark, "ksql_driver_ddl_")
    mgr.catalog.create(
        Create(STREAM, "tx").SchemaFields(
            SchemaField("id", KType.BIGINT),
            SchemaField("amount", KType.DOUBLE),
            SchemaField("tag", KType.STRING),
        )
    )
    mgr.insert(
        Insert(STREAM, "tx").Rows(
            {"id": 1, "amount": 10.5, "tag": "a"},
            {"id": 2, "amount": 20.25, "tag": "b"},
            {"id": 3, "amount": 30.0, "tag": "a"},
        )
    )
    q = Select(F("id"), F("amount"), F("tag")).From(Schema("tx", STREAM))
    return compile_select(q, spark=spark, catalog=mgr.catalog)


def q_catalog_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL lifecycle in one verifiable query: CREATE two streams, INSERT
    VALUES into one, INSERT ... AS SELECT (filtered) into the other, DROP a
    third, then return LIST + DESCRIBE facts as rows (reference:
    insert_builder.go AS SELECT, list_builder.go:19-41, describe_builder.go,
    drop_builder.go:21-49).  Oracle = the expected catalog state as VALUES."""
    mgr = _engine(spark, "ksql_driver_cat_")
    cat = mgr.catalog
    fields = [
        SchemaField("id", KType.BIGINT),
        SchemaField("amount", KType.DOUBLE),
    ]
    cat.create(Create(STREAM, "src").SchemaFields(*fields))
    cat.create(Create(STREAM, "big").SchemaFields(*fields))
    cat.create(Create(STREAM, "doomed").SchemaFields(SchemaField("x", KType.INT)))
    mgr.insert(
        Insert(STREAM, "src").Rows(
            {"id": 1, "amount": 5.0},
            {"id": 2, "amount": 50.0},
            {"id": 3, "amount": 500.0},
        )
    )
    # INSERT ... AS SELECT with a filter
    mgr.insert(
        Insert(STREAM, "big").AsSelect(
            Select(F("id"), F("amount")).From(Schema("src", STREAM)).Where(F("amount").Greater(10))
        )
    )
    mgr.drop("doomed")

    rows = []
    for rel in cat.list():
        desc = cat.describe(rel.name)
        rows.append(
            (
                rel.name,
                rel.ref.value,
                len(desc["fields"]),
                int(cat.read(rel.name).count()),
            )
        )
    return spark.createDataFrame(rows, "name string, kind string, n_fields int, n_rows int")


def q_select_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # typed-struct projection (reference: SelectStruct, select_builder.go:264-285)
    src = _load(spark, sf_dir, "lineitem")
    q = SelectStruct(
        [
            SchemaField("l_orderkey", KType.BIGINT),
            SchemaField("l_quantity", KType.DOUBLE),
            SchemaField("l_returnflag", KType.STRING),
        ]
    ).From(Schema("lineitem", STREAM))
    return compile_select(q, sources=src)


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    return src["events"].select(
        "event_id",
        Fn.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


# ---------------------------------------------------------------------------
# aggregate-function parity (events table)
# ---------------------------------------------------------------------------


def q_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "lineitem")
    q = (
        Select(F("l_orderkey"), CollectList(F("l_linenumber")).Alias("line_numbers"))
        .From(Schema("lineitem", STREAM))
        .GroupBy(F("l_orderkey"))
        .EmitChanges()
    )
    df = compile_select(q, sources=src)
    # canonicalize the array to (pos, value) rows so the driver can hash it;
    # pos also verifies the engine's stable-order contract
    return df.select("l_orderkey", Fn.posexplode("line_numbers").alias("pos", "line_number")).select(
        "l_orderkey", Fn.col("pos").cast("bigint").alias("pos"), "line_number"
    )


def q_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    q = (
        Select(F("user_id"), CollectSet(F("event_type")).Alias("types"))
        .From(Schema("events", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    return _ranked(compile_select(q, sources=src), "types", "pos", "event_type")


def q_latest_by_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    q = (
        Select(
            F("user_id"),
            LatestByOffset(F("event_type"), order_by=[F("ts"), F("event_id")]).Alias("last_type"),
        )
        .From(Schema("events", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    return compile_select(q, sources=src)


def q_earliest_by_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    q = (
        Select(
            F("user_id"),
            EarliestByOffset(F("event_type"), order_by=[F("ts"), F("event_id")]).Alias(
                "first_type"
            ),
        )
        .From(Schema("events", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    return compile_select(q, sources=src)


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    q = (
        Select(
            F("user_id"),
            TopK(RawColumn(Fn.round(Fn.col("value"), 4)), 3).Alias("top_vals"),
        )
        .From(Schema("events", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    return _ranked(compile_select(q, sources=src), "top_vals", "rank", "top_val")


def q_topk_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    q = (
        Select(F("user_id"), TopKDistinct(F("event_type"), 2).Alias("top_types"))
        .From(Schema("events", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    return _ranked(compile_select(q, sources=src), "top_types", "rank", "top_type")


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    q = (
        Select(F("user_id"), Histogram(F("event_type"), 3).Alias("hist"))
        .From(Schema("events", STREAM))
        .GroupBy(F("user_id"))
        .EmitChanges()
    )
    df = compile_select(q, sources=src)
    # explode the capped value->count map to rows (order-insensitive compare)
    return df.select("user_id", Fn.explode("hist").alias("event_type", "cnt"))


# ---------------------------------------------------------------------------
# windows (batch parity; streaming parity in streaming_tumbling_changelog)
# ---------------------------------------------------------------------------


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    q = (
        Select(F("event_type"), Count(F("event_id")).Alias("cnt"), Sum(F("value")).Alias("sum_val"))
        .From(Schema("events", STREAM))
        .WindowedBy(TumblingWindow(1, TimeUnit.HOURS))
        .GroupBy(F("event_type"))
    )
    df = compile_select(q, sources=src, event_time="ts")
    return df.select(
        _fmt("window_start").alias("window_start"),
        "event_type",
        "cnt",
        Fn.round("sum_val", 4).alias("sum_val"),
    )


def q_window_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    q = (
        Select(F("event_type"), Count(F("event_id")).Alias("cnt"))
        .From(Schema("events", STREAM))
        .WindowedBy(HoppingWindow(60, 30, TimeUnit.MINUTES))
        .GroupBy(F("event_type"))
    )
    df = compile_select(q, sources=src, event_time="ts")
    return df.select(_fmt("window_start").alias("window_start"), "event_type", "cnt")


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "events")
    q = (
        Select(F("user_id"), Count(F("event_id")).Alias("cnt"))
        .From(Schema("events", STREAM))
        .WindowedBy(SessionWindow(30, TimeUnit.MINUTES))
        .GroupBy(F("user_id"))
    )
    return _session_us(compile_select(q, sources=src, event_time="ts"))


# ---------------------------------------------------------------------------
# the real streaming path (flagship)
# ---------------------------------------------------------------------------


def streaming_tumbling_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSAS persistent query over the events stream: tumbling 1h counts by
    event_type through the exactly-once changelog sink; returns the
    materialized QUERYABLE state.  Oracle is plain batch SQL — proving
    streaming == batch row-for-row."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_", "365 days")
    mgr.create_as_select(
        Create(TABLE, "hourly_stats").AsSelect(
            Select(
                F("event_type"),
                Count(F("event_id")).Alias("cnt"),
                Sum(F("value")).Alias("sum_val"),
            )
            .From(Schema("events", STREAM))
            .WindowedBy(TumblingWindow(1, TimeUnit.HOURS))
            .GroupBy(F("event_type"))
            .EmitChanges()
        )
    )
    return mgr.catalog.read("QUERYABLE_hourly_stats").select(
        _fmt("window_start").alias("window_start"),
        "event_type",
        "cnt",
        Fn.round("sum_val", 4).alias("sum_val"),
    )


def streaming_emit_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMIT FINAL CSAS: append-mode windowed aggregate that emits each window
    exactly once, when the watermark closes it (reference semantics:
    ksql/select_builder.go:164-169,649-651).  Oracle = batch recomputation
    restricted to watermark-closed windows (window_end <= max(ts) - grace)."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_final_", "30 minutes")
    pq_ = mgr.create_as_select(
        Create(TABLE, "hourly_finals").AsSelect(
            Select(
                F("event_type"),
                Count(F("event_id")).Alias("cnt"),
                Sum(F("value")).Alias("sum_val"),
            )
            .From(Schema("events", STREAM))
            .WindowedBy(TumblingWindow(1, TimeUnit.HOURS))
            .GroupBy(F("event_type"))
            .EmitFinal()
        )
    )
    return pq_.sink.read_data(spark).select(
        _fmt("window_start").alias("window_start"),
        "event_type",
        "cnt",
        Fn.round("sum_val", 4).alias("sum_val"),
    )


def streaming_hopping_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window CSAS through the changelog — the streaming
    twin of window_hopping; oracle = the batch sliding-window recompute."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_hop_", "365 days")
    mgr.create_as_select(
        Create(TABLE, "hop_stats").AsSelect(
            Select(F("event_type"), Count(F("event_id")).Alias("cnt"))
            .From(Schema("events", STREAM))
            .WindowedBy(HoppingWindow(60, 30, TimeUnit.MINUTES))
            .GroupBy(F("event_type"))
            .EmitChanges()
        )
    )
    return mgr.catalog.read("QUERYABLE_hop_stats").select(
        _fmt("window_start").alias("window_start"), "event_type", "cnt"
    )


def streaming_session_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows under EMIT CHANGES — the applyInPandasWithState custom
    stateful operator (Spark's built-in session_window rejects update mode).
    Upserts + merge tombstones materialize to exactly the batch gap-session
    result; oracle = the DuckDB lag/gap-session recomputation."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_sess_", "365 days")
    mgr.create_as_select(
        Create(TABLE, "session_stats").AsSelect(
            Select(F("user_id"), Count(F("event_id")).Alias("cnt"))
            .From(Schema("events", STREAM))
            .WindowedBy(SessionWindow(30, TimeUnit.MINUTES))
            .GroupBy(F("user_id"))
            .EmitChanges()
        )
    )
    return _session_us(mgr.catalog.read("QUERYABLE_session_stats"))


def streaming_topk_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOPK under EMIT CHANGES through the bounded-state stateful operator
    (streaming/bounded.py): per-group state is the running top-k (O(k), not
    O(history) — the native collect_list fold is the unbounded anti-pattern
    this replaces).  Oracle = the batch top-k recompute."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_topk_", "365 days")
    mgr.create_as_select(
        Create(TABLE, "user_topk").AsSelect(
            Select(
                F("user_id"),
                TopK(RawColumn(Fn.round(Fn.col("value"), 4)), 3).Alias("top_vals"),
            )
            .From(Schema("events", STREAM))
            .GroupBy(F("user_id"))
            .EmitChanges()
        )
    )
    return _ranked(mgr.catalog.read("QUERYABLE_user_topk"), "top_vals", "rank", "top_val")


def streaming_histogram_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM under EMIT CHANGES via the SpaceSaving-bounded stateful
    operator — exact while per-group distinct values fit the sketch capacity
    (they do here: 3 event types), state O(capacity) regardless of group
    size.  Oracle = the batch most-frequent recompute."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_hist_", "365 days")
    mgr.create_as_select(
        Create(TABLE, "user_hist").AsSelect(
            Select(F("user_id"), Histogram(F("event_type"), 3).Alias("hist"))
            .From(Schema("events", STREAM))
            .GroupBy(F("user_id"))
            .EmitChanges()
        )
    )
    state = mgr.catalog.read("QUERYABLE_user_hist")
    return state.select("user_id", Fn.explode("hist").alias("event_type", "cnt"))


def streaming_collect_set_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLECT_SET under EMIT CHANGES via the bounded stateful operator —
    per-group state capped at the ksqlDB collect limit (first-N distinct),
    exact when groups stay under it (they do here).  Oracle = the batch
    distinct-set recompute, arrays canonicalized to (pos, value) rows."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_cset_", "365 days")
    mgr.create_as_select(
        Create(TABLE, "user_types").AsSelect(
            Select(F("user_id"), CollectSet(F("event_type")).Alias("types"))
            .From(Schema("events", STREAM))
            .GroupBy(F("user_id"))
            .EmitChanges()
        )
    )
    return _ranked(mgr.catalog.read("QUERYABLE_user_types"), "types", "pos", "event_type")


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-bounded stream-stream self-join (ksqlDB windowed join,
    SURVEY.md §2.3): same-user event pairs within ±300 s, each emitted
    exactly once through the append changelog.  Oracle = the equivalent
    DuckDB time-range join."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_ssj_", "365 days", "events_l", "events_r")
    pq_ = mgr.create_as_select(
        Create(STREAM, "user_event_pairs").AsSelect(
            Select(
                F("l.event_id").Alias("id_l"),
                F("r.event_id").Alias("id_r"),
                F("l.user_id").Alias("user_id"),
            )
            .From(Schema("events_l", STREAM).As("l"))
            .Join(
                Schema("events_r", STREAM).As("r"),
                F("l.user_id").Equal(F("r.user_id")),
                within_seconds=300,
            )
            .Where(F("l.event_id").Less(F("r.event_id")))
            .EmitChanges()
        )
    )
    return pq_.sink.read_data(spark)


def streaming_stream_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-table join (ksqlDB's bread-and-butter enrichment): events
    stream broadcast-joined to the customer dimension, through a CSAS
    append changelog.  Oracle = the equivalent batch join."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_stj_", "365 days")
    mgr.catalog.register_parquet(
        "customer", os.path.join(sf_dir, "customer.parquet"), ref=TABLE, broadcast=True
    )
    pq_ = mgr.create_as_select(
        Create(STREAM, "enriched").AsSelect(
            Select(
                F("e.event_id").Alias("event_id"),
                F("e.event_type").Alias("event_type"),
                F("c.c_mktsegment").Alias("segment"),
            )
            .From(Schema("events", STREAM).As("e"))
            .Join(Schema("customer", TABLE).As("c"), F("e.user_id").Equal(F("c.c_custkey")))
            .EmitChanges()
        )
    )
    return pq_.sink.read_data(spark)


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a skewed key (event_type has only a
    handful of values — every key is hot).  Oracle = plain GROUP BY; the
    salted decomposition must be algebraically exact."""
    src = _load(spark, sf_dir, "events")
    out = salted_two_phase_agg(
        src["events"],
        keys=["event_type"],
        aggs={
            "cnt": ("count", "event_id"),
            "sum_val": ("sum", "value"),
            "min_val": ("min", "value"),
            "max_val": ("max", "value"),
            "avg_val": ("avg", "value"),
        },
        salt_buckets=16,
        salt_cols=["event_id"],
    )
    return out.select(
        "event_type",
        "cnt",
        Fn.round("sum_val", 4).alias("sum_val"),
        Fn.round("min_val", 6).alias("min_val"),
        Fn.round("max_val", 6).alias("max_val"),
        portable_round(Fn.col("avg_val")).alias("avg_val"),
    )


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join: skewed fact side salted, small side exploded across
    buckets.  Oracle = the plain join + aggregation."""
    src = _load(spark, sf_dir, "orders", "customer")
    joined = salted_join(
        src["orders"].withColumnRenamed("o_custkey", "c_custkey"),
        src["customer"].select("c_custkey", "c_mktsegment"),
        key="c_custkey",
        salt_buckets=8,
        left_salt_cols=["o_orderkey"],
    )
    out = joined.groupBy("c_mktsegment").agg(
        Fn.count(Fn.lit(1)).alias("n_orders"),
        Fn.round(Fn.sum("o_totalprice"), 2).alias("revenue"),
    )
    return out


# ---------------------------------------------------------------------------
# training-data operators
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "documents")
    return src["documents"].select(
        "doc_id",
        token_count_ws(Fn.col("text")).alias("tok_ws"),
        token_count_bpe(Fn.col("text")).alias("tok_bpe"),
        lang_id(Fn.col("text")).alias("lang_pred"),
        # floor(q*1e6+0.5) instead of round(q,6): the raw score is
        # bit-identical across engines, but round() SEMANTICS differ on
        # boundary doubles (Spark rounds the decimal string HALF_UP, DuckDB
        # rounds the binary product) — caught by the sf0.1 oracle run, 3 of
        # 5,000 rows flipped.  The floor form is pure IEEE arithmetic, so
        # both engines compute the identical integer.
        Fn.floor(quality_score(Fn.col("text")) * 1000000.0 + 0.5)
        .cast("bigint")
        .alias("quality_e6"),
        fingerprint(Fn.col("text")).alias("fp"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "documents")
    return exact_dedup(src["documents"])


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_documents(spark, sf_dir), shingle_n=3, threshold=0.7)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _documents(spark, sf_dir), n_hashes=48, bands=16, shingle_n=3, threshold=0.7
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs_blocked(_documents(spark, sf_dir), bits=32, max_hamming=3)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairs -> connected components -> canonical keep/drop: the operator a
    # training-data pipeline actually runs (LSH emits PAIRS; keep decisions
    # need transitive closure).  Oracle: DuckDB recursive-CTE reachability.
    docs = _documents(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n_hashes=48, bands=16, shingle_n=3, threshold=0.7)
    return dedup_clusters(docs, pairs)


def _query_embedding(sf_dir: str, vec_id: int = 0) -> list:
    """The probe vector, read via a pyarrow predicate instead of a Spark
    job (r7: the ``.first()`` spelling cost a full scan job per entry).
    float32 elements widen to Python floats exactly as Spark's Row does."""
    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
        filters=pc.field("vec_id") == vec_id,
    )
    return list(tbl.column("embedding")[0].as_py())


def q_embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "embeddings")
    emb = src["embeddings"]
    query = _query_embedding(sf_dir)
    return cosine_topk(emb.filter(Fn.col("vec_id") != 0), query, k=10)


def _embeddings_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus deterministic near-dup plants: every 10th vector gets
    a perturbed copy (+id offset) whose cosine to the original is ~0.999,
    while natural pairs top out near 0.5 — so a 0.99 threshold isolates the
    plants and the near-dup oracle is non-vacuous.  The perturbation is the
    same arithmetic in Spark and DuckDB (oracles.sql_embeddings_planted_cte),
    so signatures match bit-for-bit."""
    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    base = emb.select(
        "vec_id", Fn.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    planted = emb.filter(Fn.col("vec_id") % 10 == 0).select(
        (Fn.col("vec_id") + 1000000).alias("vec_id"),
        Fn.transform(
            "embedding",
            lambda x, i: x.cast("double") + ((i % 5) - 2).cast("double") * Fn.lit(0.004),
        ).alias("embedding"),
    )
    return base.unionByName(planted)


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scale path: banded hyperplane LSH + exact-cosine verify; oracle is the
    # brute-force recompute — pairs must match exactly (banding recall ~1 at
    # the planted similarity).  Releases the previous entry's persisted
    # frames first, like _documents.
    cleanup_persisted()
    # r=12 bits/band: P[band collision] at the planted similarity (~0.999)
    # is 0.986^12 = 0.84 per band (miss over 6 bands ~ 1.5e-5), while a
    # natural cos~0.5 pair collides with prob ~0.8% per band — the candidate
    # set stays ~4% of n² instead of ~50% at r=6
    return embedding_neardup_pairs_lsh(
        _embeddings_planted(spark, sf_dir), threshold=0.99, bands=6, rows_per_band=12, n_dims=64
    )


def q_embed_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the O(n²) oracle-path operator, same planted corpus, same oracle
    return embedding_neardup_pairs(_embeddings_planted(spark, sf_dir), threshold=0.99)


def q_embed_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate path: bucketed ANN with multi-probe.  The oracle is a full
    # DuckDB mirror of the bucketing math (same md5-derived hyperplanes,
    # same probe set), so the approximate rows themselves hash-compare —
    # any drift in the bucket computation fails the gate.
    src = _load(spark, sf_dir, "embeddings")
    emb = src["embeddings"]
    query = _query_embedding(sf_dir)
    return lsh_topk(emb.filter(Fn.col("vec_id") != 0), query, k=10, n_planes=8)


def q_embed_lsh_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batched ANN: every 20th vector is a query, the rest the corpus; one
    # narrow bucket join answers all queries at once (the form that scales
    # to millions of queries).  Oracle = full DuckDB bucket-mirror.
    src = _load(spark, sf_dir, "embeddings")
    emb = src["embeddings"]
    return lsh_topk_batch(
        emb.filter(Fn.col("vec_id") % 20 != 0),
        emb.filter(Fn.col("vec_id") % 20 == 0),
        k=10,
        n_planes=8,
        n_dims=64,
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mapInPandas plumbing with deterministic stub decode.  The stub features
    # are md5-derived (v * 2^-16, exactly representable in float32), so the
    # DuckDB oracle recomputes them bit-for-bit — the Arrow batch plumbing,
    # schema contract, and feature math all hash-compare.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    media = synthesize_media(spark, n=64, seed=42)
    feats = extract_features(media, decode_stub=True)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        portable_round(Fn.element_at("features", 1).cast("double")).alias("f0"),
    )


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UNION (distinct) engine extension (SURVEY §2.7): nations that have a
    # customer OR a supplier, deduplicated
    src = _load(spark, sf_dir, "customer", "supplier")
    q = (
        Select(F("c_nationkey").Alias("nationkey"))
        .From(Schema("customer", STREAM))
        .Union(
            Select(F("s_nationkey").Alias("nationkey")).From(Schema("supplier", STREAM))
        )
    )
    return compile_select(q, sources=src)


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _load(spark, sf_dir, "orders")
    q = (
        Select(F("o_orderkey"), F("o_orderpriority"))
        .From(Schema("orders", STREAM))
        .Where(F("o_orderpriority").Equal("1-URGENT"))
        .UnionAll(
            Select(F("o_orderkey"), F("o_orderpriority"))
            .From(Schema("orders", STREAM))
            .Where(F("o_orderpriority").Equal("2-HIGH"))
        )
    )
    return compile_select(q, sources=src)


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nations that have BOTH a customer and a supplier
    src = _load(spark, sf_dir, "customer", "supplier")
    q = (
        Select(F("c_nationkey").Alias("nationkey"))
        .From(Schema("customer", STREAM))
        .Intersect(
            Select(F("s_nationkey").Alias("nationkey")).From(Schema("supplier", STREAM))
        )
    )
    return compile_select(q, sources=src)


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordering customers outside the BUILDING segment
    src = _load(spark, sf_dir, "orders", "customer")
    q = (
        Select(F("o_custkey").Alias("custkey"))
        .From(Schema("orders", STREAM))
        .Except(
            Select(F("c_custkey").Alias("custkey"))
            .From(Schema("customer", STREAM))
            .Where(F("c_mktsegment").Equal("BUILDING"))
        )
    )
    return compile_select(q, sources=src)


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reproducible dataset cut: membership depends only on the key's
    # portable hash — same rows on any engine/partitioning (oracle-exact)
    src = _load(spark, sf_dir, "orders")
    return hash_sample(src["orders"], "o_orderkey", rate=0.1).select(
        "o_orderkey", "o_custkey", Fn.round("o_totalprice", 4).alias("o_totalprice")
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-stratum quota by hash order: deterministic reservoir sampling
    src = _load(spark, sf_dir, "events")
    return stratified_sample(
        src["events"], stratum_col="event_type", key_col="event_id", n_per_stratum=50
    ).select("event_id", "user_id", "event_type")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-token chunk windows with overlap — one codegen'd projection, no
    # shuffle; DuckDB twin recomputes identical chunk boundaries
    src = _load(spark, sf_dir, "documents")
    return chunk_documents(src["documents"], chunk_tokens=64, overlap=16)


def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-side exactly-once: every event arrives TWICE (at-least-once
    upstream simulation via explode), dropDuplicatesWithinWatermark keeps
    one copy per event_id with state bounded by the watermark horizon.
    Oracle = the events table itself (each row exactly once)."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_ddw_", "365 days")
    src = _utc_ts(mgr.catalog.read_stream("events"))
    doubled = src.withColumn("__c", Fn.explode(Fn.array(Fn.lit(1), Fn.lit(2)))).drop("__c")
    deduped = exact_dedup_stream(doubled, keys=["event_id"], ts_col="ts", grace="365 days")
    out = deduped.select("event_id", "user_id", "event_type", Fn.round("value", 4).alias("value"))
    return _drain(out, mgr.workdir, state_partitions=None)


def q_cep_match_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern: view -> click -> purchase per user within 1 day,
    AFTER MATCH SKIP TO FIRST (earliest match per key).  Three (1,1) legs
    of the NFA kernel (operators/cep.py -> cep_nfa.match_pattern): one
    shuffle on the user and one kernel pass per partition, which stops at
    each user's first match."""
    src = _load(spark, sf_dir, "events")
    m = match_sequence(
        src["events"],
        [
            ("v", Fn.col("event_type") == "view"),
            ("c", Fn.col("event_type") == "click"),
            ("p", Fn.col("event_type") == "purchase"),
        ],
        within_seconds=86400,
        mode="first",
    )
    return m.select("user_id", "v_id", "c_id", "p_id")


def streaming_cep_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same CEP pattern as a STREAMING job: click -> purchase within 4h,
    one NFA state store per user in append mode through the exactly-once
    sink.  The pattern is monotone, so each match is emitted in the batch
    that completes it, with no sentinel and no trailing no-data batch;
    buffered events are evicted by the time bound.  Oracle = the batch
    join recompute."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_cep_", "365 days")
    src = _utc_ts(mgr.catalog.read_stream("events")).withWatermark("ts", "365 days")
    m = match_sequence(
        src,
        [
            ("click", Fn.col("event_type") == "click"),
            ("purchase", Fn.col("event_type") == "purchase"),
        ],
        within_seconds=14400,
    ).select("user_id", Fn.col("click_id"), Fn.col("purchase_id"))
    return _drain(m, mgr.workdir)


def q_cep_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP negation (Flink MATCH_RECOGNIZE's NOT pattern): click -> purchase
    within 4h with NO 'view' event strictly between them (same key, strict
    (ts, id) order).  The absent leg is a span check the NFA kernel runs on
    each click -> purchase match (operators/cep.py, cep_nfa._span_rows).
    Oracle = the join + NOT EXISTS recompute."""
    src = _load(spark, sf_dir, "events")
    m = match_sequence(
        src["events"],
        [
            ("click", Fn.col("event_type") == "click"),
            ("purchase", Fn.col("event_type") == "purchase"),
        ],
        within_seconds=14400,
        absent=[("blocker", Fn.col("event_type") == "view")],
    )
    return m.select("user_id", "click_id", "purchase_id")


def streaming_cep_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME negation pattern as a streaming job on the NFA: a later
    'view' could still block a match, so each match is emitted only when
    the watermark passes click_ts + 4h, and a finite fixture needs the
    watermark to actually advance.  One far-future sentinel row stands in
    for the stream continuing: the leg filter sits above the watermark
    node, so any event moves it.  Each surviving match is emitted exactly
    once through the idempotent sink; a user's buffered events are evicted
    once the watermark passes them by 4h.  Oracle = the identical batch
    recompute."""
    src, work = _sentinel_events(spark, sf_dir, "ksql_driver_cepneg_")
    m = match_sequence(
        src,
        [
            ("click", Fn.col("event_type") == "click"),
            ("purchase", Fn.col("event_type") == "purchase"),
        ],
        within_seconds=14400,
        absent=[("blocker", Fn.col("event_type") == "view")],
    ).select("user_id", Fn.col("click_id"), Fn.col("purchase_id"))
    return _drain(m, work)


def q_cep_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP optional leg (MATCH_RECOGNIZE's X?): click -> purchase within 4h,
    with any 'view' strictly between them captured as view_id/view_ts (NULL
    when none) — relational all-combinations semantics, one row per
    (match, optional event).  The optional leg is a span check the NFA
    kernel runs on each click -> purchase match (operators/cep.py,
    cep_nfa._span_rows); streaming parity is pytest-covered
    (tests/test_cep.py).  Oracle = the equivalent LEFT JOIN."""
    src = _load(spark, sf_dir, "events")
    m = match_sequence(
        src["events"],
        [
            ("click", Fn.col("event_type") == "click"),
            ("purchase", Fn.col("event_type") == "purchase"),
        ],
        within_seconds=14400,
        optional=[("view", Fn.col("event_type") == "view")],
    )
    return m.select("user_id", "click_id", "purchase_id", "view_id")


def _quantifier_legs():
    return [
        ("a", Fn.col("event_type") == "view", 2, 3),
        ("b", Fn.col("event_type") == "purchase", 1, 1),
    ]


def q_cep_quantifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP variable quantifier (VERDICT r4 #3): view{2,3} then purchase per
    user within 24h — 2..3 CONSECUTIVE views (consecutive in the per-user
    (ts, id) order of view events) whose run and terminal purchase all land
    within 24h of the run's first view.  Batch lowering: one hash shuffle
    of the view/purchase events on the user, a sort within each partition,
    and one mapInPandas pass running the shared NFA kernel per user
    (operators/cep_nfa.py match_pattern) — no join, no cartesian.  Oracle =
    the row_number self-join."""
    src = _load(spark, sf_dir, "events")
    return match_pattern(
        src["events"], _quantifier_legs(), within_seconds=86400
    ).select(
        "user_id",
        "a_first_id",
        "a_last_id",
        Fn.col("a_count").cast("long").alias("a_count"),
        "b_id",
    )


def streaming_cep_quantifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME quantified pattern as a STREAMING job — ONE
    applyInPandasWithState NFA state store per key, whatever the
    quantifier bounds (VERDICT r4 #3).  Matches are emitted exactly once
    when the watermark closes their anchor's 24h window; the per-key state
    is the bounded event buffer of the active horizon plus a flush cursor
    (kill/resume covered in tests/test_cep_nfa.py).  A far-future sentinel
    row advances the watermark past every anchor's close, standing in for
    the stream continuing.  Oracle = the identical batch recompute."""
    src, work = _sentinel_events(spark, sf_dir, "ksql_driver_cepq_")
    m = match_pattern(src, _quantifier_legs(), within_seconds=86400).filter(
        Fn.col("user_id") >= 0
    )
    return _drain(m, work).select("user_id", "a_first_id", "a_last_id", "a_count", "b_id")


def streaming_cep_repeat4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``repeat()`` at n=4 (VERDICT r4 #8): view view view view purchase per
    user within 2 days — five (1,1) legs of ONE NFA state store, the
    fixed-n relaxed-contiguity (all ordered 4-subsets) semantics ``repeat``
    documents, next to the consecutive-run quantifier twin
    (streaming_cep_quantifier).  Monotone, so each match is emitted in the
    batch that completes it.  Oracle = the 5-way ordered self-join."""
    src, work = _sentinel_events(spark, sf_dir, "ksql_driver_cepr4_")
    m = match_sequence(
        src,
        [*repeat("a", Fn.col("event_type") == "view", 4),
         ("b", Fn.col("event_type") == "purchase")],
        within_seconds=172800,
    ).select("user_id", "a1_id", "a2_id", "a3_id", "a4_id", "b_id")
    return _drain(m, work)


_PATTERN_COLS = ["user_id", "v_first_id", "v_last_id", "v_count", "c_id", "p_id"]


def _nfa_stream(spark, sf_dir, prefix, legs, mode, cols=_PATTERN_COLS) -> DataFrame:
    """A view/click/purchase pattern on the sentinel-staged events stream
    through the streaming NFA (within 24h), sentinel keys dropped."""
    src, work = _sentinel_events(spark, sf_dir, prefix)
    m = match_pattern(src, legs, within_seconds=86400, mode=mode).filter(
        Fn.col("user_id") >= 0
    )
    return _drain(m, work).select(*cols)


def _pattern_legs():
    return [
        ("v", Fn.col("event_type") == "view", 1, 2),
        ("c", Fn.col("event_type") == "click", 1, 1),
        ("p", Fn.col("event_type") == "purchase", 1, 1),
    ]


def q_cep_pattern_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-leg quantified CEP pattern: view{1,2} click purchase per user
    within 24h — every leg is a consecutive run of its own predicate
    subsequence, legs strictly ordered by (ts, id), everything within 24h
    of the first view.  Batch lowering (operators/cep_nfa.py
    match_pattern): one hash shuffle on the user, a sort within each
    partition, and the shared NFA kernel once per user inside one
    mapInPandas call per partition.  Oracle = the row_number self-join
    chain."""
    src = _load(spark, sf_dir, "events")
    return match_pattern(src["events"], _pattern_legs(), within_seconds=86400).select(
        "user_id", "v_first_id", "v_last_id", "v_count", "c_id", "p_id"
    )


def streaming_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME 3-leg pattern on a stream — ONE applyInPandasWithState
    store for the whole pattern (per-key state: per-leg event buffers of
    the active 24h horizon + a flush cursor).  Exactly-once flush at
    anchor close; a sentinel row advances the watermark.  Oracle = the
    batch twin."""
    return _nfa_stream(spark, sf_dir, "ksql_driver_ceppat_", _pattern_legs(), "all")


def _pattern_negation_legs():
    return [
        ("v", Fn.col("event_type") == "view", 1, 2),
        ("nc", Fn.col("event_type") == "click", 0, 0),
        ("p", Fn.col("event_type") == "purchase", 1, 1),
    ]


def q_cep_pattern_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATION inside the NFA pattern algebra (VERDICT r5 #3):
    view{1,2} [NOT click] purchase per user within 24h — a consecutive
    view-run, then a purchase strictly after it, with NO click event
    strictly between the run's last view and the purchase (the guarded
    gap, (ts, id) order).  Batch lowering (operators/cep_nfa.py
    match_pattern): the same per-partition kernel pass as
    cep_pattern_multi; the kernel checks the guarded gap against the
    buffered click events.  Oracle = the row_number chain with a DuckDB
    NOT EXISTS."""
    src = _load(spark, sf_dir, "events")
    return match_pattern(
        src["events"], _pattern_negation_legs(), within_seconds=86400
    ).select("user_id", "v_first_id", "v_last_id", "v_count", "p_id")


def streaming_cep_pattern_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME quantifier+negation pattern on a stream (VERDICT r5
    What's-missing #3).  Still ONE applyInPandasWithState store: negated
    events are buffered in the same per-key time-horizon state as positive
    legs and checked against the guarded gap by the kernel at anchor-close
    flush.  Exactly-once via the flush cursor; a sentinel row advances the
    watermark.  Oracle = the batch NOT-EXISTS twin."""
    return _nfa_stream(
        spark, sf_dir, "ksql_driver_cepneg_", _pattern_negation_legs(), "all",
        ["user_id", "v_first_id", "v_last_id", "v_count", "p_id"],
    )


def q_cep_pattern_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL leg inside the NFA pattern algebra: view [click?] purchase
    per user within 24h, all-combinations semantics — every (view,
    purchase) pair emits its empty-branch row (NULL click columns, count
    0) AND one row per click strictly between them.  Batch lowering: the
    per-partition kernel pass of cep_pattern_multi; the kernel explores
    the empty branch before each click run (operators/cep_nfa.py
    match_pattern).  Oracle = base-pair SELECT with NULL literals UNION
    ALL the 3-way ordered join."""
    src = _load(spark, sf_dir, "events")
    legs = [
        ("v", Fn.col("event_type") == "view", 1, 1),
        ("oc", Fn.col("event_type") == "click", 0, 1),
        ("p", Fn.col("event_type") == "purchase", 1, 1),
    ]
    return match_pattern(src["events"], legs, within_seconds=3600).select(
        "user_id", "v_id", "oc_first_id", "oc_last_id", "oc_count", "p_id"
    )


def q_cep_pattern_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFTER MATCH ``first`` (round-6 follow-on): the view{1,2} click
    purchase pattern of cep_pattern_multi, but emitting ONE row per user —
    the first match in the NFA kernel's canonical enumeration order
    (anchor ascending, then per-leg (first_ts, first_id, last_ts, last_id)
    ascending; run-length ties break short-run-first).  Batch lowering:
    the per-partition kernel pass of cep_pattern_multi, with the kernel
    aborting each user's enumeration at its first match
    (operators/cep_nfa.py match_pattern mode='first').  Oracle = the
    all-matches chain wrapped in a per-user row_number over the order
    tuples."""
    src = _load(spark, sf_dir, "events")
    return match_pattern(
        src["events"], _pattern_legs(), within_seconds=86400, mode="first"
    ).select("user_id", "v_first_id", "v_last_id", "v_count", "c_id", "p_id")


def streaming_cep_pattern_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME first-match contract on a STREAM — the alert-style mode.
    Still ONE applyInPandasWithState store: the kernel enumerates
    in canonical order and aborts at the first match; the key's state then
    collapses to an O(1) done tombstone, so a matched key buffers nothing
    and re-emits nothing for the rest of the stream.  Matches emit at
    anchor close (determinism under late data), exactly-once via the flush
    cursor.  Oracle = the batch row_number twin."""
    return _nfa_stream(spark, sf_dir, "ksql_driver_cepfirst_", _pattern_legs(), "first")


def q_cep_pattern_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFTER MATCH SKIP PAST LAST ROW (round-6 follow-on): the view{1,2}
    click purchase pattern, greedy NON-OVERLAPPING selection — take the
    canonical-order first match, then the next match starting strictly
    after its last consumed element (the purchase), and so on.  Greedy
    selection is inherently sequential per key; the batch lowering runs
    the shared NFA kernel once per user inside one mapInPandas call per
    partition, over the same narrow (ts, id, leg-mask) projection the
    streaming NFA shuffles (operators/cep_nfa.py match_pattern
    mode='skip_past_last').  Oracle = a DuckDB RECURSIVE CTE doing the
    identical greedy walk with a LATERAL next-match probe."""
    src = _load(spark, sf_dir, "events")
    return match_pattern(
        src["events"], _pattern_legs(), within_seconds=86400,
        mode="skip_past_last",
    ).select("user_id", "v_first_id", "v_last_id", "v_count", "c_id", "p_id")


def streaming_cep_pattern_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME non-overlapping contract on a STREAM — Flink's AFTER MATCH
    SKIP PAST LAST ROW, the production alerting default.  ONE
    applyInPandasWithState store whose per-key state is *smaller* than
    all-matches mode: after each selection the frontier advances past the
    match's last consumed element, buffered events at or before it are
    evicted immediately, and late arrivals behind it are dropped on
    ingest.  Selections happen at anchor close in canonical order,
    exactly-once via the persisted (cursor, frontier) pair.  Oracle = the
    batch recursive-greedy twin."""
    return _nfa_stream(spark, sf_dir, "ksql_driver_cepskip_", _pattern_legs(), "skip_past_last")


def q_cep_pattern_skip_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFTER MATCH SKIP TO NEXT ROW (round-6 follow-on): the view{1,2}
    click purchase pattern, ONE match per ANCHOR — the canonically-first
    match of each leg-0 starting event; matches may overlap but no two
    share a starting row (Flink's SKIP TO NEXT ROW, the middle ground
    between all-matches and the non-overlapping skip-past-last).  Batch
    lowering: the per-partition kernel pass of cep_pattern_multi, with the
    kernel aborting each anchor's enumeration at its first match
    (operators/cep_nfa.py match_pattern mode='skip_to_next').  Oracle =
    the mode='first' chain with the row_number partitioned by (user_id,
    anchor ts, anchor id)."""
    src = _load(spark, sf_dir, "events")
    return match_pattern(
        src["events"], _pattern_legs(), within_seconds=86400,
        mode="skip_to_next",
    ).select("user_id", "v_first_id", "v_last_id", "v_count", "c_id", "p_id")


def streaming_cep_pattern_skip_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME one-match-per-anchor contract on a STREAM.  Buffering,
    eviction and the flush-cursor contract are identical to all-matches
    mode (later anchors may reuse a previous match's events, so nothing
    extra can be evicted); only the enumeration changes — each anchor
    aborts at its first match, so kernel work and output are linear in
    the leg-0 event count and no work cap applies.  ONE
    applyInPandasWithState store; exactly-once via the flush cursor; a
    lineage-marker state field makes a mode flip across a checkpoint
    resume a named error.  Oracle = the batch per-anchor row_number
    twin."""
    return _nfa_stream(
        spark, sf_dir, "ksql_driver_cepskipnext_", _pattern_legs(), "skip_to_next"
    )


def streaming_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed STREAM-STREAM join (VERDICT r4 #4): 70% of click/purchase
    traffic collapses onto one hot key (user_id%10<7 -> key 0 — a
    deterministic Zipf-ish head), then clicks join purchases on that key
    within 15 min.  The plain streaming join would pin the hot key's state
    and probes on one state-store partition; salted_stream_stream_join
    spreads it over (key, salt) buckets — probe side salted by event_id
    hash (replay-stable), build side exploded across the 8 salt buckets,
    the WITHIN bound keeping both sides watermark-evictable.  Result is
    row-identical to the unsalted join; oracle = the batch SQL join."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = _scratch_dir("ksql_driver_skewjoin_")
    skew_key = Fn.when(Fn.col("user_id") % 10 < 7, Fn.lit(0)).otherwise(
        Fn.col("user_id")
    )
    # subsample 1-in-3: a streaming symmetric hash join scans every stored
    # same-key row per input row, so the hot key's work is QUADRATIC in its
    # population — that is the cost salting spreads (it cannot shrink it).
    # The subsample keeps the 70% skew ratio while keeping the bench row
    # proportionate to the rest of the suite at sf0.1.  Staged with a
    # pyarrow predicate instead of a Spark read+filter+rewrite job (r7) —
    # identical rows under the source's own schema.
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    mask = (tbl.column("event_id").to_numpy() % 3) == 0
    ev = os.path.join(work, "ev")
    os.makedirs(ev, exist_ok=True)
    pq.write_table(tbl.filter(pa.array(mask)), os.path.join(ev, "part-0.parquet"))
    schema = spark.read.parquet(ev).schema

    def leg(event_type: str, key: str, id_out: str, ts_out: str):
        return (
            _utc_ts(spark.readStream.schema(schema).parquet(ev))
            .filter(Fn.col("event_type") == event_type)
            .select(
                skew_key.alias(key), Fn.col("event_id").alias(id_out), Fn.col("ts").alias(ts_out)
            )
            .withWatermark(ts_out, "365 days")
        )

    left = leg("click", "k", "l_id", "l_ts")
    right = leg("purchase", "__rk0", "r_id", "r_ts").withColumnRenamed("__rk0", "k")
    joined = salted_stream_stream_join(
        left, right, key="k", left_ts="l_ts", right_ts="r_ts",
        within_seconds=900, salt_buckets=8, left_salt_cols=["l_id"],
    ).select("k", "l_id", "r_id")
    return _drain(joined, work)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (VERDICT r3 #6): 90% of documents are
    pre-indexed (minhash_index — the maintained signature relation); the
    10% increment dedups via a delta-vs-index bucket join + delta self-join,
    re-shingling only candidate docs.  Output = every verified pair touching
    the increment — bit-equal to the same subset of a full recompute, at
    cost proportional to the delta.  Oracle = brute-force exact-Jaccard
    restricted to pairs with >=1 new doc (same semantic oracle as
    dedup_minhash_lsh)."""
    docs = _documents(spark, sf_dir)
    old = docs.filter(Fn.col("doc_id") % 10 != 0)
    new = docs.filter(Fn.col("doc_id") % 10 == 0)
    idx = minhash_index(old, n_hashes=32, bands=16, shingle_n=3)
    return minhash_lsh_pairs_incremental(
        new, idx, old, n_hashes=32, bands=16, shingle_n=3, threshold=0.7
    )


def q_embed_lsh_ann_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN SERVING path (VERDICT r3 #7): the corpus is bucketed ONCE
    (add_lsh_buckets) and written partitioned by lsh_bucket; the query's
    probe set becomes a literal IN filter on the partition column, so the
    scan reads only the probed buckets' files (PartitionFilters — asserted
    in tests/test_similarity.py and BENCH/PLANS.md) instead of re-projecting
    every vector per query.  Oracle = the same full bucket-mirror as
    embed_lsh_ann (identical result by construction)."""
    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    query = _query_embedding(sf_dir)
    work = _scratch_dir("ksql_driver_annsrv_")
    corpus_path = os.path.join(work, "corpus")
    bucketed = add_lsh_buckets(emb.filter(Fn.col("vec_id") != 0), n_planes=8, n_dims=64)
    # cluster writers by bucket first: 8 write tasks each owning whole
    # buckets, instead of every input partition emitting a file into every
    # bucket directory (the small-files explosion)
    bucketed.repartition(8, Fn.col("lsh_bucket")).write.partitionBy(
        "lsh_bucket"
    ).mode("overwrite").parquet(corpus_path)
    served = spark.read.parquet(corpus_path)
    return lsh_topk(served, query, k=10, n_planes=8, bucket_col="lsh_bucket")


def streaming_topk_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING on the bounded streaming path (VERDICT r3 #4): TOPK under EMIT
    CHANGES still runs through the O(k)-state stateful operator, with the
    HAVING condition applied as a post-filter on the upsert changelog (the
    predicate — top values >= [300] lexicographically — is monotone in the
    growing aggregate, so a group flips false->true at most once and the
    materialized state equals the batch recompute).  Before this, HAVING
    silently fell back to the unbounded native fold.  Oracle = batch top-k
    filtered by the same array comparison."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_topkhav_", "365 days")
    agg = TopK(RawColumn(Fn.round(Fn.col("value"), 4)), 3).Alias("top_vals")
    mgr.create_as_select(
        Create(TABLE, "user_topk_hav").AsSelect(
            Select(F("user_id"), agg)
            .From(Schema("events", STREAM))
            .GroupBy(F("user_id"))
            .Having(Conditional(agg, ">=", [300.0]))
            .EmitChanges()
        )
    )
    return _ranked(mgr.catalog.read("QUERYABLE_user_topk_hav"), "top_vals", "rank", "top_val")


def streaming_multi_agg_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed scalar + collection aggregates in ONE bounded stateful operator
    (round-4 extension): COUNT / SUM / MAX ride along as O(1) state slots
    next to the O(k) TOPK, so the mixed query no longer falls back to the
    native fold whose collect state grows with group history.  Oracle = the
    batch recompute (group stats joined to the unnested top-k)."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_multi_", "365 days")
    rv = RawColumn(Fn.round(Fn.col("value"), 4))
    mgr.create_as_select(
        Create(TABLE, "user_mix").AsSelect(
            Select(
                F("user_id"),
                Count(F("event_id")).Alias("cnt"),
                Sum(rv).Alias("sum_val"),
                Max(rv).Alias("max_val"),
                TopK(rv, 3).Alias("top_vals"),
            )
            .From(Schema("events", STREAM))
            .GroupBy(F("user_id"))
            .EmitChanges()
        )
    )
    state = mgr.catalog.read("QUERYABLE_user_mix")
    return _ranked(
        state.withColumn("sum_val", Fn.round("sum_val", 4)),
        "top_vals", "rank", "top_val", "cnt", "sum_val", "max_val",
    )


def streaming_session_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows under EMIT FINAL — the NATIVE append-mode
    session_window aggregation (Spark supports it; only update mode needs
    the custom stateful operator used by streaming_session_changelog).
    Each session is emitted exactly once when the watermark closes it.
    Oracle = the batch gap-session recompute restricted to watermark-closed
    sessions (session_end <= max(ts) - grace)."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_sessfin_", "30 minutes")
    pq_ = mgr.create_as_select(
        Create(TABLE, "session_finals").AsSelect(
            Select(F("user_id"), Count(F("event_id")).Alias("cnt"))
            .From(Schema("events", STREAM))
            .WindowedBy(SessionWindow(30, TimeUnit.MINUTES))
            .GroupBy(F("user_id"))
            .EmitFinal()
        )
    )
    return _session_us(pq_.sink.read_data(spark))


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the REAL codec path: genuinely encoded PNG / WAV / RVID payloads are
    # decoded by the pure-stdlib codecs and featurized from exact integer
    # statistics; the oracle recomputes those statistics from the generative
    # byte formula WITHOUT a codec — a decoding bug cannot pass.
    media = synthesize_media_real(spark, n=64, seed=42)
    feats = extract_features(media, decode_stub=False)
    return feats.select(
        "media_id",
        "kind",
        *[
            portable_round(Fn.element_at("features", i + 1)).alias(f"f{i}")
            for i in range(4)
        ],
    )


def q_migrations_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migrations §2.11 through the driver gate: create two versioned
    migrations, AutoMigrate up (both applied), down (last reverted), up
    again (only the reverted one reapplied — seeker skip semantics), and
    return the step->versions trace.  Oracle = the expected trace VALUES."""
    work = _scratch_dir("ksql_driver_mig_")
    mdir = os.path.join(work, "migrations")
    os.makedirs(mdir)
    p1 = create_migration(mdir, "make_v1", version=1)
    p2 = create_migration(mdir, "make_v2", version=2)
    for p, n in ((p1, "mig_v1"), (p2, "mig_v2")):
        with open(p, "w") as fh:
            fh.write(
                f"-- +seeker Up\nCREATE OR REPLACE TEMPORARY VIEW {n} AS SELECT 1 AS x;\n"
                f"-- +seeker Down\nDROP VIEW {n};\n"
            )
    mig = Migrator(spark, mdir, os.path.join(work, "history"))
    rows = [
        ("up_initial", ",".join(mig.up())),
        ("down", mig.down() or ""),
        ("up_again", ",".join(mig.up())),
        ("final_applied", ",".join(mig.applied_versions())),
    ]
    return spark.createDataFrame(rows, "step string, versions string")


def q_analyzer_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's semantic rule sets as data: each row is one
    (rule, raises) probe of the builder analyzers — the 6 select rules
    (select_builder.go:127-187), the derived-alias rule
    (select_builder.go:768-794) and the create rules
    (create_builder.go:45-73).  Oracle = the expected truth table as VALUES,
    so a silently-dropped validation flips the row and fails the gate."""
    def probe(fn) -> bool:
        try:
            fn()
            return False
        except AnalysisError:
            return True

    cases = [
        ("select_requires_from", lambda: Select(F("a")).validate()),
        ("select_requires_fields", lambda: Select().From(Schema("s", STREAM)).validate()),
        (
            "emit_final_requires_window",
            lambda: Select(F("a"), Count(F("a")).Alias("c"))
            .From(Schema("s", STREAM))
            .GroupBy(F("a"))
            .EmitFinal()
            .validate(),
        ),
        (
            "groupby_stream_requires_window",
            lambda: Select(F("a"), Count(F("a")).Alias("c"))
            .From(Schema("s", STREAM))
            .GroupBy(F("a"))
            .validate(),
        ),
        (
            "groupby_stream_emit_changes_ok",
            lambda: Select(F("a"), Count(F("a")).Alias("c"))
            .From(Schema("s", STREAM))
            .GroupBy(F("a"))
            .EmitChanges()
            .validate(),
        ),
        (
            "having_requires_groupby",
            lambda: Select(F("a"))
            .From(Schema("s", STREAM))
            .Having(Count(F("a")).Greater(1))
            .validate(),
        ),
        (
            "agg_only_stream_requires_groupby",
            lambda: Select(Sum(F("v")).Alias("s"))
            .From(Schema("s", STREAM))
            .EmitChanges()
            .validate(),
        ),
        (
            "window_on_table_rejected",
            lambda: Select(F("a"), Count(F("a")).Alias("c"))
            .From(Schema("t", TABLE))
            .WindowedBy(TumblingWindow(1, TimeUnit.HOURS))
            .GroupBy(F("a"))
            .validate(),
        ),
        (
            "mixed_agg_plain_requires_groupby",
            lambda: Select(F("a"), Count(F("b")).Alias("c"))
            .From(Schema("t", TABLE))
            .validate(),
        ),
        (
            "derived_field_requires_alias",
            lambda: Select(F("a"), Count(F("b")))
            .From(Schema("t", TABLE))
            .GroupBy(F("a"))
            .validate(),
        ),
        (
            "windowed_stream_groupby_ok",
            lambda: Select(F("a"), Count(F("a")).Alias("c"))
            .From(Schema("s", STREAM))
            .WindowedBy(TumblingWindow(1, TimeUnit.HOURS))
            .GroupBy(F("a"))
            .validate(),
        ),
        (
            "create_fields_and_select_rejected",
            lambda: Create(STREAM, "x")
            .SchemaFields(SchemaField("a", KType.BIGINT))
            .AsSelect(Select(F("a")).From(Schema("s", STREAM)))
            .validate(),
        ),
        ("create_requires_fields_or_select", lambda: Create(STREAM, "x").validate()),
        (
            "create_table_requires_primary_key",
            lambda: Create(TABLE, "x").SchemaFields(SchemaField("a", KType.BIGINT)).validate(),
        ),
        (
            "create_table_pk_ok",
            lambda: Create(TABLE, "x")
            .SchemaFields(SchemaField("a", KType.BIGINT, is_primary=True))
            .validate(),
        ),
        (
            "create_stream_from_table_rejected",
            lambda: Create(STREAM, "x")
            .AsSelect(Select(F("a")).From(Schema("t", TABLE)))
            .validate(),
        ),
        (
            "create_table_from_stream_requires_agg",
            lambda: Create(TABLE, "x")
            .AsSelect(Select(F("a")).From(Schema("s", STREAM)))
            .validate(),
        ),
        ("create_topic_rejected", lambda: Create(TOPIC, "x")),
    ]
    rows = [(name, probe(fn)) for name, fn in cases]
    return spark.createDataFrame(rows, "rule string, raises boolean")


ANALYZER_RULE_EXPECTATIONS = [
    ("select_requires_from", True),
    ("select_requires_fields", True),
    ("emit_final_requires_window", True),
    ("groupby_stream_requires_window", True),
    ("groupby_stream_emit_changes_ok", False),
    ("having_requires_groupby", True),
    ("agg_only_stream_requires_groupby", True),
    ("window_on_table_rejected", True),
    ("mixed_agg_plain_requires_groupby", True),
    ("derived_field_requires_alias", True),
    ("windowed_stream_groupby_ok", False),
    ("create_fields_and_select_rejected", True),
    ("create_requires_fields_or_select", True),
    ("create_table_requires_primary_key", True),
    ("create_table_pk_ok", False),
    ("create_stream_from_table_rejected", True),
    ("create_table_from_stream_requires_agg", True),
    ("create_topic_rejected", True),
]


def q_select_once_pull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SelectOnce — the pull-query client API (reference: SelectOnce,
    streams/specification.go:588-620): one-shot read of current data through
    the engine, returned as rows.  Oracle = the same filter in SQL."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_pull_", DEFAULT_GRACE)
    sb = (
        Select(F("event_id"), F("user_id"), F("event_type"))
        .From(Schema("events", STREAM))
        .Where(F("value").Greater(90))
    )
    rows = mgr.select_once(sb)  # the client-facing list[Row] surface
    return spark.createDataFrame(rows, "event_id bigint, user_id bigint, event_type string")


def q_select_with_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SelectWithEmit — the push-query client API (reference: SelectWithEmit,
    streams/specification.go:626-655): a real streaming query drained to
    completion, yielding the committed changelog rows.  One availableNow
    batch -> the changelog carries each key's final upsert; oracle = the
    batch aggregate."""
    mgr = _events_engine(spark, sf_dir, "ksql_driver_emit_", "365 days")
    sb = (
        Select(F("event_type"), Count(F("event_id")).Alias("cnt"))
        .From(Schema("events", STREAM))
        .GroupBy(F("event_type"))
        .EmitChanges()
    )
    rows = [(r["event_type"], r["cnt"]) for r in mgr.select_with_emit(sb)]
    return spark.createDataFrame(rows, "event_type string, cnt bigint")


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the real streaming engine at sf0.001."""
    return streaming_tumbling_changelog(spark, DEFAULT_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver's correctness gate runs the FIRST 50
    # entries of this dict.  Round-6 rotation (VERDICT r5 next-step #2): the
    # 32 entries that only have r04 driver rows lead, starting with the ones
    # whose code changed in round 5 (bounded-HAVING rewrite, session store
    # defaults, dedup broadcast gate, CEP event-time tag stripping).  The 9
    # new round-6 entries (NFA negation/optional + AFTER MATCH first /
    # skip-past-last / skip-to-next modes) follow, then the r5-green
    # entries whose operator modules changed THIS round (cep_nfa.py grew
    # negation/optional; skew.py gained the salt-cols requirement), then
    # compile.py-dependent backfill (compile gained the hidden-slot copy
    # fix).  Entries beyond 50 all have a green CORRECTNESS_r05 row; the
    # full registry is re-verified locally every round with per-entry
    # source-version hashes (tools/check_correctness.py transcript in
    # BENCH/CORRECTNESS_LOCAL_r06.md + BENCH/ENTRY_VERSIONS.json).
    return {
        # -- r4-only driver rows, r5 code changes first ---------------------
        "streaming_topk_having": streaming_topk_having,
        "streaming_session_final": streaming_session_final,
        "streaming_multi_agg_changelog": streaming_multi_agg_changelog,
        "dedup_incremental": q_dedup_incremental,
        "cep_match_sequence": q_cep_match_sequence,
        "streaming_cep_sequence": streaming_cep_sequence,
        "cep_negation": q_cep_negation,
        "streaming_cep_negation": streaming_cep_negation,
        "cep_optional": q_cep_optional,
        "union": q_union,
        "union_all": q_union_all,
        "intersect": q_intersect,
        "except": q_except,
        "analyzer_rules": q_analyzer_rules,
        "migrations_lifecycle": q_migrations_lifecycle,
        # -- r4-only driver rows, code unchanged in r5 ----------------------
        "catalog_lifecycle": q_catalog_lifecycle,
        "select_struct": q_select_struct,
        "collect_list": q_collect_list,
        "collect_set": q_collect_set,
        "latest_by_offset": q_latest_by_offset,
        "earliest_by_offset": q_earliest_by_offset,
        "select_once_pull": q_select_once_pull,
        "select_with_emit": q_select_with_emit,
        "sample_hash": q_sample_hash,
        "sample_stratified": q_sample_stratified,
        "chunk_documents": q_chunk_documents,
        "multimodal_features": q_multimodal_features,
        "multimodal_decode": q_multimodal_decode,
        "embed_lsh_ann": q_embed_lsh_ann,
        "embed_lsh_ann_batch": q_embed_lsh_ann_batch,
        "embed_lsh_ann_served": q_embed_lsh_ann_served,
        "streaming_dedup_ingest": streaming_dedup_ingest,
        # -- new in round 6: NFA negation + optional legs + first mode ------
        "cep_pattern_negation": q_cep_pattern_negation,
        "streaming_cep_pattern_negation": streaming_cep_pattern_negation,
        "cep_pattern_optional": q_cep_pattern_optional,
        "cep_pattern_first": q_cep_pattern_first,
        "streaming_cep_pattern_first": streaming_cep_pattern_first,
        "cep_pattern_skip": q_cep_pattern_skip,
        "streaming_cep_pattern_skip": streaming_cep_pattern_skip,
        "cep_pattern_skip_next": q_cep_pattern_skip_next,
        "streaming_cep_pattern_skip_next": streaming_cep_pattern_skip_next,
        # -- r5-green, but cep_nfa.py / skew.py changed this round ----------
        "cep_quantifier": q_cep_quantifier,
        "streaming_cep_quantifier": streaming_cep_quantifier,
        "cep_pattern_multi": q_cep_pattern_multi,
        "streaming_cep_pattern": streaming_cep_pattern,
        "streaming_skew_salted_join": streaming_skew_salted_join,
        "skew_salted_agg": q_skew_salted_agg,
        "skew_salted_join": q_skew_salted_join,
        # -- compile.py-dependent backfill (hidden-slot copy fix) -----------
        "having": q_having,
        "groupby_agg": q_groupby_agg,
        "filter_project": q_filter_project,
        "case_when": q_case_when,
        # ------------------------- 50-entry line ---------------------------
        "orderby_limit": q_orderby_limit,
        "join_inner": q_join_inner,
        "cte": q_cte,
        "ddl_insert_roundtrip": q_ddl_insert_roundtrip,
        "streaming_cep_repeat4": streaming_cep_repeat4,
        "filter_in_null": q_filter_in_null,
        "join_left": q_join_left,
        "join_right": q_join_right,
        "join_full_outer": q_join_full_outer,
        "cross_join": q_cross_join,
        "multi_join_revenue": q_multi_join_revenue,
        "distinct": q_distinct,
        "scalar_funcs": q_scalar_funcs,
        "json_extract": q_json_extract,
        "bool_ops": q_bool_ops,
        "text_stats": q_text_stats,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "embed_cosine_topk": q_embed_cosine_topk,
        "embed_neardup": q_embed_neardup,
        "embed_neardup_exact": q_embed_neardup_exact,
        "topk": q_topk,
        "topk_distinct": q_topk_distinct,
        "histogram": q_histogram,
        "window_tumbling": q_window_tumbling,
        "window_hopping": q_window_hopping,
        "window_session": q_window_session,
        "streaming_tumbling_changelog": streaming_tumbling_changelog,
        "streaming_emit_final": streaming_emit_final,
        "streaming_hopping_changelog": streaming_hopping_changelog,
        "streaming_session_changelog": streaming_session_changelog,
        "streaming_stream_stream_join": streaming_stream_stream_join,
        "streaming_stream_table_join": streaming_stream_table_join,
        "streaming_topk_changelog": streaming_topk_changelog,
        "streaming_histogram_changelog": streaming_histogram_changelog,
        "streaming_collect_set_changelog": streaming_collect_set_changelog,
    }


def oracle_sql() -> dict[str, str]:
    from ksql_spark.functions.text import (
        SQL_TOKEN_BPE,
        SQL_TOKEN_WS,
        sql_fingerprint,
        sql_lang_id,
        sql_quality_score,
    )
    from ksql_spark.operators.chunking import sql_chunk_documents
    from ksql_spark.operators.sampling import sql_hash_sample, sql_stratified_sample
    from ksql_spark.oracles import (
        sql_dedup_clusters,
        sql_embed_cosine_topk,
        sql_embed_lsh_ann,
        sql_embed_lsh_ann_batch,
        sql_embed_neardup_planted,
        sql_minhash_pairs,
        sql_minhash_pairs_incremental,
        sql_multimodal_decode,
        sql_ngram_jaccard_pairs,
        sql_simhash_pairs,
    )

    tumbling_sql = """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(event_id) AS cnt, round(sum(value), 4) AS sum_val
        FROM events GROUP BY 1, 2
    """
    hopping_sql = """
        SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - (i * INTERVAL '30 minutes'),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(event_id) AS cnt
        FROM events, range(2) r(i)
        GROUP BY 1, 2
    """
    cep_negation_sql = """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        FROM events c JOIN events p ON c.user_id = p.user_id
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
          AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
          AND p.ts <= c.ts + INTERVAL '14400 seconds'
          AND NOT EXISTS (
              SELECT 1 FROM events v
              WHERE v.user_id = c.user_id AND v.event_type = 'view'
                AND (v.ts > c.ts OR (v.ts = c.ts AND v.event_id > c.event_id))
                AND (v.ts < p.ts OR (v.ts = p.ts AND v.event_id < p.event_id)))
    """
    cep_quantifier_sql = """
        WITH a AS (
            SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'view'
        ), b AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        )
        SELECT f.user_id,
               f.event_id AS a_first_id,
               l.event_id AS a_last_id,
               (l.rn - f.rn + 1) AS a_count,
               b.event_id AS b_id
        FROM a f
        JOIN a l ON l.user_id = f.user_id
                AND l.rn - f.rn BETWEEN 1 AND 2
                AND l.ts <= f.ts + INTERVAL '86400 seconds'
        JOIN b ON b.user_id = f.user_id
              AND (b.ts > l.ts OR (b.ts = l.ts AND b.event_id > l.event_id))
              AND b.ts <= f.ts + INTERVAL '86400 seconds'
    """
    cep_pattern_multi_sql = """
        WITH v AS (
            SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'view'
        ), c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
        SELECT f.user_id,
               f.event_id AS v_first_id, l.event_id AS v_last_id,
               (l.rn - f.rn + 1) AS v_count,
               c.event_id AS c_id, p.event_id AS p_id
        FROM v f
        JOIN v l ON l.user_id = f.user_id AND l.rn - f.rn BETWEEN 0 AND 1
                AND l.ts <= f.ts + INTERVAL '86400 seconds'
        JOIN c ON c.user_id = f.user_id
              AND (c.ts > l.ts OR (c.ts = l.ts AND c.event_id > l.event_id))
              AND c.ts <= f.ts + INTERVAL '86400 seconds'
        JOIN p ON p.user_id = f.user_id
              AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
              AND p.ts <= f.ts + INTERVAL '86400 seconds'
    """
    cep_pattern_first_sql = """
        WITH v AS (
            SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'view'
        ), c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
           m AS (
            SELECT f.user_id,
                   f.event_id AS v_first_id, l.event_id AS v_last_id,
                   (l.rn - f.rn + 1) AS v_count,
                   c.event_id AS c_id, p.event_id AS p_id,
                   row_number() OVER (
                       PARTITION BY f.user_id
                       ORDER BY f.ts, f.event_id, l.ts, l.event_id,
                                c.ts, c.event_id, p.ts, p.event_id) AS mrn
            FROM v f
            JOIN v l ON l.user_id = f.user_id AND l.rn - f.rn BETWEEN 0 AND 1
                    AND l.ts <= f.ts + INTERVAL '86400 seconds'
            JOIN c ON c.user_id = f.user_id
                  AND (c.ts > l.ts OR (c.ts = l.ts AND c.event_id > l.event_id))
                  AND c.ts <= f.ts + INTERVAL '86400 seconds'
            JOIN p ON p.user_id = f.user_id
                  AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
                  AND p.ts <= f.ts + INTERVAL '86400 seconds')
        SELECT user_id, v_first_id, v_last_id, v_count, c_id, p_id
        FROM m WHERE mrn = 1
    """
    cep_pattern_skip_next_sql = """
        WITH v AS (
            SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'view'
        ), c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
           m AS (
            SELECT f.user_id,
                   f.event_id AS v_first_id, l.event_id AS v_last_id,
                   (l.rn - f.rn + 1) AS v_count,
                   c.event_id AS c_id, p.event_id AS p_id,
                   row_number() OVER (
                       PARTITION BY f.user_id, f.ts, f.event_id
                       ORDER BY l.ts, l.event_id,
                                c.ts, c.event_id, p.ts, p.event_id) AS mrn
            FROM v f
            JOIN v l ON l.user_id = f.user_id AND l.rn - f.rn BETWEEN 0 AND 1
                    AND l.ts <= f.ts + INTERVAL '86400 seconds'
            JOIN c ON c.user_id = f.user_id
                  AND (c.ts > l.ts OR (c.ts = l.ts AND c.event_id > l.event_id))
                  AND c.ts <= f.ts + INTERVAL '86400 seconds'
            JOIN p ON p.user_id = f.user_id
                  AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
                  AND p.ts <= f.ts + INTERVAL '86400 seconds')
        SELECT user_id, v_first_id, v_last_id, v_count, c_id, p_id
        FROM m WHERE mrn = 1
    """
    cep_pattern_skip_sql = """
        WITH RECURSIVE v AS (
            SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'view'
        ), c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
           m AS (
            SELECT f.user_id AS k,
                   f.event_id AS v_first_id, l.event_id AS v_last_id,
                   (l.rn - f.rn + 1) AS v_count,
                   c.event_id AS c_id, p.event_id AS p_id,
                   f.ts AS o1, f.event_id AS o2, l.ts AS o3, l.event_id AS o4,
                   c.ts AS o5, c.event_id AS o6, p.ts AS o7, p.event_id AS o8
            FROM v f
            JOIN v l ON l.user_id = f.user_id AND l.rn - f.rn BETWEEN 0 AND 1
                    AND l.ts <= f.ts + INTERVAL '86400 seconds'
            JOIN c ON c.user_id = f.user_id
                  AND (c.ts > l.ts OR (c.ts = l.ts AND c.event_id > l.event_id))
                  AND c.ts <= f.ts + INTERVAL '86400 seconds'
            JOIN p ON p.user_id = f.user_id
                  AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
                  AND p.ts <= f.ts + INTERVAL '86400 seconds'),
           sel AS (
            (SELECT * FROM (
                SELECT m.*, row_number() OVER (
                    PARTITION BY k ORDER BY o1, o2, o3, o4, o5, o6, o7, o8) AS srn
                FROM m) t WHERE srn = 1)
            UNION ALL
            SELECT n.*, 1 AS srn FROM sel s JOIN LATERAL (
                SELECT * FROM m
                WHERE m.k = s.k
                  AND (m.o1 > s.o7 OR (m.o1 = s.o7 AND m.o2 > s.o8))
                ORDER BY o1, o2, o3, o4, o5, o6, o7, o8 LIMIT 1) n ON true)
        SELECT k AS user_id, v_first_id, v_last_id, v_count, c_id, p_id FROM sel
    """
    cep_pattern_negation_sql = """
        WITH v AS (
            SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'view'
        ), p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
        SELECT f.user_id,
               f.event_id AS v_first_id, l.event_id AS v_last_id,
               (l.rn - f.rn + 1) AS v_count,
               p.event_id AS p_id
        FROM v f
        JOIN v l ON l.user_id = f.user_id AND l.rn - f.rn BETWEEN 0 AND 1
                AND l.ts <= f.ts + INTERVAL '86400 seconds'
        JOIN p ON p.user_id = f.user_id
              AND (p.ts > l.ts OR (p.ts = l.ts AND p.event_id > l.event_id))
              AND p.ts <= f.ts + INTERVAL '86400 seconds'
        WHERE NOT EXISTS (
            SELECT 1 FROM events n
            WHERE n.user_id = f.user_id AND n.event_type = 'click'
              AND (n.ts > l.ts OR (n.ts = l.ts AND n.event_id > l.event_id))
              AND (n.ts < p.ts OR (n.ts = p.ts AND n.event_id < p.event_id)))
    """
    cep_pattern_optional_sql = """
        WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
             c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
             p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
             base AS (
                 SELECT v.user_id, v.event_id AS v_id, v.ts AS v_ts,
                        p.event_id AS p_id, p.ts AS p_ts
                 FROM v JOIN p ON p.user_id = v.user_id
                   AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
                   AND p.ts <= v.ts + INTERVAL '3600 seconds')
        SELECT user_id, v_id, CAST(NULL AS BIGINT) AS oc_first_id,
               CAST(NULL AS BIGINT) AS oc_last_id, CAST(0 AS BIGINT) AS oc_count, p_id
        FROM base
        UNION ALL
        SELECT b.user_id, b.v_id, c.event_id AS oc_first_id,
               c.event_id AS oc_last_id, CAST(1 AS BIGINT) AS oc_count, b.p_id
        FROM base b
        JOIN c ON c.user_id = b.user_id
              AND (c.ts > b.v_ts OR (c.ts = b.v_ts AND c.event_id > b.v_id))
              AND (c.ts < b.p_ts OR (c.ts = b.p_ts AND c.event_id < b.p_id))
              AND c.ts <= b.v_ts + INTERVAL '3600 seconds'
    """
    collect_set_sql = """
        SELECT user_id,
               cast(generate_subscripts(types, 1) - 1 AS bigint) AS pos,
               unnest(types) AS event_type
        FROM (SELECT user_id, list(DISTINCT event_type ORDER BY event_type) AS types
              FROM events GROUP BY user_id)
    """
    topk_sql = """
        SELECT user_id,
               cast(generate_subscripts(top_vals, 1) - 1 AS bigint) AS rank,
               unnest(top_vals) AS top_val
        FROM (SELECT user_id,
                     list_slice(list(round(value, 4) ORDER BY round(value, 4) DESC), 1, 3) AS top_vals
              FROM events GROUP BY user_id)
    """
    histogram_sql = """
        SELECT user_id, event_type, cnt FROM (
            SELECT user_id, event_type, count(*) AS cnt,
                   row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) rn
            FROM events GROUP BY user_id, event_type) WHERE rn <= 3
    """
    session_sql = """
        WITH o AS (
            SELECT user_id, ts, event_id,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events),
        m AS (
            SELECT user_id, ts, event_id,
                   sum(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess
            FROM o)
        SELECT epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts) + INTERVAL '30 minutes') AS session_end_us,
               user_id, count(event_id) AS cnt
        FROM m GROUP BY user_id, sess
    """
    return {
        "filter_project": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   round(l_extendedprice * (1 - l_discount), 4) AS net_price
            FROM lineitem WHERE l_quantity < 25 AND l_returnflag = 'R'
        """,
        "filter_in_null": """
            SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
              AND o_orderstatus != 'O' AND o_totalprice IS NOT NULL
        """,
        "case_when": """
            SELECT o_orderkey,
                   CASE WHEN o_totalprice > 300000 THEN 'high'
                        WHEN o_totalprice > 150000 THEN 'mid'
                        ELSE 'low' END AS price_band
            FROM orders
        """,
        "groupby_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   (floor(avg(l_extendedprice) * 10000.0 + 0.5) / 10000.0) AS avg_price,
                   round(min(l_discount), 4) AS min_disc,
                   round(max(l_tax), 4) AS max_tax,
                   count(l_orderkey) AS cnt
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "having": """
            SELECT o_custkey, count(o_orderkey) AS n_orders
            FROM orders GROUP BY o_custkey HAVING count(o_orderkey) > 15
        """,
        "orderby_limit": """
            SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "join_inner": """
            SELECT o.o_orderkey, c.c_name, n.n_name
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE o.o_totalprice > 350000
        """,
        "join_left": """
            SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        """,
        "join_right": """
            SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey
            FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_acctbal < -900
        """,
        "join_full_outer": """
            WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1),
                 s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1)
            SELECT c.c_nationkey, c.n_cust, s.s_nationkey, s.n_supp
            FROM c FULL OUTER JOIN s ON c.c_nationkey = s.s_nationkey
        """,
        "cross_join": "SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
        "multi_join_revenue": """
            SELECT r.r_name, n.n_name, round(sum(o.o_totalprice), 2) AS revenue
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        """,
        "cte": """
            WITH big_orders AS (
                SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 250000
            )
            SELECT c.c_mktsegment, count(b.o_orderkey) AS n_big
            FROM big_orders b JOIN customer c ON b.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
        "distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
        "scalar_funcs": """
            SELECT c_custkey, upper(c_name) AS name_upper, lower(c_mktsegment) AS seg_lower,
                   substr(c_name, 1, 8) AS name_prefix, length(c_name)::bigint AS name_len,
                   c_mktsegment || '#' || c_name AS tagged
            FROM customer
        """,
        "json_extract": """
            SELECT event_id, (props::json ->> 'k')::bigint AS prop_k FROM events
        """,
        "bool_ops": """
            SELECT event_id, value > 50 AS is_big FROM events
            WHERE (value > 50) IS TRUE AND (event_type = 'click') IS FALSE
        """,
        "ddl_insert_roundtrip": """
            SELECT * FROM (VALUES (1::bigint, 10.5::double, 'a'),
                                  (2::bigint, 20.25::double, 'b'),
                                  (3::bigint, 30.0::double, 'a')) t(id, amount, tag)
        """,
        "catalog_lifecycle": """
            SELECT * FROM (VALUES ('big', 'STREAM', 2, 2),
                                  ('src', 'STREAM', 2, 3)) t(name, kind, n_fields, n_rows)
        """,
        "select_struct": "SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem",
        "collect_list": """
            SELECT l_orderkey,
                   cast(generate_subscripts(line_numbers, 1) - 1 AS bigint) AS pos,
                   unnest(line_numbers) AS line_number
            FROM (SELECT l_orderkey, list(l_linenumber ORDER BY l_linenumber) AS line_numbers
                  FROM lineitem GROUP BY l_orderkey)
        """,
        "collect_set": collect_set_sql,
        "streaming_collect_set_changelog": collect_set_sql,
        "latest_by_offset": """
            SELECT user_id, event_type AS last_type FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                FROM events) WHERE rn = 1
        """,
        "earliest_by_offset": """
            SELECT user_id, event_type AS first_type FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) rn
                FROM events) WHERE rn = 1
        """,
        "topk": topk_sql,
        "streaming_topk_changelog": topk_sql,
        "topk_distinct": """
            SELECT user_id,
                   cast(generate_subscripts(top_types, 1) - 1 AS bigint) AS rank,
                   unnest(top_types) AS top_type
            FROM (SELECT user_id,
                         list_slice(list(DISTINCT event_type ORDER BY event_type DESC), 1, 2) AS top_types
                  FROM events GROUP BY user_id)
        """,
        "histogram": histogram_sql,
        "streaming_histogram_changelog": histogram_sql,
        "window_tumbling": tumbling_sql,
        "window_hopping": hopping_sql,
        "streaming_hopping_changelog": hopping_sql,
        "window_session": session_sql,
        "streaming_session_changelog": session_sql,
        "streaming_tumbling_changelog": tumbling_sql,
        "streaming_emit_final": """
            WITH mx AS (SELECT max(ts) AS m FROM events),
                 agg AS (
                    SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
                           count(event_id) AS cnt, round(sum(value), 4) AS sum_val
                    FROM events GROUP BY 1, 2
                 )
            SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, cnt, sum_val
            FROM agg, mx WHERE wstart + INTERVAL '1 hour' <= m - INTERVAL '30 minutes'
        """,
        "streaming_stream_stream_join": """
            SELECT l.event_id AS id_l, r.event_id AS id_r, l.user_id AS user_id
            FROM events l JOIN events r
              ON l.user_id = r.user_id
             AND r.ts >= l.ts - INTERVAL '300 seconds'
             AND r.ts <= l.ts + INTERVAL '300 seconds'
            WHERE l.event_id < r.event_id
        """,
        "streaming_stream_table_join": """
            SELECT e.event_id, e.event_type, c.c_mktsegment AS segment
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
        """,
        "skew_salted_agg": """
            SELECT event_type, count(event_id) AS cnt,
                   round(sum(value), 4) AS sum_val,
                   round(min(value), 6) AS min_val,
                   round(max(value), 6) AS max_val,
                   (floor(avg(value) * 1000000.0 + 0.5) / 1000000.0) AS avg_val
            FROM events GROUP BY event_type
        """,
        "skew_salted_join": """
            SELECT c.c_mktsegment, count(*) AS n_orders,
                   round(sum(o.o_totalprice), 2) AS revenue
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
        "text_stats": f"""
            SELECT doc_id,
                   {SQL_TOKEN_WS.format(c='text')} AS tok_ws,
                   {SQL_TOKEN_BPE.format(c='text')} AS tok_bpe,
                   {sql_lang_id('text')} AS lang_pred,
                   floor({sql_quality_score('text')} * 1000000.0 + 0.5)::bigint AS quality_e6,
                   {sql_fingerprint('text')} AS fp
            FROM documents
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY {sql_fingerprint('text')}
        """,
        "dedup_ngram_jaccard": sql_ngram_jaccard_pairs(shingle_n=3, threshold=0.7),
        "dedup_minhash_lsh": sql_minhash_pairs(shingle_n=3, threshold=0.7),
        "dedup_simhash": sql_simhash_pairs(bits=32, max_hamming=3),
        "dedup_clusters": sql_dedup_clusters(shingle_n=3, threshold=0.7),
        "embed_cosine_topk": sql_embed_cosine_topk(k=10),
        "embed_neardup": sql_embed_neardup_planted(threshold=0.99),
        "embed_neardup_exact": sql_embed_neardup_planted(threshold=0.99),
        "embed_lsh_ann": sql_embed_lsh_ann(k=10, n_planes=8),
        "embed_lsh_ann_batch": sql_embed_lsh_ann_batch(k=10, n_planes=8),
        "analyzer_rules": "SELECT * FROM (VALUES "
        + ", ".join(f"('{n}', {str(v).lower()})" for n, v in ANALYZER_RULE_EXPECTATIONS)
        + ") t(rule, raises)",
        "migrations_lifecycle": """
            SELECT * FROM (VALUES ('up_initial', '1,2'), ('down', '2'),
                                  ('up_again', '2'), ('final_applied', '1,2'))
            t(step, versions)
        """,
        "select_once_pull": """
            SELECT event_id, user_id, event_type FROM events WHERE value > 90
        """,
        "select_with_emit": """
            SELECT event_type, count(event_id) AS cnt FROM events GROUP BY event_type
        """,
        "multimodal_features": """
            WITH m AS (
                SELECT range AS media_id,
                       (['image','audio','video'])[(range % 3)::int + 1] AS kind,
                       'payload-' || md5(concat(42, range)) AS payload_str
                FROM range(64)
            )
            SELECT media_id, kind,
                   length(payload_str)::bigint AS n_bytes,
                   round((('0x' || substr(md5(payload_str), 1, 4))::int) / 65536.0, 6) AS f0
            FROM m
        """,
        "multimodal_decode": sql_multimodal_decode(n=64, seed=42),
        "chunk_documents": sql_chunk_documents(chunk_tokens=64, overlap=16),
        "union": """
            SELECT c_nationkey AS nationkey FROM customer
            UNION
            SELECT s_nationkey FROM supplier
        """,
        "union_all": """
            SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH'
        """,
        "intersect": """
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey FROM supplier
        """,
        "except": """
            SELECT o_custkey AS custkey FROM orders
            EXCEPT
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        """,
        "sample_hash": f"""
            SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
            FROM ({sql_hash_sample('orders', 'o_orderkey', 0.1)})
        """,
        "sample_stratified": f"""
            SELECT event_id, user_id, event_type
            FROM ({sql_stratified_sample('events', 'event_type', 'event_id', 50)})
        """,
        "streaming_dedup_ingest": """
            SELECT event_id, user_id, event_type, round(value, 4) AS value FROM events
        """,
        "cep_match_sequence": """
            WITH m AS (
                SELECT v.user_id, v.event_id AS v_id, c.event_id AS c_id,
                       p.event_id AS p_id, v.ts AS v_ts, c.ts AS c_ts, p.ts AS p_ts
                FROM events v
                JOIN events c ON c.user_id = v.user_id
                 AND v.event_type = 'view' AND c.event_type = 'click'
                 AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
                 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '86400 seconds'
                JOIN events p ON p.user_id = v.user_id AND p.event_type = 'purchase'
                 AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
                 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '86400 seconds'
            ),
            r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY v_ts, v_id, c_ts, c_id, p_ts, p_id) AS rn FROM m)
            SELECT user_id, v_id, c_id, p_id FROM r WHERE rn = 1
        """,
        "streaming_cep_sequence": """
            SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
            FROM events c JOIN events p ON c.user_id = p.user_id
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'
              AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
              AND p.ts <= c.ts + INTERVAL '14400 seconds'
        """,
        "cep_negation": cep_negation_sql,
        "streaming_cep_negation": cep_negation_sql,
        "cep_quantifier": cep_quantifier_sql,
        "streaming_cep_quantifier": cep_quantifier_sql,
        "cep_pattern_multi": cep_pattern_multi_sql,
        "streaming_cep_pattern": cep_pattern_multi_sql,
        "cep_pattern_negation": cep_pattern_negation_sql,
        "streaming_cep_pattern_negation": cep_pattern_negation_sql,
        "cep_pattern_optional": cep_pattern_optional_sql,
        "cep_pattern_first": cep_pattern_first_sql,
        "streaming_cep_pattern_first": cep_pattern_first_sql,
        "cep_pattern_skip": cep_pattern_skip_sql,
        "streaming_cep_pattern_skip": cep_pattern_skip_sql,
        "cep_pattern_skip_next": cep_pattern_skip_next_sql,
        "streaming_cep_pattern_skip_next": cep_pattern_skip_next_sql,
        "streaming_cep_repeat4": """
            WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
                 p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
            SELECT a1.user_id,
                   a1.event_id AS a1_id, a2.event_id AS a2_id,
                   a3.event_id AS a3_id, a4.event_id AS a4_id,
                   b.event_id AS b_id
            FROM v a1
            JOIN v a2 ON a2.user_id = a1.user_id
             AND (a2.ts > a1.ts OR (a2.ts = a1.ts AND a2.event_id > a1.event_id))
             AND a2.ts >= a1.ts AND a2.ts <= a1.ts + INTERVAL '172800 seconds'
            JOIN v a3 ON a3.user_id = a1.user_id
             AND (a3.ts > a2.ts OR (a3.ts = a2.ts AND a3.event_id > a2.event_id))
             AND a3.ts >= a1.ts AND a3.ts <= a1.ts + INTERVAL '172800 seconds'
            JOIN v a4 ON a4.user_id = a1.user_id
             AND (a4.ts > a3.ts OR (a4.ts = a3.ts AND a4.event_id > a3.event_id))
             AND a4.ts >= a1.ts AND a4.ts <= a1.ts + INTERVAL '172800 seconds'
            JOIN p b ON b.user_id = a1.user_id
             AND (b.ts > a4.ts OR (b.ts = a4.ts AND b.event_id > a4.event_id))
             AND b.ts >= a1.ts AND b.ts <= a1.ts + INTERVAL '172800 seconds'
        """,
        "streaming_skew_salted_join": """
            WITH c AS (
                SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS k,
                       event_id AS l_id, ts AS l_ts
                FROM events WHERE event_type = 'click' AND event_id % 3 = 0
            ), p AS (
                SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS k,
                       event_id AS r_id, ts AS r_ts
                FROM events WHERE event_type = 'purchase' AND event_id % 3 = 0
            )
            SELECT c.k, c.l_id, p.r_id
            FROM c JOIN p ON c.k = p.k
             AND p.r_ts >= c.l_ts
             AND p.r_ts <= c.l_ts + INTERVAL '900 seconds'
        """,
        "cep_optional": """
            SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
                   v.event_id AS view_id
            FROM events c
            JOIN events p ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
             AND p.ts <= c.ts + INTERVAL '14400 seconds'
            LEFT JOIN events v ON v.user_id = c.user_id AND v.event_type = 'view'
             AND (v.ts > c.ts OR (v.ts = c.ts AND v.event_id > c.event_id))
             AND (v.ts < p.ts OR (v.ts = p.ts AND v.event_id < p.event_id))
             AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL '14400 seconds'
        """,
        "dedup_incremental": sql_minhash_pairs_incremental(
            shingle_n=3, threshold=0.7, delta_mod=10
        ),
        "embed_lsh_ann_served": sql_embed_lsh_ann(k=10, n_planes=8),
        "streaming_topk_having": """
            SELECT user_id,
                   cast(generate_subscripts(top_vals, 1) - 1 AS bigint) AS rank,
                   unnest(top_vals) AS top_val
            FROM (SELECT user_id,
                         list_slice(list(round(value, 4) ORDER BY round(value, 4) DESC), 1, 3) AS top_vals
                  FROM events GROUP BY user_id)
            WHERE top_vals >= [300.0]
        """,
        "streaming_multi_agg_changelog": """
            WITH g AS (
                SELECT user_id, count(event_id) AS cnt,
                       round(sum(round(value, 4)), 4) AS sum_val,
                       max(round(value, 4)) AS max_val,
                       list_slice(list(round(value, 4)
                                       ORDER BY round(value, 4) DESC), 1, 3) AS top_vals
                FROM events GROUP BY user_id)
            SELECT user_id, cnt, sum_val, max_val,
                   cast(generate_subscripts(top_vals, 1) - 1 AS bigint) AS rank,
                   unnest(top_vals) AS top_val
            FROM g
        """,
        "streaming_session_final": """
            WITH mx AS (SELECT max(ts) AS mts FROM events),
            o AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events),
            m AS (
                SELECT user_id, ts, event_id,
                       sum(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '30 minutes'
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
                FROM o)
            SELECT epoch_us(min(ts)) AS session_start_us,
                   epoch_us(max(ts) + INTERVAL '30 minutes') AS session_end_us,
                   user_id, count(event_id) AS cnt
            FROM m, mx GROUP BY user_id, sess, mx.mts
            HAVING max(ts) + INTERVAL '30 minutes' <= mx.mts - INTERVAL '30 minutes'
        """,
    }
