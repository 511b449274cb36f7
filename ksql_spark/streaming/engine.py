"""Persistent-query manager: the engine's runtime.

The reference's ORM runtime (streams/specification.go, tables/specification.go)
issues CSAS/CTAS statements and ksqlDB runs persistent queries server-side;
here the manager IS the server side.  Each persistent query is a Structured
Streaming pipeline:

    catalog.read_stream(source)  ->  compile_select(plan)  ->
    writeStream.foreachBatch(ExactlyOnceParquetSink)
               .option("checkpointLocation", <workdir>/checkpoints/<name>)

Lifecycle parity (SURVEY.md §3 EP3): "SUCCESS" == a live StreamingQuery
handle; the schema cache == the Catalog; resume-from-checkpoint + the
idempotent sink give the north rule's no-duplicates/no-gaps guarantee
(tested in tests/test_streaming.py by killing and restarting mid-stream).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import uuid
from contextlib import contextmanager
from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import _make_type_verifier

from ..builder import CreateBuilder, EmitMode, InsertBuilder, Ref, SelectBuilder
from ..errors import AnalysisError, CatalogError, QueryTimeoutError, SchemaError
from ..expr import Conditional, ExpressionList, Field
from ..operators.compile import DEFAULT_GRACE, compile_select, output_keys
from ..sources.catalog import (
    QUERYABLE_PREFIX,
    SPARK_ROW_METADATA,
    ArrowUnserved,
    Catalog,
    Relation,
)
from .sink import OP_APPEND, OP_UPSERT, ExactlyOnceParquetSink


_STATE_NODE_RE = re.compile(
    r"FlatMapGroupsInPandasWithState (\w+)\([^\n]*?"
    r"(\[StructField\([^\]]*\)\]), (\w+), (\w+Timeout)"
)
_STREAM_JOIN_RE = re.compile(r"~Join (\w+)")

# The pandas state kernels whose event-time timeout only evicts: the
# builder's EMIT CHANGES kernels, whose changelog already holds a key's
# final upsert (sessions.py and bounded.py, ``hasTimedOut``), and the CEP
# NFA's on-completion rule, which emits every match in the data batch that
# completes it (operators/cep_nfa.py ``_eager_func``).
_EVICT_ONLY_KERNELS = frozenset({"session_upsert", "bounded_upsert", "nfa_eager"})

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _state_schema_descriptor(plan: str) -> list[list[str]] | None:
    """Extract every custom stateful operator's (state schema, output mode,
    timeout) from an analyzed plan rendering — the persisted RocksDB state
    layout of the bounded/session/NFA operators.  None when the plan has no
    custom stateful op (native windowed aggregates are covered by Spark's
    own state-schema compatibility checker)."""
    found = [[m.group(2), m.group(3), m.group(4)] for m in _STATE_NODE_RE.finditer(plan)]
    if not found and "FlatMapGroupsInPandasWithState" in plan:
        # ADVICE r6: the plan HAS a custom stateful operator but the schema
        # regex no longer matches its rendering (e.g. a Spark upgrade
        # changed the node format).  Failing open would silently disable
        # the resume guard; fail loud instead.
        raise AnalysisError(
            "state-schema guard could not parse the "
            "FlatMapGroupsInPandasWithState node from the analyzed plan; "
            "the plan rendering may have changed across a Spark upgrade — "
            "update _STATE_NODE_RE in streaming/engine.py"
        )
    return found or None


def check_state_schema(checkpoint: str, descriptor: list[list[str]], query: str) -> None:
    """VERDICT r5 #6: refuse to resume a checkpoint whose persisted state
    layout no longer matches the compiled plan (e.g. the query gained an
    aggregate) — a NAMED error instead of silent state corruption.

    The descriptor is recorded at first start under
    ``<checkpoint>/_ksql_state_schema.json``.  On restart with committed
    progress, a mismatch raises :class:`AnalysisError` with the migration
    recipe.  A pre-existing checkpoint without a recording (created before
    this guard) is stamped as-is."""
    marker = os.path.join(checkpoint, "_ksql_state_schema.json")
    fp = hashlib.sha256(json.dumps(descriptor).encode()).hexdigest()[:16]
    if os.path.exists(marker):
        with open(marker) as fh:
            rec = json.load(fh)
        if rec.get("fingerprint") != fp:
            raise AnalysisError(
                f"query {query!r} cannot resume from checkpoint {checkpoint}: "
                f"the compiled state schema {descriptor} differs from the "
                f"persisted one {rec.get('descriptor')} (recorded fingerprint "
                f"{rec.get('fingerprint')}, compiled {fp}).  A stateful "
                f"operator's aggregate list/types changed across the restart. "
                f"Migration recipes: (a) drain the old query with EMIT FINAL, "
                f"then start the new shape under a fresh checkpoint; (b) "
                f"rebuild state by replaying the source into a fresh "
                f"checkpoint; (c) if the change was unintentional, restore "
                f"the original SELECT"
            )
        return
    os.makedirs(checkpoint, exist_ok=True)
    with open(marker, "w") as fh:
        json.dump({"fingerprint": fp, "descriptor": descriptor}, fh)


def keeps_no_data_batch(plan: str, output_mode: str) -> bool:
    """Whether a bounded (``availableNow``) run of the analyzed ``plan``
    needs Spark's trailing no-data micro-batch.

    That batch only moves the watermark up to the data already read, at the
    fixed cost of reopening and committing every state store.  It is kept
    when some operator emits rows as the watermark passes:

    * a streaming aggregate under append output mode (EMIT FINAL windows);
    * a stream join that is not inner (outer null-extension; a stateless
      stream-static join never gets a no-data batch anyway);
    * a pandas state kernel with an event-time timeout (the CEP NFA's
      anchor-close rule flushes its matches there), except the builder's
      EMIT CHANGES kernels and the NFA's on-completion rule, whose timeout
      only evicts.

    Everything else — update-mode aggregates, inner stream-stream joins,
    monotone CEP patterns, watermark deduplication — has emitted every row
    in the data batches.
    """
    if output_mode == "append" and "~Aggregate" in plan:
        return True
    if any(kind != "Inner" for kind in _STREAM_JOIN_RE.findall(plan)):
        return True
    return any(
        m.group(4) == "EventTimeTimeout" and m.group(1) not in _EVICT_ONLY_KERNELS
        for m in _STATE_NODE_RE.finditer(plan)
    )


@contextmanager
def _session_conf(spark: SparkSession, conf: dict[str, str]):
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def start_stream(
    df: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint: str,
    *,
    output_mode: str = "append",
    name: str | None = None,
    state_partitions: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start the streaming frame ``df`` into ``sink``: the one place the
    engine starts a stream, so the run policy is decided in one place.

    * A checkpoint whose persisted state layout differs from ``df``'s is
      refused (:func:`check_state_schema`), and so is a sink whose
      committed rows carry other column names than ``df``'s: a reader
      unions every epoch by name, so the old and new rows would mix.
    * ``state_partitions`` pins ``spark.sql.shuffle.partitions``: stateful
      operators open one state store per shuffle partition per batch, and
      Spark bakes the value into the checkpoint at first start.
    * An ``available_now`` run drops the trailing no-data micro-batch
      unless :func:`keeps_no_data_batch` says an operator needs it.  A
      processing-time run leaves that setting to the session.

    Both settings are captured when the query starts; the session's own
    values are restored right after.
    """
    plan = df._jdf.queryExecution().analyzed().toString()
    desc = _state_schema_descriptor(plan)
    if desc is not None:
        check_state_schema(checkpoint, desc, name or checkpoint)
    written = sink.written_columns()
    columns = [*df.columns, *([] if "__op" in df.columns else ["__op"])]
    if written is not None and {c.lower() for c in written} != {c.lower() for c in columns}:
        raise AnalysisError(
            f"query {name or checkpoint!r} cannot resume into sink {sink.root}: its "
            f"committed rows have columns {written}, the compiled query writes "
            f"{columns}.  Drop the relation and create it again under a fresh "
            f"workdir, or restore the original SELECT"
        )
    conf: dict[str, str] = {}
    if state_partitions:
        conf[_SHUFFLE_PARTITIONS] = str(state_partitions)
    if available_now and not keeps_no_data_batch(plan, output_mode):
        conf[_NO_DATA_BATCHES] = "false"
    writer = (
        df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if name:
        writer = writer.queryName(name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    with _session_conf(df.sparkSession, conf):
        return writer.start()


def values_table(name: str, schema: T.StructType, rows: list[dict[str, Any]]) -> pa.Table:
    """The rows of ``INSERT INTO <name> VALUES`` as an Arrow table of the
    relation's schema, ready to be written as one parquet file.

    Each row goes through the checks and conversion that
    ``spark.createDataFrame(rows, schema)`` applies (PySpark's row verifier,
    then ``toInternal``), so the same values are accepted and a naive
    datetime keeps its local-time meaning.  A row key that names no column,
    or a value its column cannot hold, raises :class:`SchemaError`; a column
    left out is NULL.  The footer carries the Spark schema, as Spark's own
    files do, so a reader that infers the schema gets the declared one.
    """
    columns = set(schema.names)
    verify = _make_type_verifier(schema)
    internal = []
    for row in rows:
        unknown = next((k for k in row if k not in columns), None)
        if unknown is not None:
            raise SchemaError(
                f"INSERT into {name}: column {unknown!r} is not in its schema {schema.names}"
            )
        try:
            verify(row)
        except (TypeError, ValueError) as e:  # PySparkTypeError / PySparkValueError
            raise SchemaError(f"INSERT into {name}: {e}") from e
        internal.append(dict(zip(schema.names, schema.toInternal(row))))
    table = pa.Table.from_pylist(internal, schema=to_arrow_schema(schema))
    return table.replace_schema_metadata({SPARK_ROW_METADATA: schema.json()})


# A classic pull's WHERE is a conjunction of ``<column> <op> <literal>`` with
# these ops, on a string, integral or boolean column.  Arrow compares those
# as Spark does; floats stay on Spark (it orders NaN above every number),
# and so do datetimes, whose literals need Spark's coercions.
_PULL_OPS = frozenset({"=", "!=", "<", "<=", ">", ">=", "IN"})
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _literal_fits(dtype: T.DataType, value: Any) -> bool:
    """Whether a ``dtype`` column compares to the literal ``value`` on Arrow
    as it does on Spark."""
    if dtype == T.StringType():  # the default (binary) collation only
        return type(value) is str
    if isinstance(dtype, T.BooleanType):
        return type(value) is bool
    if isinstance(dtype, _INTEGRAL):
        return type(value) is int and -(2**63) <= value < 2**63
    return False


def _conjuncts(exprs: list) -> list[Conditional] | None:
    """The comparisons of a WHERE list that is a conjunction of them (AND
    lists flattened), or None."""
    out: list[Conditional] = []
    for e in exprs:
        if type(e) is ExpressionList and e.op == "AND":
            inner = _conjuncts(e.exprs)
            if inner is None:
                return None
            out.extend(inner)
        elif type(e) is Conditional:
            out.append(e)
        else:
            return None
    return out


def _plain_field(e: Any) -> bool:
    """An unqualified column reference (``*`` and ``rel.col`` stay on Spark)."""
    return type(e) is Field and "." not in e.name and e.name != "*"


def _column_types(schema: T.StructType) -> dict[str, str]:
    """Column name (case-insensitive, as Spark resolves it) -> type, without
    nullability."""
    return {f.name.lower(): f.dataType.simpleString() for f in schema.fields}


class PersistentQuery:
    """Handle for one CSAS/CTAS persistent query."""

    def __init__(self, name: str, create: CreateBuilder, sink: ExactlyOnceParquetSink, checkpoint: str):
        self.name = name
        self.create = create
        self.sink = sink
        self.checkpoint = checkpoint
        # the latest run's StreamingQuery, live or terminated (None before
        # the first start); Spark keeps its recentProgress / lastProgress /
        # exception() readable after termination
        self.streaming_query: StreamingQuery | None = None
        self.state_partitions: int | None = None  # fixed at first start (checkpoint)
        # new source files per batch; every run of this query, resume()
        # included, reads with it (None: the source relation's default)
        self.max_files_per_trigger: int | None = None

    def is_active(self) -> bool:
        return self.streaming_query is not None and self.streaming_query.isActive


class PersistentQueryManager:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        workdir: str,
        grace: str = DEFAULT_GRACE,
    ):
        self.spark = spark
        self.catalog = catalog
        self.workdir = workdir
        self.grace = grace
        self.queries: dict[str, PersistentQuery] = {}
        os.makedirs(workdir, exist_ok=True)

    # ------------------------------------------------------------------
    # CSAS / CTAS
    # ------------------------------------------------------------------

    def create_as_select(
        self,
        create: CreateBuilder,
        *,
        available_now: bool = True,
        processing_time: str | None = None,
        await_termination: bool = True,
        max_files_per_trigger: int | None = None,
        state_partitions: int | None = None,
    ) -> PersistentQuery:
        """CREATE STREAM|TABLE <name> AS SELECT ... — launch the pipeline.

        ``available_now=True`` (tests/bench) drains all currently available
        input and stops — deterministic micro-batching.  For a continuous
        deployment pass ``processing_time='5 seconds'`` instead.
        ``max_files_per_trigger`` caps the new source files each batch of
        this query reads, its runs after :meth:`resume` too; other queries
        over the same source keep the relation's default.
        """
        create.validate()
        if create.select is None:
            raise AnalysisError("create_as_select requires AsSelect(...)")
        name = create.name
        if self.catalog.exists(name):
            raise CatalogError(f"relation {name!r} already exists")
        sb = create.select
        # a table's rows are keyed by the columns the aggregate lowering
        # projects its window and GROUP BY keys to (SELECT aliases included)
        state_keys = output_keys(sb) if create.ref == Ref.TABLE else []

        pq = self.queries.get(name)
        if pq is None:
            sink_root = os.path.join(self.workdir, "relations", name.lower())
            op = OP_UPSERT if create.ref == Ref.TABLE or sb.emit == EmitMode.CHANGES else OP_APPEND
            sink = ExactlyOnceParquetSink(sink_root, op=op)
            checkpoint = os.path.join(self.workdir, "checkpoints", name.lower())
            pq = PersistentQuery(name, create, sink, checkpoint)
            # state-op parallelism (the ksqlDB PARTITIONS analog): explicit
            # arg, else the source relation's declared partition count, else
            # session default.  Baked into the checkpoint at first start.
            pq.state_partitions = state_partitions or self._declared_partitions(sb)
            self.queries[name] = pq
        if max_files_per_trigger is not None:
            pq.max_files_per_trigger = max_files_per_trigger

        self._register_output_relation(pq, state_keys)
        self._start(pq, available_now, processing_time, await_termination)
        return pq

    @staticmethod
    def _output_mode(sb: SelectBuilder) -> str:
        stateful = bool(sb.group_by or sb.window or any(f.is_aggregate() for f in sb.fields))
        if not stateful:
            return "append"
        if sb.emit == EmitMode.CHANGES:
            return "update"  # push changelog (SURVEY.md §2.6)
        # EMIT FINAL or default on windowed aggregate: final-per-window
        return "append"

    def _compile_streaming(self, pq: PersistentQuery) -> DataFrame:
        sb = pq.create.select
        assert sb is not None
        sources: dict[str, DataFrame] = {}
        fe = sb.from_expr
        if (
            pq.max_files_per_trigger is not None
            and fe is not None
            and fe.ref == Ref.STREAM
            and self.catalog.exists(fe.name)
            and self.catalog.get(fe.name).ref == Ref.STREAM
        ):
            # the query's own file rate, read into its source frame only: the
            # relation and every other query over it keep their default
            sources[fe.name] = self.catalog.read_stream(
                fe.name, max_files_per_trigger=pq.max_files_per_trigger
            )
        df = compile_select(
            sb,
            spark=self.spark,
            catalog=self.catalog,
            sources=sources,
            streaming=True,
            grace=self.grace,
        )
        # explicit conversation-key repartitioning (north rule) for stateful
        # plans whose relation declares a partition spec
        if sb.from_expr is not None and self.catalog.exists(sb.from_expr.name):
            src = self.catalog.get(sb.from_expr.name)
            if src.partitions and src.partition_key and src.partition_key in df.columns:
                df = df.repartition(src.partitions, F.col(src.partition_key))
        return df

    def _declared_partitions(self, sb) -> int | None:
        if sb.from_expr is not None and self.catalog.exists(sb.from_expr.name):
            return self.catalog.get(sb.from_expr.name).partitions
        return None

    def _start(
        self,
        pq: PersistentQuery,
        available_now: bool,
        processing_time: str | None,
        await_termination: bool,
    ) -> None:
        df = self._compile_streaming(pq)
        pq.streaming_query = start_stream(
            df,
            pq.sink,
            pq.checkpoint,
            output_mode=self._output_mode(pq.create.select),
            name=pq.name,
            state_partitions=pq.state_partitions,
            available_now=available_now,
            processing_time=processing_time,
        )
        if await_termination and available_now:
            pq.streaming_query.awaitTermination()

    def _register_output_relation(self, pq: PersistentQuery, state_keys: list[str]) -> None:
        create = pq.create
        if self.catalog.exists(create.name):
            return
        rel = Relation(
            name=create.name,
            ref=create.ref,
            path=pq.sink.data_dir,
            format="parquet",
            metadata={"sink": pq.sink, "state_keys": state_keys},
        )
        self.catalog.register(rel)
        if create.ref == Ref.TABLE:
            # QUERYABLE_<name> twin (reference: tables/specification.go:323-355)
            self.catalog.register(
                Relation(
                    name=QUERYABLE_PREFIX + create.name,
                    ref=Ref.TABLE,
                    path=pq.sink.data_dir,
                    format="parquet",
                    metadata={"sink": pq.sink, "state_keys": state_keys},
                )
            )

    # ------------------------------------------------------------------
    # lifecycle: stop / resume (checkpoint recovery)
    # ------------------------------------------------------------------

    def stop(self, name: str) -> None:
        pq = self.queries.get(name)
        if pq is None:
            raise CatalogError(f"no persistent query {name!r}")
        if pq.is_active():
            pq.streaming_query.stop()
            pq.streaming_query.awaitTermination()

    def resume(
        self,
        name: str,
        *,
        available_now: bool = True,
        processing_time: str | None = None,
        await_termination: bool = True,
    ) -> PersistentQuery:
        """Restart a stopped query from its checkpoint, with the
        ``max_files_per_trigger`` it was created with.

        Structured Streaming replays any uncommitted epoch; the sink's
        commit markers make the replay idempotent -> exactly-once resume.
        """
        pq = self.queries.get(name)
        if pq is None:
            raise CatalogError(f"no persistent query {name!r}")
        if pq.is_active():
            raise AnalysisError(f"query {name!r} is still active; stop it first")
        self._start(pq, available_now, processing_time, await_termination)
        return pq

    def drop(self, name: str) -> None:
        """DROP the relation and stop its query (drop_builder semantics);
        its cached table state is released."""
        if name in self.queries:
            self.stop(name)
            self.queries.pop(name).sink.release()
        self.catalog.drop(name)

    # ------------------------------------------------------------------
    # INSERT / SELECT (ORM surface: streams/specification.go)
    # ------------------------------------------------------------------

    def insert(self, ib: InsertBuilder) -> None:
        """INSERT INTO <stream> VALUES | AS SELECT.

        VALUES rows are checked and converted as ``spark.createDataFrame``
        would (:func:`values_table`), then written in-process with pyarrow
        as one parquet file that appears atomically (:meth:`Catalog.append`):
        no Spark job.  AS SELECT runs its query as a Spark write, refused
        when its columns differ from the relation's.  A TABLE and a
        persistent query's output refuse both (:class:`CatalogError`)."""
        ib.validate()
        rel = self.catalog.insertable(ib.name)
        schema = rel.schema or self.catalog.read(ib.name).schema
        if ib.rows:
            data: DataFrame | pa.Table = values_table(ib.name, schema, ib.rows)
        else:
            assert ib.select is not None
            data = compile_select(ib.select, spark=self.spark, catalog=self.catalog)
            # the relation is read back with its schema, so a file of other
            # columns or types would fail every later read of it
            if _column_types(data.schema) != _column_types(schema):
                raise SchemaError(
                    f"INSERT into {ib.name}: the query yields {data.schema.simpleString()}, "
                    f"the relation holds {schema.simpleString()}"
                )
        self.catalog.append(ib.name, data)

    def select_once(self, sb: SelectBuilder) -> list:
        """Pull query: one-shot read of current materialized data
        (reference: SelectOnce, streams/specification.go:588-620).

        A classic pull is answered in-process on Arrow, with no Spark job
        (:meth:`_pull_in_process`); every other shape is compiled and
        collected by Spark.  Both give the same rows, types and field names.
        """
        sb.validate()
        pulled = self._pull_in_process(sb)
        if pulled is None:
            return compile_select(sb, spark=self.spark, catalog=self.catalog).collect()
        return ArrowTableToRowsConversion.convert(*pulled)

    def _pull_in_process(self, sb: SelectBuilder) -> tuple[pa.Table, T.StructType] | None:
        """The result of a classic pull read from the relation's files on
        Arrow, with its Spark schema, or None for any other shape.

        A classic pull selects plain (optionally aliased) columns of one
        relation, with a WHERE of ``<column> <op> <literal>`` conjuncts
        (:data:`_PULL_OPS`, :func:`_literal_fits`) and no join, GROUP BY,
        window, HAVING, ORDER BY, LIMIT, CTE, set op or EMIT.  On a
        sink-backed TABLE every conjunct must be on a (non-float) state key,
        and there must be one: the key filter then commutes with the latest
        row per key, and a value-column filter keeps the cached Spark state
        (:meth:`ExactlyOnceParquetSink.read_latest_state`).  The files read
        and the Spark schema come from :meth:`Catalog.arrow_source`.
        """
        fe = sb.from_expr
        conds = _conjuncts(sb.where_exprs)
        if (
            conds is None
            or sb.joins
            or sb.group_by
            or sb.window is not None
            or sb.having_exprs
            or sb.order_by
            or sb.limit_n is not None
            or sb.cte is not None
            or sb.set_ops
            or sb.emit != EmitMode.NONE
            or not all(_plain_field(f) for f in sb.fields)
            or not all(_plain_field(c.left) and c.op in _PULL_OPS for c in conds)
            or not self.catalog.exists(fe.name)
        ):
            return None
        try:
            src = self.catalog.arrow_source(fe.name)
            by_name: dict[str, list[T.StructField]] = {}
            for f in src.schema.fields:
                by_name.setdefault(f.name.lower(), []).append(f)

            def column(name: str) -> T.StructField:
                found = by_name.get(name.lower(), [])
                if len(found) != 1:  # Spark raises its own error for these
                    raise ArrowUnserved(f"column {name!r} resolves to {found}")
                return found[0]

            # an unaliased column is named as the query spells it, as in Spark
            out = [(f.alias_name or f.name, column(f.name)) for f in sb.fields]
            where = []
            for c in conds:
                col = column(c.left.name)
                values = c.right if c.op == "IN" else [c.right]
                if not values or not all(_literal_fits(col.dataType, v) for v in values):
                    return None
                where.append((col.name, c.op, c.right))
            if src.keys is not None and (
                not where
                or any(name not in src.keys for name, _, _ in where)
                or any(isinstance(column(k).dataType, T.FractionalType) for k in src.keys)
            ):
                return None
            if any(isinstance(col.dataType, T.TimestampNTZType) for _, col in out):
                return None
            table = src.read([col.name for _, col in out], where)
        except (ArrowUnserved, pa.ArrowException):
            # a file Arrow cannot read as Spark would: Spark reads it, or
            # raises its own error
            return None
        schema = T.StructType([T.StructField(name, col.dataType) for name, col in out])
        result = pa.Table.from_arrays([table.column(col.name) for _, col in out], names=schema.names)
        return result, schema

    def select_with_emit(self, sb: SelectBuilder, timeout_seconds: int = 60) -> Iterable:
        """Push query drained to completion over current data
        (reference: SelectWithEmit, streams/specification.go:626-655).

        Runs the plan as a real streaming query into an idempotent sink and
        yields the committed changelog rows.  A continuous deployment would
        keep the query running; availableNow gives tests determinism.  A
        query that has not drained within ``timeout_seconds`` is stopped and
        :class:`QueryTimeoutError` raised: no partial rows, no query left
        running.
        """
        if sb.emit != EmitMode.CHANGES:
            raise AnalysisError("select_with_emit requires EMIT CHANGES")
        qname = f"__emit_{uuid.uuid4().hex[:8]}"
        sink = ExactlyOnceParquetSink(os.path.join(self.workdir, "emit", qname), op=OP_UPSERT)
        df = compile_select(
            sb, spark=self.spark, catalog=self.catalog, streaming=True, grace=self.grace
        )
        q = start_stream(
            df,
            sink,
            os.path.join(self.workdir, "emit", qname, "_ckpt"),
            output_mode=self._output_mode(sb),
            name=qname,
            state_partitions=self._declared_partitions(sb),
        )
        if not q.awaitTermination(timeout_seconds):
            q.stop()
            raise QueryTimeoutError(
                f"push query {qname} did not drain within {timeout_seconds} s; it was stopped"
            )
        for row in sink.read_data(self.spark).collect():
            yield row
