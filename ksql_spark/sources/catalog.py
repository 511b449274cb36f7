"""Relation catalog: the engine's analog of ksqlDB's metastore.

The reference keeps a client-side schema cache warmed by listing + describing
every stream/table (config/linter.go:32-96, static/relation_storage.go:40-77)
and checks relation existence / declared-schema agreement before running
anything (internal/schema/report/reflection.go:11-67).  This module is that
metastore, made real: each relation maps a name to a storage location, kind
(STREAM/TABLE/TOPIC), declared schema, primary key, event-time column and
event-order key.

Storage formats
---------------
``parquet``         — a directory of parquet files.  A persistent query's
                      output is read through its exactly-once sink's
                      ``_commits/`` marker log (see ksql_spark.streaming.sink),
                      so readers see committed epochs only.
``bucketed_table``  — a managed table bucketed on its join key
                      (:meth:`Catalog.write_bucketed`).

A parquet relation is read two ways: by Spark (:meth:`Catalog.read`,
:meth:`Catalog.read_stream`), and in-process on Arrow
(:meth:`Catalog.arrow_source`) for the pull queries the engine serves without
a Spark job.  ``INSERT ... VALUES`` rows are written with pyarrow
(:meth:`Catalog.append`).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..builder import Ref
from ..errors import CatalogError, SchemaError
from ..streaming.sink import LINEAGE_COLUMNS, ExactlyOnceParquetSink
from ..types import SchemaField, fields_to_struct

QUERYABLE_PREFIX = "QUERYABLE_"  # reference: consts/consts.go:17

# the Spark schema Spark stores in every parquet footer it writes
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# predicate ops the Arrow reader evaluates, with SQL's NULL semantics
# (a NULL comparison drops the row)
_ARROW_OPS = {
    "=": pc.equal,
    "!=": pc.not_equal,
    "<": pc.less,
    "<=": pc.less_equal,
    ">": pc.greater,
    ">=": pc.greater_equal,
    "IN": lambda col, values: pc.is_in(col, value_set=pa.array(values)),
}


class ArrowUnserved(Exception):
    """The in-process Arrow reader cannot give exactly what Spark reads for
    this relation or this read; the caller takes the Spark path."""


@dataclass
class ArrowSource:
    """A relation as the in-process reader sees it (:meth:`Catalog.arrow_source`).

    ``schema`` holds the columns as Spark reads them, ``epochs`` the data
    files, one group per committed epoch (one group for a plain parquet
    relation), and ``keys`` the latest-row-per-key columns of a sink-backed
    TABLE (None for a relation read row by row).  ``uniform`` requires every
    file's footer to carry the column names and types of ``schema`` (a
    relation without a declared schema, which Spark infers from one file).
    """

    schema: T.StructType
    epochs: list[list[str]]
    keys: list[str] | None = None
    uniform: bool = False

    def read(self, columns: list[str], where: list[tuple[str, str, Any]]) -> pa.Table:
        """``columns`` (names as in ``schema``) of the rows that pass every
        ``(column, op, literal)`` of ``where``, cast to the Arrow types of
        their Spark types, so a row converts to what ``collect()`` returns.
        A sink-backed TABLE's key filter is applied before its latest row
        per key is picked (a key filter commutes with that pick)."""
        extra = [*self.keys, "__op"] if self.keys is not None else []
        names = list(dict.fromkeys([*columns, *(c for c, _, _ in where), *extra]))
        fields = {f.name: f for f in self.schema.fields}
        fields["__op"] = T.StructField("__op", T.StringType())
        try:
            arrow = to_arrow_schema(T.StructType([fields[n] for n in names]))
        except TypeError as e:  # a Spark type with no Arrow twin
            raise ArrowUnserved(str(e)) from e
        target = pa.schema([pa.field(f.name, f.type) for f in arrow])
        epochs = []
        for files in self.epochs:
            parts = [self._read_file(f, target) for f in files]
            table = pa.concat_tables(parts) if parts else target.empty_table()
            for col, op, value in where:
                table = table.filter(_ARROW_OPS[op](table.column(col), value))
            epochs.append(table)
        if self.keys is not None:
            table = ExactlyOnceParquetSink.latest_rows(epochs, self.keys)
        else:
            table = pa.concat_tables(epochs) if epochs else target.empty_table()
        return table.select(list(dict.fromkeys(columns)))

    def _read_file(self, path: str, target: pa.Schema) -> pa.Table:
        """One parquet file's ``target`` columns, matched by name without
        regard to case and missing ones NULL, as Spark's reader matches them."""
        f = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
        physical = f.schema_arrow
        if self.uniform and _spark_schema(physical.metadata).simpleString() != self.schema.simpleString():
            raise ArrowUnserved(f"{path} was written with another schema")
        by_name: dict[str, list[str]] = {}
        for name in physical.names:
            by_name.setdefault(name.lower(), []).append(name)
        found = {}
        for want in target:
            names = by_name.get(want.name.lower(), [])
            if len(names) > 1:
                raise ArrowUnserved(f"{path} has columns {names}")
            if names:
                found[want.name] = names[0]
        data = f.read(columns=sorted(set(found.values())), use_threads=False)
        n = f.metadata.num_rows
        cols = []
        for want in target:
            if want.name not in found:
                cols.append(pa.nulls(n, want.type))
                continue
            col = data.column(found[want.name])
            if not _castable(col.type, want.type):
                raise ArrowUnserved(f"{path}: {found[want.name]} is {col.type}, not {want.type}")
            cols.append(col.cast(want.type))
        return pa.Table.from_arrays(cols, schema=target)


def _castable(src: pa.DataType, dst: pa.DataType) -> bool:
    """Whether a file column of Arrow type ``src`` reads as a Spark column of
    Arrow type ``dst`` without a conversion Spark's reader would refuse:
    the same type, an integer widening, any timestamp (INT96 reads as a
    naive one), or a nested type of the same kind (list element names
    differ between writers)."""
    if src == dst or (pa.types.is_timestamp(src) and pa.types.is_timestamp(dst)):
        return True
    if pa.types.is_integer(src) and pa.types.is_integer(dst):
        return src.bit_width <= dst.bit_width
    return pa.types.is_nested(src) and src.id == dst.id


@dataclass
class Relation:
    """Catalog entry (reference: schema cache row + WITH metadata)."""

    name: str
    ref: Ref
    path: str
    format: str = "parquet"
    schema: T.StructType | None = None
    primary_key: str | None = None
    event_time_col: str | None = None  # WITH (TIMESTAMP='col'), metadata.go:13-16
    event_order_cols: list[str] = field(default_factory=list)  # LATEST_BY_OFFSET order
    partitions: int | None = None  # WITH (PARTITIONS=n) -> repartition key count
    partition_key: str | None = None  # column to repartition/bucket on
    broadcast: bool = False  # small dimension: hint broadcast on join
    metadata: dict[str, Any] = field(default_factory=dict)


class Catalog:
    """Stream/table registry + pre-flight checks (SURVEY.md §2.10)."""

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root
        self._relations: dict[str, Relation] = {}

    # -- registration ------------------------------------------------------

    def register(self, rel: Relation) -> Relation:
        key = rel.name.lower()
        if key in self._relations:
            raise CatalogError(f"relation {rel.name!r} already exists")
        self._relations[key] = rel
        return rel

    def register_parquet(
        self,
        name: str,
        path: str,
        ref: Ref = Ref.STREAM,
        **kwargs: Any,
    ) -> Relation:
        """Register an existing parquet file/dir (test data ingestion path)."""
        return self.register(Relation(name=name, ref=ref, path=path, format="parquet", **kwargs))

    def create(self, create_builder) -> Relation:
        """Execute a CREATE STREAM/TABLE with declared SchemaFields.

        Reference flow: create_builder.go:132-209 renders DDL; here we
        materialize the catalog entry + an empty storage location.
        CSAS/CTAS (AsSelect) is handled by the streaming engine
        (ksql_spark.streaming.engine) because it launches a persistent query.
        """
        create_builder.validate()
        if create_builder.select is not None:
            raise CatalogError("CSAS/CTAS must go through PersistentQueryManager.create_as_select")
        if self.root is None:
            raise CatalogError("catalog has no root directory for new relations")
        name = create_builder.name
        fields: list[SchemaField] = create_builder.schema_fields
        schema = fields_to_struct(fields)
        pk = next((f.name for f in fields if f.is_primary), None)
        meta = dict(create_builder.metadata)
        path = os.path.join(self.root, name.lower())
        os.makedirs(path, exist_ok=True)
        rel = Relation(
            name=name,
            ref=create_builder.ref,
            path=path,
            format="parquet",
            schema=schema,
            primary_key=pk,
            event_time_col=meta.get("timestamp"),
            event_order_cols=meta.get("event_order", []),
            partitions=meta.get("partitions"),
            partition_key=meta.get("partition_key") or pk,
            metadata=meta,
        )
        self.register(rel)
        self._write_schema_sidecar(rel)
        return rel

    def _write_schema_sidecar(self, rel: Relation) -> None:
        if rel.schema is None:
            return
        sidecar = os.path.join(rel.path, "_schema.json")
        with open(sidecar, "w") as fh:
            json.dump(json.loads(rel.schema.json()), fh)

    # -- lookups (LIST/DESCRIBE/DROP, SURVEY.md §2.1) -----------------------

    def get(self, name: str) -> Relation:
        rel = self._relations.get(name.lower())
        if rel is None:
            raise CatalogError(f"unknown relation {name!r}")
        return rel

    def exists(self, name: str) -> bool:
        return name.lower() in self._relations

    def list(self, ref: Ref | None = None) -> list[Relation]:
        rels = list(self._relations.values())
        if ref is not None:
            rels = [r for r in rels if r.ref == ref]
        return sorted(rels, key=lambda r: r.name)

    def describe(self, name: str) -> dict[str, Any]:
        """DESCRIBE payload (reference: dao/describe.go:49-82)."""
        rel = self.get(name)
        schema = rel.schema or self.read(name).schema
        return {
            "name": rel.name,
            "kind": rel.ref.value,
            "fields": [
                {"name": f.name, "type": f.dataType.simpleString(), "primary": f.name == rel.primary_key}
                for f in schema.fields
            ],
            "format": rel.format,
            "path": rel.path,
            "partitions": rel.partitions,
            "event_time": rel.event_time_col,
        }

    # -- bucketed storage: co-located joins without a shuffle ----------------

    def write_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_key: str | list[str],
        buckets: int,
        ref: Ref = Ref.TABLE,
        sort_by: str | list[str] | None = None,
    ) -> Relation:
        """Materialize a relation bucketed (and optionally sorted) on its
        join key.

        Two relations bucketed on the same key with the same bucket count
        join WITHOUT a shuffle — at 100 TB this converts the dominant
        exchange of every fact-fact join into a zero-cost zip of co-located
        buckets (the same reason ksqlDB co-partitions topics on the join
        key).  Locally this uses the session's managed warehouse
        (``saveAsTable``); on a cluster the same call targets the shared
        metastore.
        """
        keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
        table = f"ksql_bucketed_{name.lower()}"
        # a previous session may have left the managed location behind after
        # its in-memory catalog entry died — clear both before writing
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = os.path.join(warehouse.removeprefix("file:"), table)
        if os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc)
        writer = df.write.mode("overwrite").bucketBy(buckets, *keys)
        if sort_by:
            sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            writer = writer.sortBy(*sorts)
        writer.saveAsTable(table)
        rel = Relation(
            name=name,
            ref=ref,
            path=table,
            format="bucketed_table",
            partitions=buckets,
            partition_key=keys[0],
            metadata={"bucket_keys": keys, "buckets": buckets},
        )
        return self.register(rel)

    # -- TOPIC surface (reference: topics/specification.go:17-54) ------------

    def register_topic(self, name: str, path: str, format: str = "parquet") -> Relation:
        """Register a raw storage location as a TOPIC (no schema binding).

        ksqlDB topics are Kafka topics; the Spark analog is the physical
        dataset a stream/table is bound to (a parquet dir).
        """
        return self.register(Relation(name=name, ref=Ref.TOPIC, path=path, format=format))

    def list_topics(self) -> list[dict[str, Any]]:
        """SHOW TOPICS: every registered TOPIC plus the backing storage of
        every stream/table (each relation has a backing 'topic', like every
        ksqlDB relation has a Kafka topic).  Replica info maps to the file
        count of the location — driver-side listing, no data read."""
        seen: dict[str, dict[str, Any]] = {}
        for rel in self._relations.values():
            if rel.ref == Ref.TOPIC:
                tname = rel.name
            else:
                tname = rel.metadata.get("topic", os.path.basename(rel.path.rstrip("/")))
            if tname not in seen:
                seen[tname] = {
                    "name": tname,
                    "path": rel.path,
                    "partitions": self._location_file_count(rel.path),
                }
        return sorted(seen.values(), key=lambda t: t["name"])

    def describe_topic(self, name: str) -> dict[str, Any]:
        """Topic metadata: location, format, file count, total bytes."""
        for t in self.list_topics():
            if t["name"] == name:
                path = t["path"]
                n_bytes = 0
                if os.path.isdir(path):
                    for root, _, files in os.walk(path):
                        n_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
                elif os.path.isfile(path):
                    n_bytes = os.path.getsize(path)
                return {**t, "bytes": n_bytes}
        raise CatalogError(f"unknown topic {name!r}")

    @staticmethod
    def _location_file_count(path: str) -> int:
        if os.path.isdir(path):
            return sum(1 for f in os.listdir(path) if not f.startswith(("_", ".")))
        return 1 if os.path.exists(path) else 0

    def drop(self, name: str) -> None:
        """DROP + the QUERYABLE_ twin, like tables/specification.go:127-206."""
        key = name.lower()
        if key not in self._relations:
            raise CatalogError(f"unknown relation {name!r}")
        del self._relations[key]
        twin = (QUERYABLE_PREFIX + name).lower()
        self._relations.pop(twin, None)

    # -- pre-flight schema check (reflection report analog) -----------------

    def check_schema(self, name: str, declared: list[SchemaField]) -> None:
        """Declared fields must agree with the catalog schema by name+type.

        Reference: CompareWithFields (internal/schema/inspector.go:47-60).
        """
        rel = self.get(name)
        schema = rel.schema or self.read(name).schema
        by_name = {f.name.lower(): f for f in schema.fields}
        for d in declared:
            actual = by_name.get(d.name.lower())
            if actual is None:
                raise SchemaError(f"{name}: declared field {d.name!r} not in relation schema")
            from ..types import from_spark

            if from_spark(actual.dataType) != d.ktype:
                raise SchemaError(
                    f"{name}.{d.name}: declared {d.ktype.value}, "
                    f"relation has {actual.dataType.simpleString()}"
                )

    # -- physical IO ---------------------------------------------------------

    def read(self, name: str) -> DataFrame:
        """Batch snapshot read of a relation."""
        rel = self.get(name)
        sink = rel.metadata.get("sink")
        if sink is not None:
            # persistent-query output: committed changelog epochs only
            if rel.ref == Ref.TABLE and rel.metadata.get("state_keys"):
                return sink.read_latest_state(self.spark, rel.metadata["state_keys"])
            return sink.read_data(self.spark)
        if rel.format == "bucketed_table":
            return self.spark.read.table(rel.path)
        # a declared schema is read as-is, like read_stream: no inference
        # job, and a created relation nobody inserted into reads as empty
        reader = self.spark.read
        if rel.schema is not None:
            reader = reader.schema(rel.schema)
        return reader.parquet(self._data_glob(rel))

    def arrow_source(self, name: str) -> ArrowSource:
        """The relation's files and Spark schema for an in-process read,
        found without a Spark job: a sink-backed relation's committed epochs
        (the files Spark's read of it lists), or a parquet relation's files.
        Raises :class:`ArrowUnserved` for a relation that reader cannot
        mirror: a bucketed table, a parquet TABLE outside a sink, a sink with
        no committed file, a directory with subdirectories (Spark reads
        those as partitions), or a schema no footer or declaration gives."""
        rel = self.get(name)
        sink = rel.metadata.get("sink")
        if sink is not None:
            epochs = sink.committed_files()
            first = next((f for files in epochs for f in files), None)
            if first is None:
                raise ArrowUnserved(f"{name} has no committed file")
            schema = _spark_schema(pq.read_schema(first).metadata)
            schema = T.StructType([f for f in schema.fields if f.name not in LINEAGE_COLUMNS])
            keys = rel.metadata.get("state_keys") if rel.ref == Ref.TABLE else None
            if keys:
                by_name = {f.name.lower(): f.name for f in schema.fields}
                if any(k.lower() not in by_name for k in keys):
                    raise ArrowUnserved(f"{name}: keys {keys} are not all in {schema.names}")
                keys = [by_name[k.lower()] for k in keys]
            return ArrowSource(schema, epochs, keys or None)
        if rel.format != "parquet" or rel.ref != Ref.STREAM:
            raise ArrowUnserved(f"{name} is a {rel.format} {rel.ref.value}")
        if os.path.isfile(rel.path):
            files = [rel.path]
        elif os.path.isdir(rel.path):
            entries = sorted(f for f in os.listdir(rel.path) if not f.startswith(("_", ".")))
            files = [os.path.join(rel.path, f) for f in entries]
            if any(os.path.isdir(f) for f in files):
                raise ArrowUnserved(f"{rel.path} has subdirectories")
        else:
            raise ArrowUnserved(f"{rel.path} does not exist")
        if rel.schema is not None:
            return ArrowSource(rel.schema, [files])
        if not files:
            raise ArrowUnserved(f"{name} has no file to take a schema from")
        return ArrowSource(_spark_schema(pq.read_schema(files[0]).metadata), [files], uniform=True)

    def read_stream(self, name: str, max_files_per_trigger: int | None = None) -> DataFrame:
        """Unbounded streaming read (STREAM relations).  A batch takes at
        most ``max_files_per_trigger`` new files, by default the relation's
        ``metadata["max_files_per_trigger"]``, else 16."""
        rel = self.get(name)
        if rel.ref == Ref.TABLE:
            raise CatalogError(f"{name} is a TABLE; use read() for its snapshot")
        schema = rel.schema or self.spark.read.parquet(self._data_glob(rel)).schema
        path = self._data_glob(rel)
        if os.path.isfile(path):
            # Spark's file stream source requires a directory; stage single
            # parquet files behind a symlink dir (zero-copy)
            import tempfile

            staged = rel.metadata.get("__staged_dir")
            if staged is None or not os.path.isdir(staged):
                staged = tempfile.mkdtemp(prefix=f"ksql_stream_{rel.name.lower()}_")
                os.symlink(os.path.abspath(path), os.path.join(staged, os.path.basename(path)))
                rel.metadata["__staged_dir"] = staged
            path = staged
        return (
            self.spark.readStream.schema(schema)
            .option(
                "maxFilesPerTrigger",
                max_files_per_trigger or rel.metadata.get("max_files_per_trigger", 16),
            )
            .parquet(path)
        )

    def _data_glob(self, rel: Relation) -> str:
        return rel.path

    def insertable(self, name: str) -> Relation:
        """The relation an INSERT may write into.  A TABLE is refused, and so
        is a persistent query's output: its readers see committed epochs
        only, so rows written beside them would be lost."""
        rel = self.get(name)
        if rel.ref == Ref.TABLE:
            raise CatalogError(f"INSERT into TABLE {name} is not supported")
        if rel.metadata.get("sink") is not None:
            raise CatalogError(
                f"INSERT into {name} is not supported: it is the output of a persistent "
                f"query, whose readers see only the epochs the query commits"
            )
        return rel

    def append(self, name: str, data: DataFrame | pa.Table) -> None:
        """INSERT-style append (ksql/insert_builder.go runtime path).

        A DataFrame (``INSERT ... AS SELECT``) is written by a Spark job.  An
        Arrow table (``INSERT ... VALUES``, already in the relation's Arrow
        schema) is written in-process as one parquet file: first under a
        hidden ``.``-prefixed name, which Spark's batch and file-stream
        listings skip, then renamed to its ``part-`` name in one atomic step,
        so a reader sees all of the rows or none."""
        rel = self.insertable(name)
        if isinstance(data, DataFrame):
            data.write.mode("append").parquet(rel.path)
            return
        os.makedirs(rel.path, exist_ok=True)
        part = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(rel.path, f".{part}")
        pq.write_table(data, tmp)
        os.rename(tmp, os.path.join(rel.path, part))


def _spark_schema(metadata: dict | None) -> T.StructType:
    """The Spark schema Spark wrote into a parquet footer's ``metadata``."""
    raw = (metadata or {}).get(SPARK_ROW_METADATA)
    if raw is None:
        raise ArrowUnserved("a parquet file has no Spark schema")
    return T.StructType.fromJson(json.loads(raw))
