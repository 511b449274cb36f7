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
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..builder import Ref
from ..errors import CatalogError, SchemaError
from ..types import SchemaField, fields_to_struct

QUERYABLE_PREFIX = "QUERYABLE_"  # reference: consts/consts.go:17


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

    def read_stream(self, name: str) -> DataFrame:
        """Unbounded streaming read (STREAM relations)."""
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
            .option("maxFilesPerTrigger", rel.metadata.get("max_files_per_trigger", 16))
            .parquet(path)
        )

    def _data_glob(self, rel: Relation) -> str:
        return rel.path

    def append(self, name: str, df: DataFrame) -> None:
        """INSERT-style append (ksql/insert_builder.go runtime path)."""
        rel = self.get(name)
        if rel.ref == Ref.TABLE:
            raise CatalogError(f"INSERT into TABLE {name} is not supported")
        df.write.mode("append").parquet(rel.path)
