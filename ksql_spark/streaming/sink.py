"""Exactly-once changelog sink.

Structured Streaming's ``foreachBatch`` gives at-least-once epoch delivery:
after a crash between "batch written" and "offsets committed", the same
``batch_id`` is re-delivered.  Exactly-once therefore needs an idempotent,
atomic commit per epoch.  The sink gets it from a parquet layout that is
idempotent by construction:

    <root>/data/__batch_id=<epoch>/part-*.parquet   (one dir per epoch)
    <root>/_commits/<epoch>.json                    (atomic rename marker)

* Re-delivered epoch with marker present  -> skipped entirely (dedup).
* Re-delivered epoch without marker       -> dir overwritten, then marker
  written via ``os.rename`` (atomic on POSIX).  Partial dirs without a
  marker are invisible to readers.
* Readers union only committed epoch dirs.  There are two readers, and both
  list the epochs through :meth:`committed_batches`: Spark's
  (:meth:`read`, :meth:`read_data`, :meth:`read_latest_state`) and the
  in-process Arrow reader of a pull query (:meth:`committed_files`, with
  :meth:`latest_rows` as the Arrow twin of the latest-row-per-key view).

The changelog carries lineage columns (``__batch_id``, ``__op``) per the
north rule; per-partition row counts are recorded in every commit marker, so
each epoch's provenance (which partition produced how many rows) commits
atomically with its data and survives restarts.  :meth:`lineage` reads the
markers back.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OP_UPSERT = "U"
OP_APPEND = "A"
OP_DELETE = "D"
LINEAGE_COLUMNS = ("__op", "__part_id", "__batch_id")


class ExactlyOnceParquetSink:
    """Idempotent per-epoch parquet changelog writer."""

    def __init__(self, root: str, op: str = OP_APPEND):
        self.root = root
        self.op = op
        # (key, frame) of the last read_latest_state, where key is
        # (session, committed epochs, key columns)
        self._state: tuple[tuple, DataFrame] | None = None
        self._state_lock = threading.Lock()
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.commit_dir, exist_ok=True)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, "data")

    @property
    def commit_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    def _batch_path(self, batch_id: int) -> str:
        return os.path.join(self.data_dir, f"__batch_id={batch_id}")

    def _marker_path(self, batch_id: int) -> str:
        return os.path.join(self.commit_dir, f"{batch_id}.json")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker_path(batch_id))

    def committed_batches(self) -> list[int]:
        if not os.path.isdir(self.commit_dir):
            return []
        return sorted(
            int(f[: -len(".json")]) for f in os.listdir(self.commit_dir) if f.endswith(".json")
        )

    def committed_files(self) -> list[list[str]]:
        """The data files of each committed epoch, in epoch order: the files
        Spark's :meth:`read` scans (hidden ``_``/``.`` names skipped, as its
        listing skips them), for a reader that runs without a Spark job."""
        out = []
        for batch_id in self.committed_batches():
            path = self._batch_path(batch_id)
            names = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
            out.append([os.path.join(path, f) for f in names])
        return out

    # -- foreachBatch entry point -------------------------------------------

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            # Epoch re-delivery after restart: the data is already durable so
            # the sink write is skipped (idempotency), but the batch must
            # still be fully consumed — on Spark 4.x every state-store
            # partition has to commit for the epoch or the resumed query dies
            # with STATE_STORE_COMMIT_VALIDATION_FAILED.  The noop format
            # drains every partition without producing output.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        path = self._batch_path(batch_id)
        if os.path.exists(path):
            shutil.rmtree(path)  # partial write from a crashed attempt

        # operators that emit their own per-row ops (e.g. session-merge
        # tombstones, __op='D') keep them; otherwise stamp the sink's op
        if "__op" in batch_df.columns:
            out = batch_df
        else:
            out = batch_df.withColumn("__op", F.lit(self.op))
        out.write.mode("overwrite").parquet(path)
        # Per-partition lineage from the parquet footers of the files just
        # written — metadata-only reads (no second pass over the data, unlike
        # a re-read + groupBy which would double sink I/O every epoch).  The
        # writer task index embedded in each part file name IS the partition.
        partitions = self._file_lineage(path)

        marker = {
            "batch_id": batch_id,
            "committed_at": time.time(),
            "op": self.op,
            "partitions": partitions,
            "rows": sum(r["rows"] for r in partitions),
        }
        tmp = self._marker_path(batch_id) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(marker, fh)
        os.rename(tmp, self._marker_path(batch_id))  # atomic commit point

    def _file_lineage(self, path: str) -> list[dict]:
        """Per-partition row counts from parquet footers (metadata-only)."""
        import pyarrow.parquet as pq

        rows: list[dict] = []
        for f in sorted(os.listdir(path)):
            if f.startswith("part-") and f.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(path, f)).metadata
                rows.append({"partition": int(f.split("-")[1]), "rows": meta.num_rows})
        return rows

    def written_columns(self) -> list[str] | None:
        """Column names of the newest committed epoch that wrote a file,
        from its parquet footer (metadata-only); None before any."""
        import pyarrow.parquet as pq

        for batch_id in reversed(self.committed_batches()):
            path = self._batch_path(batch_id)
            if not os.path.isdir(path):
                continue
            parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
            if parts:
                return pq.read_schema(os.path.join(path, parts[0])).names
        return None

    def lineage(self) -> list[dict]:
        """Commit markers in epoch order: ``batch_id``, ``committed_at``,
        ``op``, ``partitions`` (``[{"partition", "rows"}]``) and ``rows``
        (0 for an epoch that wrote no file)."""
        markers = []
        for batch_id in self.committed_batches():
            with open(self._marker_path(batch_id)) as fh:
                markers.append(json.load(fh))
        return markers

    # -- reading back ----------------------------------------------------------

    def read(self, spark: SparkSession, batches: list[int] | None = None) -> DataFrame:
        """Union of committed epochs only (uncommitted dirs are invisible).
        ``batches`` is a committed-epoch listing the caller already made."""
        if batches is None:
            batches = self.committed_batches()
        if not batches:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        paths = [self._batch_path(b) for b in batches]
        return spark.read.option("basePath", self.data_dir).parquet(*paths)

    def read_data(self, spark: SparkSession) -> DataFrame:
        """Committed rows without lineage columns (parity-comparison view)."""
        df = self.read(spark)
        drop = [c for c in LINEAGE_COLUMNS if c in df.columns]
        return df.drop(*drop)

    def read_latest_state(self, spark: SparkSession, keys: list[str]) -> DataFrame:
        """Materialized TABLE view: latest row per key across the changelog.

        This is the QUERYABLE_<name> projection (reference:
        tables/specification.go:323-355) — derived from the changelog, the
        stream/table duality made literal.  One hash-agg over the changelog.

        The frame is kept and served again while the committed epochs stay
        the same.  The first call at a new epoch set builds it unpersisted,
        so a point lookup's key filter still reaches the parquet scan, and a
        table that commits between pulls never pays for caching; a second
        call at the same epochs persists it, and later pulls on the
        unchanged table scan cached state.  A new epoch set unpersists the
        old frame; :meth:`release` drops it.
        """
        with self._state_lock:
            # listed under the lock, so the slot only moves to newer epochs
            batches = self.committed_batches()
            key = (spark, tuple(batches), tuple(keys))
            if self._state is not None and self._state[0] == key:
                state = self._state[1]
                if not state.is_cached:
                    state.persist()
                return state
            # unpersist first: the cache manager is shared by every session,
            # and an equal plan cached twice would be one cache entry
            self._release_locked()
            state = self._latest_state(self.read(spark, batches), keys)
            self._state = (key, state)
            return state

    def release(self) -> None:
        """Forget the latest state, unpersisting it if it was cached."""
        with self._state_lock:
            self._release_locked()

    def _release_locked(self) -> None:
        if self._state is not None and self._state[1].is_cached:
            self._state[1].unpersist()
        self._state = None

    @staticmethod
    def _latest_state(df: DataFrame, keys: list[str]) -> DataFrame:
        value_cols = [c for c in df.columns if c not in keys and c not in LINEAGE_COLUMNS]
        # update-mode changelogs emit at most one row per key per epoch, so
        # the epoch id is a total order per key; carry __op so tombstones
        # ('D', emitted when e.g. two sessions merge) retract the key
        agg = [
            F.max_by(
                F.struct(*value_cols, F.col("__op").alias("__op")),
                F.col("__batch_id").cast("long"),
            ).alias("__v")
        ]
        out = df.groupBy(*[F.col(k) for k in keys]).agg(*agg)
        out = out.filter(F.col("__v.__op") != OP_DELETE)
        return out.select(*keys, *[F.col(f"__v.{c}").alias(c) for c in value_cols])

    @staticmethod
    def latest_rows(epochs: list[pa.Table], keys: list[str]) -> pa.Table:
        """:meth:`_latest_state` on Arrow: ``epochs`` holds rows of each
        committed epoch in epoch order, each with an ``__op`` column.  Per
        key (NULL is a key, as in Spark's ``groupBy``) the row of the latest
        epoch is kept, then ``'D'`` tombstones are dropped; ``__op`` is
        removed."""
        table = pa.concat_tables(epochs)
        n = table.num_rows
        if n:
            # one code per row that orders rows by epoch: its max per key
            # is the latest row, and the code modulo n is the row's position
            epoch = np.repeat(np.arange(len(epochs), dtype=np.int64), [t.num_rows for t in epochs])
            code = pa.array(epoch * n + np.arange(n, dtype=np.int64))
            latest = (
                table.select(keys)
                .append_column("__code", code)
                .group_by(keys, use_threads=False)
                .aggregate([("__code", "max")])
            )
            table = table.take(latest.column("__code_max").to_numpy() % n)
        table = table.filter(pc.not_equal(table.column("__op"), OP_DELETE))
        return table.drop_columns(["__op"])

