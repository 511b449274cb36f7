"""Which pulls and inserts run in-process on Arrow, and which on Spark.

A classic pull (plain columns, a conjunction of ``<column> <op> <literal>``
on a string, integral or boolean column; on a sink-backed TABLE only on its
keys) and an ``INSERT ... VALUES`` start no Spark job.  Every other shape
still runs on Spark and returns the rows ``compile_select(...).collect()``
returns.  Jobs are counted by the ``count_jobs`` fixture (conftest.py).
"""

from __future__ import annotations

import datetime
import os

import pytest

from ksql_spark import (
    STREAM,
    TABLE,
    Catalog,
    CatalogError,
    Count,
    Create,
    F,
    Insert,
    KType,
    Schema,
    SchemaField,
    Select,
)
from ksql_spark.operators.compile import compile_select
from ksql_spark.streaming.engine import PersistentQueryManager


@pytest.fixture(scope="module")
def pulls(spark, tmp_path_factory):
    """A created STREAM ``notes`` with rows inserted, and a TABLE ``counts``
    (``QUERYABLE_counts`` too) materialised from it in two epochs."""
    root = str(tmp_path_factory.mktemp("routing"))
    cat = Catalog(spark, root=f"{root}/cat")
    mgr = PersistentQueryManager(spark, cat, workdir=f"{root}/eng")
    cat.create(
        Create(STREAM, "notes").SchemaFields(
            SchemaField("conv_id", KType.STRING),
            SchemaField("note_idx", KType.INT),
            SchemaField("score", KType.DOUBLE),
            SchemaField("ts", KType.TIMESTAMP),
        )
    )

    def note(i, conv):
        return {"conv_id": conv, "note_idx": i, "score": i / 2, "ts": datetime.datetime(2026, 1, 1, 0, i)}

    mgr.insert(Insert(STREAM, "notes").Rows(*[note(i, f"c{i % 3}") for i in range(9)]))
    mgr.insert(Insert(STREAM, "notes").Rows(note(9, "c9")))
    mgr.create_as_select(
        Create(TABLE, "counts").AsSelect(
            Select(F("conv_id"), Count(F("note_idx")).Alias("n"))
            .From(Schema("notes", STREAM))
            .GroupBy(F("conv_id"))
            .EmitChanges()
        ),
        max_files_per_trigger=1,
    )
    assert len(cat.get("counts").metadata["sink"].committed_batches()) == 2
    return mgr


def _spark_rows(mgr, sb):
    return compile_select(sb, spark=mgr.spark, catalog=mgr.catalog).collect()


def _same(got, want):
    assert sorted(got) == sorted(want)
    assert [r.__fields__ for r in got[:1]] == [r.__fields__ for r in want[:1]]


IN_PROCESS = {
    "table_key_pull": Select("conv_id", "n").From(Schema("counts", TABLE)).Where(F("conv_id").Equal("c1")),
    "queryable_key_in": Select(F("n").Alias("N"), "CONV_ID")
    .From(Schema("QUERYABLE_counts", TABLE))
    .Where(F("conv_id").In("c0", "c9", "missing")),
    "stream_filtered_pull": Select("conv_id", "note_idx", "score", "ts")
    .From(Schema("notes", STREAM))
    .Where(F("conv_id").Equal("c2"), F("note_idx").Less(8)),
    "stream_unfiltered_pull": Select("note_idx").From(Schema("notes", STREAM)),
}

ON_SPARK = {
    "value_column_range": Select("conv_id", "n").From(Schema("counts", TABLE)).Where(F("n").GreaterEq(3)),
    "float_equality": Select("conv_id", "note_idx").From(Schema("notes", STREAM)).Where(F("score").Equal(1.5)),
    # (a comparison with a bare NULL folds to an empty relation: no job)
    "none_literal": Select("conv_id").From(Schema("notes", STREAM)).Where(F("conv_id").In("c0", None)),
    "qualified_field": Select(F("notes.conv_id")).From(Schema("notes", STREAM)).Where(F("note_idx").Less(2)),
    "order_by_limit": Select("conv_id", "note_idx")
    .From(Schema("notes", STREAM))
    .Where(F("conv_id").Equal("c0"))
    .OrderBy(F("note_idx").Desc())
    .Limit(2),
}


@pytest.mark.parametrize("shape", list(IN_PROCESS))
def test_classic_pull_starts_no_spark_job(count_jobs, pulls, shape):
    sb = IN_PROCESS[shape]
    got, jobs = count_jobs(lambda: pulls.select_once(sb))
    assert jobs == 0
    _same(got, _spark_rows(pulls, sb))


@pytest.mark.parametrize("shape", list(ON_SPARK))
def test_other_pulls_run_on_spark(count_jobs, pulls, shape):
    sb = ON_SPARK[shape]
    got, jobs = count_jobs(lambda: pulls.select_once(sb))
    assert jobs > 0
    want = _spark_rows(pulls, sb)
    if sb.order_by:
        assert got == want and [r.note_idx for r in got] == [6, 3]
    else:
        _same(got, want)


def test_stream_over_created_stream_sees_each_insert_once(spark, workdir):
    """A persistent query over a created STREAM reads each VALUES insert
    exactly once across a resume: a file appears under its final name only
    when it is whole, and a hidden name is never listed."""
    cat = Catalog(spark, root=f"{workdir}/cat")
    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/eng")
    cat.create(Create(STREAM, "ev").SchemaFields(SchemaField("id", KType.BIGINT)))

    def insert(*ids):
        mgr.insert(Insert(STREAM, "ev").Rows(*[{"id": i} for i in ids]))

    insert(1, 2)
    insert(3)
    mgr.create_as_select(
        Create(STREAM, "ev_copy").AsSelect(Select("id").From(Schema("ev", STREAM))),
        max_files_per_trigger=1,
    )
    insert(4, 5)
    # a writer's half-done file: hidden until its rename
    with open(os.path.join(cat.get("ev").path, ".part-unfinished.parquet"), "wb") as fh:
        fh.write(b"PAR1")
    mgr.resume("ev_copy")
    mgr.resume("ev_copy")
    rows = mgr.select_once(Select("id").From(Schema("ev_copy", STREAM)))
    assert sorted(r.id for r in rows) == [1, 2, 3, 4, 5]
    assert len(cat.get("ev_copy").metadata["sink"].committed_batches()) == 3


def test_insert_into_query_output_is_refused(spark, workdir):
    """INSERT into a persistent query's output would land beside its epoch
    directories, where no committed-epoch reader sees it: it is refused by
    name, and nothing is written."""
    cat = Catalog(spark, root=f"{workdir}/cat")
    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/eng")
    cat.create(
        Create(STREAM, "A").SchemaFields(SchemaField("id", KType.BIGINT), SchemaField("v", KType.STRING))
    )
    mgr.insert(Insert(STREAM, "A").Rows({"id": 1, "v": "a"}))
    mgr.create_as_select(Create(STREAM, "S1").AsSelect(Select("id", "v").From(Schema("A", STREAM))))
    data_dir = cat.get("S1").path
    before = sorted(os.listdir(data_dir))
    with pytest.raises(CatalogError, match="INSERT into S1"):
        mgr.insert(Insert(STREAM, "S1").Rows({"id": 2, "v": "b"}))
    with pytest.raises(CatalogError, match="INSERT into S1"):
        mgr.insert(Insert(STREAM, "S1").AsSelect(Select("id", "v").From(Schema("A", STREAM))))
    assert sorted(os.listdir(data_dir)) == before
    assert [tuple(r) for r in mgr.select_once(Select("id", "v").From(Schema("S1", STREAM)))] == [(1, "a")]


def test_registered_stream_without_schema_pulls_in_process(spark, workdir, count_jobs):
    """A parquet STREAM registered without a schema takes Spark's footer
    schema; a VALUES insert writes the same schema into its file, so the
    pull still needs no job, and a file of other columns sends it to Spark."""
    path = f"{workdir}/reg"
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    cat = Catalog(spark, root=f"{workdir}/cat")
    cat.register_parquet("reg", path, ref=STREAM)
    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/eng")
    mgr.insert(Insert(STREAM, "reg").Rows({"id": 2, "v": "b"}))
    sb = Select("id", "v").From(Schema("reg", STREAM)).Where(F("id").Greater(0))
    got, jobs = count_jobs(lambda: mgr.select_once(sb))
    assert jobs == 0
    _same(got, _spark_rows(mgr, sb))
    spark.createDataFrame([(3, 1.5)], "id long, v double").write.mode("append").parquet(path)
    assert mgr._pull_in_process(sb) is None
