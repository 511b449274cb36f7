"""Catalog: LIST/DESCRIBE/DROP, QUERYABLE twin, pre-flight schema checks
(reference: §2.1 DDL surface + §2.10 reflection linter)."""

from __future__ import annotations

import datetime
import os
import time

import pytest

from ksql_spark import (
    STREAM,
    TABLE,
    Catalog,
    CatalogError,
    Create,
    Insert,
    KType,
    SchemaError,
    SchemaField,
)
from ksql_spark.sources.catalog import QUERYABLE_PREFIX, Relation


@pytest.fixture()
def cat(spark, workdir):
    return Catalog(spark, root=workdir)


def test_create_list_describe_drop(cat):
    cb = Create(STREAM, "example_stream").SchemaFields(
        SchemaField("ID", KType.INT), SchemaField("TOKEN", KType.BYTES)
    )
    rel = cat.create(cb)
    assert rel.ref == STREAM
    assert [r.name for r in cat.list(STREAM)] == ["example_stream"]

    d = cat.describe("example_stream")
    assert d["kind"] == "STREAM"
    assert d["fields"] == [
        {"name": "ID", "type": "int", "primary": False},
        {"name": "TOKEN", "type": "binary", "primary": False},
    ]

    cat.drop("example_stream")
    assert not cat.exists("example_stream")
    with pytest.raises(CatalogError):
        cat.get("example_stream")


def test_create_table_with_primary_key(cat):
    cb = Create(TABLE, "example_table").SchemaFields(
        SchemaField("ID", KType.INT, is_primary=True), SchemaField("NAME", KType.STRING)
    )
    rel = cat.create(cb)
    assert rel.primary_key == "ID"
    d = cat.describe("example_table")
    assert d["fields"][0]["primary"] is True


def test_duplicate_relation_rejected(cat):
    cb = Create(STREAM, "s1").SchemaFields(SchemaField("a", KType.INT))
    cat.create(cb)
    with pytest.raises(CatalogError, match="already exists"):
        cat.create(Create(STREAM, "S1").SchemaFields(SchemaField("a", KType.INT)))


def test_drop_removes_queryable_twin(cat, spark):
    cat.register(Relation(name="t", ref=TABLE, path="/nonexistent"))
    cat.register(Relation(name=QUERYABLE_PREFIX + "t", ref=TABLE, path="/nonexistent"))
    cat.drop("t")
    assert not cat.exists("t")
    assert not cat.exists(QUERYABLE_PREFIX + "t")


def test_schema_preflight_check(cat, spark, workdir):
    df = spark.createDataFrame([(1, "x")], "id int, name string")
    p = f"{workdir}/rel"
    df.write.parquet(p)
    cat.register_parquet("rel", p)
    cat.check_schema("rel", [SchemaField("id", KType.INT), SchemaField("name", KType.STRING)])
    with pytest.raises(SchemaError, match="not in relation"):
        cat.check_schema("rel", [SchemaField("missing", KType.INT)])
    with pytest.raises(SchemaError, match="declared"):
        cat.check_schema("rel", [SchemaField("id", KType.STRING)])


def test_insert_rows_and_read_back(cat, spark, workdir):
    cb = Create(STREAM, "tx").SchemaFields(
        SchemaField("ID", KType.BIGINT), SchemaField("AMOUNT", KType.DOUBLE)
    )
    cat.create(cb)
    from ksql_spark.streaming.engine import PersistentQueryManager

    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/e")
    mgr.insert(Insert(STREAM, "tx").Rows({"ID": 1, "AMOUNT": 9.5}, {"ID": 2, "AMOUNT": 1.25}))
    rows = sorted(map(tuple, cat.read("tx").collect()))
    assert rows == [(1, 9.5), (2, 1.25)]


def test_insert_struct(cat, spark, workdir):
    class Tx:
        def __init__(self):
            self.ID = 7
            self.AMOUNT = 3.5

    cat.create(
        Create(STREAM, "tx2").SchemaFields(
            SchemaField("ID", KType.BIGINT), SchemaField("AMOUNT", KType.DOUBLE)
        )
    )
    from ksql_spark.streaming.engine import PersistentQueryManager

    mgr = PersistentQueryManager(spark, cat, workdir=f"{workdir}/e2")
    mgr.insert(Insert(STREAM, "tx2").InsertStruct(Tx()))
    assert [tuple(r) for r in cat.read("tx2").collect()] == [(7, 3.5)]


def test_read_stream_on_table_rejected(cat, spark, workdir):
    df = spark.createDataFrame([(1,)], "id int")
    p = f"{workdir}/tbl"
    df.write.parquet(p)
    cat.register_parquet("tbl", p, ref=TABLE)
    with pytest.raises(CatalogError, match="TABLE"):
        cat.read_stream("tbl")


def test_topic_surface(spark, tmp_path):
    """SHOW TOPICS / DESCRIBE topic (reference: topics/specification.go:17-54)."""
    from ksql_spark import STREAM, Catalog

    p = str(tmp_path / "raw_events")
    spark.range(10).write.parquet(p)
    cat = Catalog(spark, root=str(tmp_path / "cat"))
    cat.register_topic("raw_events_topic", p)
    cat.register_parquet("ev", p, ref=STREAM)
    topics = cat.list_topics()
    names = {t["name"] for t in topics}
    assert "raw_events_topic" in names and "raw_events" in names
    d = cat.describe_topic("raw_events_topic")
    assert d["bytes"] > 0 and d["partitions"] >= 1


def _stream_with_manager(cat, spark, workdir, name, *fields):
    from ksql_spark.streaming.engine import PersistentQueryManager

    cat.create(Create(STREAM, name).SchemaFields(*fields))
    return PersistentQueryManager(spark, cat, workdir=f"{workdir}/{name}_e")


@pytest.fixture()
def tx_mgr(cat, spark, workdir):
    return _stream_with_manager(
        cat, spark, workdir, "tx", SchemaField("ID", KType.BIGINT), SchemaField("AMOUNT", KType.DOUBLE)
    )


def test_insert_unknown_column_rejected(cat, tx_mgr):
    """A row key must name a column exactly: a mis-cased key is not
    silently dropped with NULL written in its place."""
    with pytest.raises(SchemaError, match=r"INSERT into tx: column 'id' is not in its schema"):
        tx_mgr.insert(Insert(STREAM, "tx").Rows({"id": 1, "AMOUNT": 1.0}))
    assert cat.read("tx").count() == 0


def test_insert_value_of_wrong_type_rejected(cat, tx_mgr):
    with pytest.raises(SchemaError, match="FIELD_DATA_TYPE_UNACCEPTABLE"):
        tx_mgr.insert(Insert(STREAM, "tx").Rows({"ID": 1, "AMOUNT": "1.0"}))
    with pytest.raises(SchemaError, match="FIELD_DATA_TYPE_UNACCEPTABLE"):
        tx_mgr.insert(Insert(STREAM, "tx").Rows({"ID": 1.5, "AMOUNT": 1.0}))
    assert cat.read("tx").count() == 0


def test_insert_missing_column_writes_null(cat, tx_mgr):
    tx_mgr.insert(Insert(STREAM, "tx").Rows({"ID": 1}, {"AMOUNT": 2.5}))
    assert sorted(map(tuple, cat.read("tx").collect()), key=str) == [(1, None), (None, 2.5)]


def test_empty_created_stream_pulls_empty(cat, spark, workdir):
    from ksql_spark import F, Schema, Select

    mgr = _stream_with_manager(cat, spark, workdir, "quiet", SchemaField("ID", KType.BIGINT))
    assert mgr.select_once(Select(F("ID")).From(Schema("quiet", STREAM))) == []


def test_insert_as_select_must_match_declared_types(cat, spark, workdir, tx_mgr):
    """A stream is read with its declared schema, so an AS SELECT yielding a
    wider type is rejected rather than written as a file no pull can read."""
    from ksql_spark import F, Schema, Select

    tx_mgr.insert(Insert(STREAM, "tx").Rows({"ID": 1, "AMOUNT": 2.5}))
    q = Select(F("ID"), F("AMOUNT")).From(Schema("tx", STREAM))
    mgr = _stream_with_manager(
        cat, spark, workdir, "narrow", SchemaField("ID", KType.INT), SchemaField("AMOUNT", KType.DOUBLE)
    )
    with pytest.raises(SchemaError, match=r"INSERT into narrow: the query yields .*ID:bigint"):
        mgr.insert(Insert(STREAM, "narrow").AsSelect(q))
    assert mgr.select_once(Select(F("ID"), F("AMOUNT")).From(Schema("narrow", STREAM))) == []

    same = Create(STREAM, "same").SchemaFields(
        SchemaField("ID", KType.BIGINT), SchemaField("AMOUNT", KType.DOUBLE)
    )
    cat.create(same)
    mgr.insert(Insert(STREAM, "same").AsSelect(q))
    got = mgr.select_once(Select(F("ID"), F("AMOUNT")).From(Schema("same", STREAM)))
    assert [tuple(r) for r in got] == [(1, 2.5)]


# INSERT values per KType: edge values, empty collections, bytes and bytearray,
# naive and tz-aware timestamps (the naive ones across a DST change)
_UTC_PLUS_5 = datetime.timezone(datetime.timedelta(hours=5))
_VALUES = {
    KType.BOOL: [True, False],
    KType.INT: [0, -(2**31), 2**31 - 1],
    KType.BIGINT: [-(2**63), 2**63 - 1, 7],
    KType.DOUBLE: [1.5, -0.0, 1e300, float("inf")],
    KType.STRING: ["", "abc", "ünïcode ✓"],
    KType.BYTES: [b"\x00\xff", bytearray(b"ab")],
    KType.TIMESTAMP: [
        datetime.datetime(2024, 1, 1, 12),
        datetime.datetime(2024, 7, 1, 12, 30, 15, 123456),
        datetime.datetime(2024, 1, 1, 12, tzinfo=datetime.timezone.utc),
        datetime.datetime(2024, 1, 1, 12, tzinfo=_UTC_PLUS_5),
    ],
    KType.ARR_BOOL: [[True, False], []],
    KType.ARR_INT: [[1, -2], ()],
    KType.ARR_BIGINT: [[2**40]],
    KType.ARR_DOUBLE: [[1.25, -3.5]],
    KType.ARR_STRING: [["x", ""], []],
    KType.ARR_BYTES: [[b"a", bytearray(b"\x01")]],
    KType.ARR_FLOAT: [[1.1, 2.2, -0.5]],
    KType.MAP_BOOL: [{"k": True}, {}],
    KType.MAP_INT: [{"a": 1, "b": -1}],
    KType.MAP_BIGINT: [{"a": 2**50}],
    KType.MAP_DOUBLE: [{"a": 0.1}],
    KType.MAP_STRING: [{"a": "b", "": "c"}],
    KType.MAP_BYTES: [{"a": b"\x00"}],
}


@pytest.fixture()
def new_york_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def test_insert_values_cover_every_ktype():
    assert set(_VALUES) == set(KType)


@pytest.mark.parametrize("ktype", list(KType), ids=lambda k: k.name)
def test_insert_matches_create_dataframe_per_ktype(cat, spark, workdir, new_york_tz, ktype):
    """INSERT ... VALUES writes what spark.createDataFrame(rows, schema)
    holds, type by type, under a process time zone other than UTC (a naive
    datetime is local time there, as it is for createDataFrame)."""
    mgr = _stream_with_manager(
        cat, spark, workdir, "vals", SchemaField("ID", KType.INT), SchemaField("V", ktype)
    )
    rows = [{"ID": i, "V": v} for i, v in enumerate(_VALUES[ktype])] + [{"ID": -1}]
    mgr.insert(Insert(STREAM, "vals").Rows(*rows))
    got = sorted(cat.read("vals").collect())
    want = sorted(spark.createDataFrame(rows, schema=cat.get("vals").schema).collect())
    assert got == want


def test_insert_naive_timestamp_is_local_time(cat, spark, workdir, new_york_tz):
    from pyspark.sql import functions as Fn

    mgr = _stream_with_manager(cat, spark, workdir, "at", SchemaField("TS", KType.TIMESTAMP))
    mgr.insert(Insert(STREAM, "at").Rows({"TS": datetime.datetime(2024, 1, 1, 12)}))
    # 12:00 in New York (EST, UTC-5) is 17:00 UTC
    assert cat.read("at").select(Fn.unix_seconds("TS")).first()[0] == 1704128400
