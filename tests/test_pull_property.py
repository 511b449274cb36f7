"""Property: a classic pull served in-process on Arrow equals the Spark pull.

For every shape ``PersistentQueryManager._pull_in_process`` serves, its
answer must be what ``compile_select(sb).collect()`` returns: the same row
multiset (values compared with their Python types), the same ``Row`` field
names, and output columns of the same Spark types as
``compile_select(sb).schema``.

The relations carry the edges the two readers could disagree on: NULL keys
and values, mixed-case column names and aliases, ``IN`` lists and missing
keys, empty relations, ints near 2^63 and non-ASCII strings under range
predicates, timestamps read under a process time zone other than UTC, dates,
decimals, binary, arrays and maps, one directory holding both Spark-written
(INT96 timestamps) and pyarrow-written files, and TABLE changelogs with
several epochs per key and ``'D'`` tombstones, read through the TABLE and
its ``QUERYABLE_`` twin.
"""

from __future__ import annotations

import datetime
import itertools
import os
import time
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion

from ksql_spark import STREAM, TABLE, And, Catalog, F, Insert, Schema, Select
from ksql_spark.operators.compile import compile_select
from ksql_spark.sources.catalog import QUERYABLE_PREFIX, Relation
from ksql_spark.streaming.engine import PersistentQueryManager
from ksql_spark.streaming.sink import OP_DELETE, OP_UPSERT, ExactlyOnceParquetSink

BIG = 2**63
ints64 = st.one_of(
    st.integers(-BIG, BIG - 1), st.sampled_from([-BIG, -BIG + 1, -1, 0, 1, BIG - 2, BIG - 1])
)
ints32 = st.integers(-(2**31), 2**31 - 1)
texts = st.text(alphabet=st.sampled_from(["a", "B", "z", " ", "é", "ß", "✓", "日", "𝄞"]), max_size=3)
stamps = st.datetimes(min_value=datetime.datetime(1900, 1, 1), max_value=datetime.datetime(2100, 1, 1))
OPS = ["Equal", "NotEqual", "Less", "LessEq", "Greater", "GreaterEq", "In"]
_names = itertools.count()

WIDE = T.StructType(
    [
        T.StructField("Id", T.LongType()),
        T.StructField("Name", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("small", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DateType()),
        T.StructField("amt", T.DecimalType(12, 3)),
        T.StructField("bin", T.BinaryType()),
        T.StructField("arr", T.ArrayType(T.IntegerType())),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("f", T.DoubleType()),
    ]
)
WIDE_VALUES = {
    "Id": ints64,
    "Name": texts,
    "flag": st.booleans(),
    "small": ints32,
    "ts": stamps,
    "d": st.dates(min_value=datetime.date(1900, 1, 1), max_value=datetime.date(2100, 1, 1)),
    "amt": st.decimals(min_value=-(10**8), max_value=10**8, places=3),
    "bin": st.binary(max_size=3),
    "arr": st.lists(st.one_of(st.none(), ints32), max_size=3),
    "m": st.dictionaries(texts, st.one_of(st.none(), ints64), max_size=2),
    "f": st.floats(width=64),
}
# literals a predicate on each filterable column may compare against
WIDE_LITERALS = {"Id": ints64, "Name": texts, "flag": st.booleans(), "small": st.one_of(ints32, ints64)}

KEYED = T.StructType(
    [
        T.StructField("Key", T.StringType()),
        T.StructField("part", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("amt", T.DecimalType(12, 3)),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("__op", T.StringType()),
    ]
)
KEY_VALUES = {
    "Key": st.one_of(st.none(), st.sampled_from(["a", "b", "Z", "é", "日本"])),
    "part": st.one_of(st.none(), st.sampled_from([-BIG, -1, 0, 1, BIG - 1])),
}
KEY_LITERALS = {"Key": st.one_of(texts, st.sampled_from(["a", "b", "Z", "é", "日本"])), "part": ints64}


@pytest.fixture(scope="module", autouse=True)
def new_york_time():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.fixture(scope="module")
def mgr(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pull_property"))
    return PersistentQueryManager(spark, Catalog(spark, root=f"{root}/cat"), workdir=f"{root}/eng")


def _cased(draw, name):
    return draw(st.sampled_from([name, name.lower(), name.upper()]))


@st.composite
def pulls(draw, columns, literals, min_preds=0):
    """(fields, WHERE conditions) of a classic pull over ``columns``, with
    predicates on ``literals``' columns."""
    fields = []
    for name in draw(st.lists(st.sampled_from(columns), min_size=1, max_size=5)):
        field = F(_cased(draw, name))
        alias = draw(st.one_of(st.none(), st.sampled_from(["x", "Y", "Ünï", name])))
        fields.append(field if alias is None else field.Alias(alias))
    conds = []
    for _ in range(draw(st.integers(min_preds, 3))):
        name = draw(st.sampled_from(sorted(literals)))
        op = draw(st.sampled_from(OPS))
        col = F(_cased(draw, name))
        if op == "In":
            conds.append(col.In(*draw(st.lists(literals[name], min_size=1, max_size=3))))
        else:
            conds.append(getattr(col, op)(draw(literals[name])))
    if len(conds) > 1 and draw(st.booleans()):
        conds = [And(*conds)]
    return fields, conds


def _canon(v):
    if isinstance(v, (Row, tuple)):
        return ("row", tuple(_canon(x) for x in v))
    if isinstance(v, list):
        return ("list", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted(((_canon(k), _canon(x)) for k, x in v.items()), key=repr)))
    if isinstance(v, float) and v != v:
        return ("float", "nan")
    return (type(v).__name__, v)


def _assert_pull_equals_spark(mgr, sb):
    pulled = mgr._pull_in_process(sb)
    assert pulled is not None, "a classic pull must be served in-process"
    table, schema = pulled
    df = compile_select(sb, spark=mgr.spark, catalog=mgr.catalog)
    assert [(f.name, f.dataType) for f in schema] == [(f.name, f.dataType) for f in df.schema]
    got = ArrowTableToRowsConversion.convert(table, schema)
    want = df.collect()
    assert sorted(map(_canon, got), key=repr) == sorted(map(_canon, want), key=repr)
    assert all(r.__fields__ == schema.names for r in got + want)


@settings(max_examples=30, deadline=None)
@given(
    rows=st.lists(
        st.fixed_dictionaries({k: st.one_of(st.none(), v) for k, v in WIDE_VALUES.items()}),
        max_size=8,
    ),
    split=st.integers(0, 8),
    queries=st.lists(pulls(WIDE.names, WIDE_LITERALS), min_size=1, max_size=3),
)
def test_stream_pull_equals_spark(mgr, rows, split, queries):
    """A parquet STREAM whose files are written by both INSERT ... VALUES
    (pyarrow) and Spark (INT96 timestamps); NULLs are left-out columns in a
    VALUES row."""
    name = f"wide{next(_names)}"
    path = os.path.join(mgr.catalog.root, name)
    os.makedirs(path)
    mgr.catalog.register_parquet(name, path, ref=STREAM, schema=WIDE)
    values = [{k: v for k, v in r.items() if v is not None} for r in rows[:split]]
    spark_rows = rows[split:] + [r for r, v in zip(rows, values) if not v]
    if any(values):
        mgr.insert(Insert(STREAM, name).Rows(*[v for v in values if v]))
    if spark_rows:
        mgr.spark.createDataFrame(spark_rows, WIDE).write.mode("append").parquet(path)
    for fields, conds in queries:
        _assert_pull_equals_spark(mgr, Select(*fields).From(Schema(name, STREAM)).Where(*conds))


@settings(max_examples=25, deadline=None)
@given(
    keys=st.sampled_from([["Key"], ["Key", "part"]]),
    epochs=st.lists(
        st.lists(
            st.fixed_dictionaries(
                {
                    **KEY_VALUES,
                    "v": st.one_of(st.none(), ints64),
                    "ts": st.one_of(st.none(), stamps),
                    "amt": st.one_of(st.none(), st.decimals(-(10**8), 10**8, places=3)),
                    "tags": st.one_of(st.none(), st.lists(st.one_of(st.none(), texts), max_size=2)),
                    "__op": st.sampled_from([OP_UPSERT, OP_UPSERT, OP_DELETE]),
                }
            ),
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    ),
    queries=st.lists(
        st.tuples(st.booleans(), st.data()),
        min_size=1,
        max_size=3,
    ),
)
def test_table_key_pull_equals_spark(mgr, keys, epochs, queries):
    """A sink-backed TABLE changelog (one row per key per epoch, the latest
    epoch wins, a ``'D'`` row retracts the key) pulled by key, through the
    TABLE and its QUERYABLE_ twin."""
    name = f"keyed{next(_names)}"
    sink = ExactlyOnceParquetSink(os.path.join(mgr.workdir, "relations", name), op=OP_UPSERT)
    for epoch, rows in enumerate(epochs):
        latest = {tuple(r[k] for k in keys): r for r in rows}  # one row per key per epoch
        sink(mgr.spark.createDataFrame(list(latest.values()), KEYED), epoch)
    meta = {"sink": sink, "state_keys": keys}
    for rel in (name, QUERYABLE_PREFIX + name):
        mgr.catalog.register(Relation(name=rel, ref=TABLE, path=sink.data_dir, metadata=meta))
    columns = [f.name for f in KEYED.fields if f.name != "__op"]
    literals = {k: KEY_LITERALS[k] for k in keys}
    for twin, data in queries:
        fields, conds = data.draw(pulls(columns, literals, min_preds=1))
        rel = QUERYABLE_PREFIX + name if twin else name
        _assert_pull_equals_spark(mgr, Select(*fields).From(Schema(rel, TABLE)).Where(*conds))


def test_decimal_and_timestamp_literals_stay_on_spark(mgr):
    """Only string, integral and boolean literals are compared on Arrow."""
    name = f"wide{next(_names)}"
    path = os.path.join(mgr.catalog.root, name)
    os.makedirs(path)
    mgr.catalog.register_parquet(name, path, ref=STREAM, schema=WIDE)
    for cond in (
        F("amt").Equal(Decimal("1.5")),
        F("ts").Greater(datetime.datetime(2024, 1, 1)),
        F("f").Less(1.0),
        F("Id").Equal(True),
        F("flag").Equal(1),
        F("Id").Equal(BIG),
    ):
        assert mgr._pull_in_process(Select("Id").From(Schema(name, STREAM)).Where(cond)) is None
