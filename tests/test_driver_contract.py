"""The driver contract of ``__spark_entry__``: which entries exist, in what
order, and that each has an oracle.  The driver checks the first 50 entries
of ``queries()``, so their order is part of the contract."""

from __future__ import annotations

import datetime
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from ksql_spark.errors import SchemaError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_keys_order_and_oracles():
    keys = list(entry.queries())
    with open(os.path.join(ROOT, "CORRECTNESS_r07.json")) as fh:
        checked = list(json.load(fh))
    assert keys[:50] == checked
    assert set(keys) == set(entry.oracle_sql())
    assert len(keys) == 91


def test_sentinel_staging_names_an_unknown_events_column(spark, tmp_path):
    """The CEP entries stage far-future sentinel rows under the events
    schema; a column they have no value for is a named error, not a bare
    KeyError."""
    ts = datetime.datetime(2024, 1, 1)
    table = pa.table({
        "event_id": [1], "ts": [ts], "user_id": [1], "event_type": ["view"],
        "value": [1.0], "props": ["{}"], "region": ["eu"],
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))
    with pytest.raises(SchemaError, match="'region'"):
        entry._stage_events_sentinels(spark, str(tmp_path), str(tmp_path / "work"))
