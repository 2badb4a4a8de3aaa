"""catalog.load's schema cache: each input's schema is inferred once.

``spark.read.parquet(path)`` runs one Spark job to read a footer and infer
the schema. ``load`` keeps the inferred schema per path, next to the
input's file signature, and reads with ``spark.read.schema(s)`` while the
signature matches, which launches no job. These tests count jobs with the
status tracker inside a job group.
"""

from __future__ import annotations

import datetime
import decimal
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from rxlan_aws_lakehouse_spark import catalog
from rxlan_aws_lakehouse_spark.catalog import TABLES, load

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"test-catalog-{os.getpid()}-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    # the status store is fed by the listener bus; drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def cache(monkeypatch):
    """An empty schema cache for the test, so its first load is a miss."""
    fresh: dict = {}
    monkeypatch.setattr(catalog, "_SCHEMA_CACHE", fresh)
    return fresh


@pytest.mark.parametrize("table", TABLES)
def test_second_load_launches_no_job(spark, sf_dir, cache, table):
    _, n_first = _jobs(spark, lambda: load(spark, sf_dir, table))
    hit, n_hit = _jobs(spark, lambda: load(spark, sf_dir, table))
    assert n_first >= 1  # the inference job: the count sees jobs at all
    assert n_hit == 0
    # the test data's events store micros, so load converts no column
    path = os.path.join(sf_dir, f"{table}.parquet")
    raw = spark.read.parquet(path)
    assert hit.schema == raw.schema
    assert cache[path][1] == raw.schema


def test_rewritten_input_is_inferred_again(spark, tmp_path, cache):
    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), path)
    load(spark, str(tmp_path), "orders")
    _, n_hit = _jobs(spark, lambda: load(spark, str(tmp_path), "orders"))
    assert n_hit == 0
    pq.write_table(pa.table({"o_orderkey": [3, 4], "o_note": ["a", "b"]}), path)
    df, n_miss = _jobs(spark, lambda: load(spark, str(tmp_path), "orders"))
    assert n_miss >= 1
    assert df.columns == ["o_orderkey", "o_note"]
    assert sorted(df.collect()) == [(3, "a"), (4, "b")]
    assert cache[path][1] == df.schema


def test_nanos_events_come_back_as_micros_on_a_hit(spark, tmp_path, cache):
    ns = 1_700_000_000_123_456_789
    pq.write_table(
        pa.table({"ts": pa.array([ns], pa.timestamp("ns")), "user_id": [7]}),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    load(spark, str(tmp_path), "events")
    df, n_hit = _jobs(spark, lambda: load(spark, str(tmp_path), "events"))
    assert n_hit == 0
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    # the cache keeps the raw read's schema: ts as long under nanosAsLong
    assert isinstance(
        cache[str(tmp_path / "events.parquet")][1]["ts"].dataType, T.LongType
    )
    ts = df.collect()[0]["ts"]
    assert ts.microsecond == 123_456  # truncated to micros, not rounded


def test_partitioned_input_keeps_its_partition_column(spark, tmp_path, cache):
    root = tmp_path / "lineitem.parquet"
    for part in ("l_shipmode=AIR", "l_shipmode=RAIL"):
        (root / part).mkdir(parents=True)
        pq.write_table(pa.table({"l_quantity": [1.0, 2.0]}), str(root / part / "a.parquet"))
    first = load(spark, str(tmp_path), "lineitem")
    hit, n_hit = _jobs(spark, lambda: load(spark, str(tmp_path), "lineitem"))
    assert n_hit == 0
    assert hit.schema == first.schema
    assert "l_shipmode" in hit.columns
    rows = sorted((r.l_shipmode, r.l_quantity) for r in hit.collect())
    assert rows == [("AIR", 1.0), ("AIR", 2.0), ("RAIL", 1.0), ("RAIL", 2.0)]
    # a new partition changes the signature: its rows show
    (root / "l_shipmode=SHIP").mkdir()
    pq.write_table(pa.table({"l_quantity": [3.0]}), str(root / "l_shipmode=SHIP" / "a.parquet"))
    assert load(spark, str(tmp_path), "lineitem").count() == 5


def test_missing_input_still_fails_and_is_not_cached(spark, tmp_path, cache):
    with pytest.raises(AnalysisException):
        load(spark, str(tmp_path), "orders")
    assert cache == {}


# -- local_df: driver-local rows as a LocalRelation -----------------------

_LOCAL_ROWS = [
    (
        "a", 1, 2**40, 1.5, True, datetime.date(2024, 2, 29),
        decimal.Decimal("12.34"), [1, 2], datetime.datetime(2024, 3, 10, 7, 30, 5),
    ),
    (None,) * 9,
    (
        "é ü", -7, -(2**62), -0.0, False, datetime.date(1970, 1, 1),
        decimal.Decimal("-0.01"), [], datetime.datetime(1999, 12, 31, 23, 59, 59, 999999),
    ),
]
_LOCAL_SCHEMA = (
    "s string, i int, b bigint, d double, f boolean, dt date, "
    "dec decimal(10,2), arr array<int>, ts timestamp"
)


@pytest.mark.parametrize("rows", [_LOCAL_ROWS, []], ids=["rows", "empty"])
@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_local_df_round_trips_without_a_job(spark, rows, tz):
    """``local_df`` is a LocalRelation: collecting it runs no Spark job
    and returns the rows it was given, for every type its callers pass,
    with naive timestamps read back unchanged under a non-UTC session
    time zone."""
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        df = catalog.local_df(spark, rows, _LOCAL_SCHEMA)
        got, n = _jobs(spark, df.collect)
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    assert n == 0
    assert [tuple(r) for r in got] == rows
    assert df.schema == T._parse_datatype_string(_LOCAL_SCHEMA)
    assert catalog.local_df(spark, rows, df.schema).collect() == got
