"""spread(): conditional post-scan repartition for unsplittable inputs.

The driver's star-schema files are single-row-group parquet, which caps
every scan stage at one busy task no matter the split count (parquet
cannot split below a row group). spread() adds a round-robin exchange
ONLY when the table's actual row-group count under-fills the session
cores — at a production layout (row groups every ~128 MB) it must stay
a no-op so no shuffle of the full input is ever added at scale.
"""

from __future__ import annotations

import os

import pytest

from rxlan_aws_lakehouse_spark import catalog
from rxlan_aws_lakehouse_spark.catalog import load, scan_units, spread

SF_DIR = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from rxlan_aws_lakehouse_spark.session import get_spark

    return get_spark("test-spread")


def test_scan_units_counts_row_groups(spark):
    # the driver test data is written as one row group per table
    assert scan_units(SF_DIR, "lineitem") == 1


def test_scan_units_unreadable_is_none(tmp_path):
    assert scan_units(str(tmp_path), "lineitem") is None


def test_spread_repartitions_unsplittable_input(spark):
    df = load(spark, SF_DIR, "lineitem").select("l_partkey")
    out = spread(spark, df, SF_DIR, "lineitem")
    cores = spark.sparkContext.defaultParallelism
    if cores >= 4:  # condition units=1 < cores//2 holds
        assert "Repartition" in out._jdf.queryExecution().logical().toString()
        # row-preserving
        assert out.count() == df.count()


def test_spread_noop_when_input_fills_cores(spark, monkeypatch):
    # simulate a production layout: plenty of row groups -> no exchange
    monkeypatch.setitem(
        catalog._SCAN_UNITS_CACHE, (SF_DIR, "lineitem"), 10_000
    )
    df = load(spark, SF_DIR, "lineitem").select("l_partkey")
    out = spread(spark, df, SF_DIR, "lineitem")
    assert out is df
    monkeypatch.delitem(
        catalog._SCAN_UNITS_CACHE, (SF_DIR, "lineitem"), raising=False
    )


def test_spread_noop_when_units_unknown(spark, monkeypatch):
    monkeypatch.setitem(
        catalog._SCAN_UNITS_CACHE, (SF_DIR, "lineitem"), None
    )
    df = load(spark, SF_DIR, "lineitem").select("l_partkey")
    assert spread(spark, df, SF_DIR, "lineitem") is df
    monkeypatch.delitem(
        catalog._SCAN_UNITS_CACHE, (SF_DIR, "lineitem"), raising=False
    )


def test_scan_units_walks_partition_dirs(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "lineitem.parquet"
    for part in ("p=1", "p=2/q=a"):
        d = root / part
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({"x": list(range(10))}),
            str(d / "part-0.parquet"),
            row_group_size=5,
        )
    assert scan_units(str(tmp_path), "lineitem") == 4
