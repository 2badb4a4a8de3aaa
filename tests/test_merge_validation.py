"""One MERGE key guard (``txn.validate_merge_keys``) under every merge
path: the native copy-on-write and deletion-vector verbs and the Delta
and Iceberg mirrors refuse the same inputs with the same error, and
commit nothing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rxlan_aws_lakehouse_spark.delta_export import (
    export_delta,
    merge_delta,
    replay_delta_log,
)
from rxlan_aws_lakehouse_spark.iceberg_export import (
    export_iceberg,
    merge_iceberg,
)
from rxlan_aws_lakehouse_spark.iceberg_import import (
    load_table_metadata_versioned,
)
from rxlan_aws_lakehouse_spark.txn import TxnTable


def _target(spark, tmp_path, fmt):
    """A 10-row ``k, v`` table in ``fmt``, its merge callable, and a
    probe returning its current version."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    if fmt in ("merge_upsert", "merge_upsert_dv"):
        return (
            lambda ups, keys, dels: getattr(t, fmt)(
                spark, ups, keys, delete_keys=dels
            ),
            t.current_version,
        )
    dest = str(tmp_path / fmt)
    if fmt == "delta":
        export_delta(t, dest)
        return (
            lambda ups, keys, dels: merge_delta(
                spark, dest, ups, keys, delete_keys=dels
            ),
            lambda: replay_delta_log(dest)["n_commits"],
        )
    export_iceberg(t, dest)
    return (
        lambda ups, keys, dels: merge_iceberg(
            spark, dest, ups, keys, delete_keys=dels
        ),
        lambda: load_table_metadata_versioned(dest)[1],
    )


@pytest.mark.parametrize(
    "fmt", ["merge_upsert", "merge_upsert_dv", "delta", "iceberg"]
)
def test_merge_key_guard_is_shared(spark, tmp_path, fmt):
    merge, version = _target(spark, tmp_path, fmt)
    before = version()
    ups = spark.createDataFrame([(2, -2), (5, -5)], "k LONG, v LONG")
    both = spark.createDataFrame([(5,)], "k LONG")
    with pytest.raises(ValueError, match="must decide one action per row"):
        merge(ups, ["k"], both)
    dup = spark.createDataFrame([(2, -2), (2, -3)], "k LONG, v LONG")
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge(dup, ["k"], None)
    assert version() == before
