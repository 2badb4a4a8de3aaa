"""Iceberg EXPORT (round 13 — the write half of the Iceberg interop).

``export_iceberg`` writes a txn snapshot as a conformant Iceberg v2
metadata tree over hard-linked files; the checks read it back through
``import_iceberg`` / ``format("iceberg_import")`` — the independent
reader half, which binds through the spec's
``schema.name-mapping.default`` property because txn parquet carries
no field ids (the migrated-table convention) — and assert row
identity with ``TxnTable.read``.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rxlan_aws_lakehouse_spark.iceberg_export import export_iceberg
from rxlan_aws_lakehouse_spark.iceberg_import import (
    iceberg_live_files,
    import_iceberg,
    load_table_metadata,
)
from rxlan_aws_lakehouse_spark.txn import TxnTable


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_export_plain_roundtrip(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.range(40).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.5).alias("v"),
            F.concat(F.lit("s"), (F.col("id") % 5)).alias("s"),
        )
    )
    dest = str(tmp_path / "ice")
    out = export_iceberg(t, dest)
    assert out["n_rows"] == 40
    # metadata tree is spec-shaped and self-describing
    meta = load_table_metadata(dest)
    assert meta["format-version"] == 2
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert {e["names"][0] for e in nm} == {"k", "v", "s"}
    df = import_iceberg(spark, dest)
    cols = ["k", "v", "s"]
    assert _rows(df, cols) == _rows(t.read(spark), cols)
    # exported stats prune at the metadata level
    st = iceberg_live_files(dest, filters=[("k", ">=", 10**6)])
    assert st["files"] == [] and st["n_total"] == out["n_files"]


def test_export_partitioned_with_nulls(spark, tmp_path):
    """Hive-laid-out txn partitions (values in dirs, NOT in files)
    export as identity partition fields; readers fill the missing
    source columns from the manifest partition values — including
    NULL partitions and an int-typed partition column."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [
                (1, "a", 10),
                (2, "a", 20),
                (3, None, 10),
                (4, "b", 20),
            ],
            "k INT, seg STRING, bucket INT",
        ),
        partition_by=["seg", "bucket"],
    )
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)
    cols = ["k", "seg", "bucket"]
    df = import_iceberg(spark, dest)
    assert _rows(df, cols) == {
        (1, "a", 10),
        (2, "a", 20),
        (3, None, 10),
        (4, "b", 20),
    }
    # the Arrow source path fills the same constants per file
    from rxlan_aws_lakehouse_spark.sources.iceberg_import_source import (
        register_iceberg_import_source,
    )

    register_iceberg_import_source(spark)
    df2 = spark.read.format("iceberg_import").load(dest)
    assert _rows(df2, cols) == _rows(df, cols)
    # partition summaries prune whole manifest groups... at file level
    st = iceberg_live_files(dest, filters=[("seg", "=", "a")])
    assert 0 < len(st["files"]) < st["n_total"]


def test_export_mapped_table_name_mapping(spark, tmp_path):
    """A RENAMED txn table (id-based column mapping: physical parquet
    names frozen) exports with the name mapping pointing at the
    PHYSICAL spellings, so the logical rename survives the format
    boundary without touching a file."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0)], "k INT, amount DOUBLE"
        )
    )
    t.rename_column(spark, "amount", "amt")
    t.append(spark.createDataFrame([(3, 30.0)], "k INT, amt DOUBLE"))
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)
    meta = load_table_metadata(dest)
    names = {f["name"] for f in meta["schemas"][0]["fields"]}
    assert names == {"k", "amt"}  # logical schema
    nm = {
        e["field-id"]: e["names"][0]
        for e in json.loads(
            meta["properties"]["schema.name-mapping.default"]
        )
    }
    assert "amount" in nm.values()  # physical spelling in the mapping
    df = import_iceberg(spark, dest)
    assert _rows(df, ["k", "amt"]) == {(1, 10.0), (2, 20.0), (3, 30.0)}


def test_export_refuses_pending_dv_and_overwrite(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.range(10).select(F.col("id").alias("k")))
    t.delete_where_deferred(spark, F.col("k") == 3)
    dest = str(tmp_path / "ice")
    with pytest.raises(ValueError, match="deletion vector"):
        export_iceberg(t, dest)
    t.materialize_deletes(spark)
    export_iceberg(t, dest)
    assert {r["k"] for r in import_iceberg(spark, dest).collect()} == (
        set(range(10)) - {3}
    )
    with pytest.raises(FileExistsError, match="already holds"):
        export_iceberg(t, dest)


def test_router_export_to_iceberg(spark, tmp_path):
    """EXPORT TABLE t TO ICEBERG '<path>' + re-attach via USING
    ICEBERG_IMPORT: the analyst-surface round trip."""
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter

    router = TxnSqlRouter(spark)
    root = str(tmp_path / "t")
    router.sql(f"CREATE TABLE exp (k INT, s STRING) USING TXN LOCATION '{root}'")
    router.sql("INSERT INTO exp VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    dest = str(tmp_path / "ice")
    res = router.sql(f"EXPORT TABLE exp TO ICEBERG '{dest}'").collect()[0]
    assert res["operation"] == "export_iceberg"
    router.sql(
        f"CREATE TABLE exp_ice USING ICEBERG_IMPORT LOCATION '{dest}'"
    )
    got = {
        (r["k"], r["s"])
        for r in router.sql("SELECT k, s FROM exp_ice").collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    router.sql("DROP TABLE exp_ice")
    router.sql("DROP TABLE exp")


def test_export_date_stats_prune(spark, tmp_path):
    """date stats translate into the spec's single-value binary
    serialization (days since epoch) and prune on re-import.
    Timestamp columns carry NO bounds by design: Spark writes INT96
    timestamps whose footers record no min/max, so the txn manifest —
    the export's only stats source — never had them (conservative:
    the column simply doesn't prune)."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.sql(
            """
            SELECT id AS k,
                   timestampadd(HOUR, CAST(id AS INT),
                                timestamp'2021-01-01 00:00:00') AS ts,
                   date_add(date'2021-01-01', CAST(id AS INT)) AS d
            FROM range(48)
            """
        ).repartitionByRange(4, "k")
    )
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)
    df = import_iceberg(spark, dest)
    assert df.count() == 48
    # d = 2021-01-01 + id days; files hold disjoint 12-day ranges.
    # days-since-epoch for 2021-02-01:
    import datetime

    lit = (datetime.date(2021, 2, 1) - datetime.date(1970, 1, 1)).days
    st = iceberg_live_files(dest, filters=[("d", ">=", lit)])
    assert 0 < len(st["files"]) < st["n_total"]
    # ts bounds absent -> never prunes, never mis-prunes
    st2 = iceberg_live_files(dest, filters=[("ts", ">=", 10**18)])
    assert len(st2["files"]) == st2["n_total"]


# ------------------------------------------------- incremental sync
def test_export_iceberg_sync_lifecycle(spark, tmp_path):
    """Bootstrap -> fast-append (untouched manifest reused BY
    REFERENCE) -> delete (rewritten manifest with EXISTING+DELETED
    entries) -> no-op -> rewind refusal; re-import parity at every
    snapshot, including time travel back through the mirror."""
    from rxlan_aws_lakehouse_spark.avro_lite import read_avro
    from rxlan_aws_lakehouse_spark.iceberg_export import (
        export_iceberg_sync,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
    )
    dest = str(tmp_path / "ice")
    out0 = export_iceberg_sync(t, dest)
    assert out0["snapshot_seq"] == 1 and out0["synced_from"] is None
    v1 = t.current_version()

    # append-only commit -> fast-append: one new manifest, the
    # bootstrap manifest carried by reference
    t.append(
        spark.range(20, 30).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
    )
    out1 = export_iceberg_sync(t, dest)
    assert out1["operation"] == "append"
    assert out1["n_adds"] >= 1 and out1["n_removes"] == 0
    meta = load_table_metadata(dest)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, ml = read_avro(os.path.join(dest, snap["manifest-list"]))
    assert "metadata/m000.avro" in {r["manifest_path"] for r in ml}
    assert {r["k"] for r in import_iceberg(spark, dest).collect()} == set(
        range(30)
    )

    # delete -> the touched manifest rewrites once with
    # EXISTING/DELETED entries carrying explicit sequence numbers
    t.delete_where(spark, F.col("k") == 3)
    out2 = export_iceberg_sync(t, dest)
    assert out2["n_removes"] >= 1
    assert out2["operation"] in ("overwrite", "delete")
    assert {r["k"] for r in import_iceberg(spark, dest).collect()} == (
        set(range(30)) - {3}
    )
    meta2 = load_table_metadata(dest)
    snap2 = next(
        s
        for s in meta2["snapshots"]
        if s["snapshot-id"] == meta2["current-snapshot-id"]
    )
    _, ml2 = read_avro(os.path.join(dest, snap2["manifest-list"]))
    rewritten = [
        r for r in ml2 if r["deleted_files_count"] > 0
    ]
    assert len(rewritten) == 1
    _, entries = read_avro(
        os.path.join(dest, rewritten[0]["manifest_path"])
    )
    statuses = sorted({e["status"] for e in entries})
    assert 2 in statuses  # DELETED recorded once
    assert all(
        e["sequence_number"] is not None for e in entries
    )  # explicit seqs: inheritance never mis-applies

    # time travel through the mirror: the bootstrap snapshot still
    # reads exactly the v1 rows
    from rxlan_aws_lakehouse_spark.iceberg_export import _snapshot_id

    d_old = import_iceberg(
        spark, dest, snapshot_id=_snapshot_id(t.root, v1)
    )
    assert {r["k"] for r in d_old.collect()} == set(range(20))

    # no-op and rewind
    out3 = export_iceberg_sync(t, dest)
    assert out3["snapshot_seq"] is None and out3["n_adds"] == 0
    with pytest.raises(ValueError, match="never rewinds"):
        export_iceberg_sync(t, dest, version=v1)


def test_export_iceberg_sync_schema_evolution(spark, tmp_path):
    """An added column between syncs appends a NEW schema-id with a
    freshly minted field id (never recycled); old files null-fill on
    re-import; the name mapping updates."""
    from rxlan_aws_lakehouse_spark.iceberg_export import (
        export_iceberg_sync,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k INT, s STRING"))
    dest = str(tmp_path / "ice")
    export_iceberg_sync(t, dest)
    ids0 = {
        f["name"]: f["id"]
        for f in load_table_metadata(dest)["schemas"][0]["fields"]
    }
    t.append(
        spark.createDataFrame(
            [(3, "c", 9.5)], "k INT, s STRING, score DOUBLE"
        ),
        merge_schema=True,
    )
    out = export_iceberg_sync(t, dest)
    assert out["schema_changed"] is True
    meta = load_table_metadata(dest)
    assert meta["current-schema-id"] == 1
    cur = next(
        s for s in meta["schemas"] if s["schema-id"] == 1
    )
    ids1 = {f["name"]: f["id"] for f in cur["fields"]}
    # surviving columns keep their frozen ids; the new one mints above
    assert ids1["k"] == ids0["k"] and ids1["s"] == ids0["s"]
    assert ids1["score"] > max(ids0.values())
    got = _rows(import_iceberg(spark, dest), ["k", "s", "score"])
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 9.5)}


def test_export_iceberg_sync_partitioned(spark, tmp_path):
    """Partitioned mirrors sync with per-manifest field summaries and
    keep pruning after the rewrite."""
    from rxlan_aws_lakehouse_spark.iceberg_export import (
        export_iceberg_sync,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "k INT, seg STRING"
        ),
        partition_by=["seg"],
    )
    dest = str(tmp_path / "ice")
    export_iceberg_sync(t, dest)
    t.append(
        spark.createDataFrame([(4, "c"), (5, "a")], "k INT, seg STRING")
    )
    export_iceberg_sync(t, dest)
    t.delete_where(spark, F.col("k") == 2)
    export_iceberg_sync(t, dest)
    df = import_iceberg(spark, dest)
    assert _rows(df, ["k", "seg"]) == {
        (1, "a"), (3, "b"), (4, "c"), (5, "a")
    }
    st = iceberg_live_files(dest, filters=[("seg", "=", "b")])
    assert 0 < len(st["files"]) < st["n_total"]
    # a partition-spec change refuses loudly
    t2 = TxnTable(str(tmp_path / "t2"))
    t2.commit(
        spark.createDataFrame([(1, "a")], "k INT, seg STRING"),
        partition_by=["seg"],
    )
    dest2 = str(tmp_path / "ice2")
    export_iceberg_sync(t2, dest2)
    t2.rewrite_layout(spark, partition_by=[])
    with pytest.raises(ValueError, match="partition spec changed"):
        export_iceberg_sync(t2, dest2)


# ---------------------------------------------------- foreign append
def test_append_iceberg_foreign(spark, tmp_path):
    """append_iceberg (round 14): a fast-append snapshot lands on a
    FOREIGN Iceberg table (this engine's own export as the fixture —
    identity-partitioned, name-mapped id-less files): new files carry
    field ids + the mapping's physical names, identity partition
    columns ride IN the files, the previous manifest list carries by
    reference, and time travel still reads the pre-append snapshot."""
    import pyarrow.parquet as pq

    from rxlan_aws_lakehouse_spark.iceberg_export import (
        append_iceberg,
        export_iceberg,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "k INT, seg STRING"
        ),
        partition_by=["seg"],
    )
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)
    pre_sid = load_table_metadata(dest)["current-snapshot-id"]

    out = append_iceberg(
        spark,
        dest,
        spark.createDataFrame(
            [(4, "c"), (5, None), (6, "a")], "k INT, seg STRING"
        ),
    )
    assert out["n_rows"] == 3 and out["snapshot_seq"] == 2
    df = import_iceberg(spark, dest)
    assert _rows(df, ["k", "seg"]) == {
        (1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, None), (6, "a")
    }
    # the format source (per-file binding) agrees on the MIXED table
    from rxlan_aws_lakehouse_spark.sources.iceberg_import_source import (
        register_iceberg_import_source,
    )

    register_iceberg_import_source(spark)
    df2 = spark.read.format("iceberg_import").load(dest)
    assert _rows(df2, ["k", "seg"]) == _rows(df, ["k", "seg"])
    # the fixture's files are ID-LESS (name-mapped export), so appended
    # files match that convention — one homogeneous binding per table
    st = iceberg_live_files(dest)
    ap = [p for p in st["files"] if "/ap-" in p]
    assert ap
    sch = pq.read_schema(ap[0])
    assert not any(
        (f.metadata or {}).get(b"PARQUET:field_id") for f in sch
    )
    # partition pruning covers the appended files
    stp = iceberg_live_files(dest, filters=[("seg", "=", "c")])
    assert len(stp["files"]) == 1 and "/ap-" in stp["files"][0]
    # the pre-append snapshot still reads exactly the old rows
    d_old = import_iceberg(spark, dest, snapshot_id=pre_sid)
    assert {r["k"] for r in d_old.collect()} == {1, 2, 3}
    # a second append stacks (manifest list carried by reference again)
    append_iceberg(
        spark, dest, spark.createDataFrame([(7, "b")], "k INT, seg STRING")
    )
    assert import_iceberg(spark, dest).count() == 7
    # schema mismatch refuses
    with pytest.raises(ValueError, match="do not match"):
        append_iceberg(
            spark, dest, spark.createDataFrame([(1,)], "k INT")
        )


def _transform_table(root, fields, spec_fields, last_col_id):
    """Hand-author an EMPTY foreign Iceberg v2 table with the given
    schema + partition spec (the shape any engine's CREATE TABLE
    leaves before the first write)."""
    import json as _json

    os.makedirs(os.path.join(root, "metadata"))
    meta = {
        "format-version": 2,
        "table-uuid": "0185a0a0-0000-0000-0000-00000000000b",
        "location": root,
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": last_col_id,
        "schemas": [
            {"type": "struct", "schema-id": 0, "fields": fields}
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": 1000 + len(spec_fields) - 1,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "current-snapshot-id": -1,
        "snapshots": [],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        _json.dump(meta, f)
    with open(
        os.path.join(root, "metadata", "version-hint.text"), "w"
    ) as f:
        f.write("1")


def test_append_iceberg_transform_partitioned(spark, tmp_path):
    """r14 verdict task 1: appends onto a ``days(ts) + bucket[4](k)``
    table — the default production Iceberg layout — compute the spec
    transforms forward, commit partition tuples, and the appended
    files PRUNE through the importer's transform-aware partition
    path."""
    import datetime as dt

    from rxlan_aws_lakehouse_spark.iceberg_export import append_iceberg
    from rxlan_aws_lakehouse_spark.iceberg_import import _bucket_of

    root = str(tmp_path / "tp")
    _transform_table(
        root,
        fields=[
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "ts", "required": False,
             "type": "timestamptz"},
            {"id": 3, "name": "v", "required": False, "type": "double"},
        ],
        spec_fields=[
            {"name": "ts_day", "transform": "day", "source-id": 2,
             "field-id": 1000},
            {"name": "k_bucket", "transform": "bucket[4]",
             "source-id": 1, "field-id": 1001},
        ],
        last_col_id=3,
    )
    rows = [
        (k, dt.datetime(2024, 3, d, 12, 0, 0), float(k))
        for k, d in [(1, 1), (2, 1), (3, 2), (17, 2), (18, 3)]
    ]
    out = append_iceberg(
        spark,
        root,
        spark.createDataFrame(rows, "k LONG, ts TIMESTAMP, v DOUBLE"),
    )
    assert out["n_rows"] == 5
    df = import_iceberg(spark, root)
    assert {r["k"] for r in df.collect()} == {1, 2, 3, 17, 18}
    # manifest partition tuples hold the spec transform values
    st = iceberg_live_files(root)
    days_of = {
        e["partition"]["ts_day"] for e in st["entries"]
    }
    epoch = dt.date(1970, 1, 1)
    want_days = {
        (dt.date(2024, 3, d) - epoch).days for d in (1, 2, 3)
    }
    assert days_of == want_days
    buckets = {e["partition"]["k_bucket"] for e in st["entries"]}
    assert buckets == {_bucket_of("long", k, 4) for k in (1, 2, 3, 17, 18)}
    # prune-after-append: a day-range predicate keeps only that day's
    # files; a bucket equality keeps only the matching bucket
    stp = iceberg_live_files(
        root,
        filters=[("ts", ">=", dt.datetime(2024, 3, 3))],
    )
    assert 0 < len(stp["files"]) < len(st["files"])
    # pruned read still returns the right rows after the row-level
    # re-apply (pruning is IO-avoidance, not the predicate)
    got = {
        r["k"]
        for r in import_iceberg(spark, root)
        .filter(F.col("ts") >= dt.datetime(2024, 3, 3))
        .collect()
    }
    assert got == {18}
    stb = iceberg_live_files(root, filters=[("k", "=", 17)])
    assert all(
        e["partition"]["k_bucket"] == _bucket_of("long", 17, 4)
        for e in stb["entries"]
    )
    assert len(stb["files"]) < len(st["files"])
    # a second append stacks
    append_iceberg(
        spark,
        root,
        spark.createDataFrame(
            [(99, dt.datetime(2024, 3, 5, 1, 0, 0), 9.9)],
            "k LONG, ts TIMESTAMP, v DOUBLE",
        ),
    )
    assert import_iceberg(spark, root).count() == 6


def test_append_iceberg_truncate_and_more_transforms(spark, tmp_path):
    """truncate[W] (long + string), month(date) and hour(ts) partition
    values all compute forward per Appendix B, including negatives
    (floor semantics) and nulls (null partition)."""
    import datetime as dt

    from rxlan_aws_lakehouse_spark.iceberg_export import append_iceberg
    from rxlan_aws_lakehouse_spark.iceberg_import import (
        _temporal_of,
        _truncate_of,
    )

    root = str(tmp_path / "tr")
    _transform_table(
        root,
        fields=[
            {"id": 1, "name": "amt", "required": False, "type": "long"},
            {"id": 2, "name": "cat", "required": False, "type": "string"},
            {"id": 3, "name": "d", "required": False, "type": "date"},
            {"id": 4, "name": "ts", "required": False,
             "type": "timestamptz"},
        ],
        spec_fields=[
            {"name": "amt_t", "transform": "truncate[10]",
             "source-id": 1, "field-id": 1000},
            {"name": "cat_t", "transform": "truncate[2]",
             "source-id": 2, "field-id": 1001},
            {"name": "d_month", "transform": "month", "source-id": 3,
             "field-id": 1002},
            {"name": "ts_hour", "transform": "hour", "source-id": 4,
             "field-id": 1003},
        ],
        last_col_id=4,
    )
    rows = [
        (-7, "apple", dt.date(2023, 11, 5),
         dt.datetime(2023, 11, 5, 7, 30, 0)),
        (23, "apricot", dt.date(1968, 2, 10),
         dt.datetime(2023, 11, 5, 8, 0, 1)),
        (None, None, None, None),
    ]
    append_iceberg(
        spark,
        root,
        spark.createDataFrame(
            rows, "amt LONG, cat STRING, d DATE, ts TIMESTAMP"
        ),
    )
    st = iceberg_live_files(root)
    tuples = {
        (
            e["partition"]["amt_t"],
            e["partition"]["cat_t"],
            e["partition"]["d_month"],
            e["partition"]["ts_hour"],
        )
        for e in st["entries"]
    }
    epoch = dt.date(1970, 1, 1)

    def month_of(d):
        return (d.year - 1970) * 12 + d.month - 1

    def hour_of(t):
        return int(
            (t - dt.datetime(1970, 1, 1)).total_seconds() // 3600
        )

    want = {
        (
            _truncate_of("long", -7, 10),
            _truncate_of("string", "apple", 2),
            month_of(dt.date(2023, 11, 5)),
            hour_of(dt.datetime(2023, 11, 5, 7, 30, 0)),
        ),
        (
            _truncate_of("long", 23, 10),
            _truncate_of("string", "apricot", 2),
            month_of(dt.date(1968, 2, 10)),
            hour_of(dt.datetime(2023, 11, 5, 8, 0, 1)),
        ),
        (None, None, None, None),
    }
    assert tuples == want
    assert _truncate_of("long", -7, 10) == -10  # floor, not toward-zero
    assert month_of(dt.date(1968, 2, 10)) == -23  # negative ordinal
    # cross-check the manifest values against the import-side reverse
    # transforms the pruner uses
    assert _temporal_of(
        "month", "date", (dt.date(1968, 2, 10) - epoch).days
    ) == -23
    # the importer reads all rows back (source columns live in files)
    got = _rows(import_iceberg(spark, root), ["amt", "cat"])
    assert got == {(-7, "apple"), (23, "apricot"), (None, None)}
    # pruning via truncate: amt >= 20 skips the -10 file
    stp = iceberg_live_files(root, filters=[("amt", ">=", 20)])
    assert {e["partition"]["amt_t"] for e in stp["entries"]} == {20}


def test_append_iceberg_refuses_unknown_transform(spark, tmp_path):
    """void / future transforms still refuse the WRITE loudly by name
    (a wrong partition value would silently corrupt pruning)."""
    from rxlan_aws_lakehouse_spark.iceberg_export import append_iceberg

    root = str(tmp_path / "vd")
    _transform_table(
        root,
        fields=[
            {"id": 1, "name": "k", "required": False, "type": "long"}
        ],
        spec_fields=[
            {"name": "k_void", "transform": "void", "source-id": 1,
             "field-id": 1000}
        ],
        last_col_id=1,
    )
    with pytest.raises(ValueError, match="void"):
        append_iceberg(
            spark, root, spark.createDataFrame([(1,)], "k LONG")
        )


def test_bucket_longs_matches_bucket_of():
    """The numpy-vectorized writer hash is element-for-element the
    Appendix-B scalar the pruner uses, across sign/width extremes."""
    import numpy as np

    from rxlan_aws_lakehouse_spark.iceberg_import import (
        _bucket_longs,
        _bucket_of,
    )

    vals = [0, 1, -1, 34, -34, 2**31, -(2**31), 2**62, -(2**62),
            86400000000, 17, 123456789012345]
    for n in (2, 4, 8, 16, 1000):
        got = _bucket_longs(np.array(vals, dtype=np.int64), n).tolist()
        want = [_bucket_of("long", v, n) for v in vals]
        assert got == want, (n, got, want)


def test_append_iceberg_id_bearing_table(spark, tmp_path):
    """Appending to an ID-BEARING foreign table (scrambled file column
    names — only field ids bind) writes id-bearing files; the full
    read binds every file by id."""
    from test_iceberg_import import Ice

    from rxlan_aws_lakehouse_spark.iceberg_export import append_iceberg

    t = Ice(str(tmp_path / "idt"))
    f1 = t.write_file("a.parquet", [1, 2], "x", scramble_names=True)
    m1 = t.manifest("m1.avro", [t.entry(f1, [1, 2], "x")], ["x"], seq=1)
    t.snapshot(1, [m1])
    t.metadata(1, current_sid=1)
    out = append_iceberg(
        spark,
        t.root,
        spark.createDataFrame(
            [(9, 9.5, "y")], "k LONG, v DOUBLE, cat STRING"
        ),
    )
    assert out["n_rows"] == 1
    df = import_iceberg(spark, t.root)
    assert {(r["k"], r["cat"]) for r in df.collect()} == {
        (1, "x"), (2, "x"), (9, "y")
    }
    import pyarrow.parquet as pq

    st = iceberg_live_files(t.root)
    ap = [p for p in st["files"] if "/ap-" in p][0]
    assert any(
        (f.metadata or {}).get(b"PARQUET:field_id")
        for f in pq.read_schema(ap)
    )


def test_router_export_iceberg_incremental(spark, tmp_path):
    """EXPORT TABLE ... TO ICEBERG is now incremental: a second EXPORT
    after new commits appends a snapshot instead of refusing; a
    no-change EXPORT is a noop."""
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter

    router = TxnSqlRouter(spark)
    root = str(tmp_path / "t")
    router.sql(
        f"CREATE TABLE inc (k INT, s STRING) USING TXN LOCATION '{root}'"
    )
    router.sql("INSERT INTO inc VALUES (1, 'a')")
    dest = str(tmp_path / "ice")
    r1 = router.sql(f"EXPORT TABLE inc TO ICEBERG '{dest}'").collect()[0]
    assert r1["operation"] == "export_iceberg"
    router.sql("INSERT INTO inc VALUES (2, 'b')")
    r2 = router.sql(f"EXPORT TABLE inc TO ICEBERG '{dest}'").collect()[0]
    assert r2["operation"] == "export_iceberg_sync"
    assert import_iceberg(spark, dest).count() == 2
    r3 = router.sql(f"EXPORT TABLE inc TO ICEBERG '{dest}'").collect()[0]
    assert r3["version"] == "noop"
    router.sql("DROP TABLE inc")


def test_export_iceberg_sync_drop_readd_mints_fresh_id(spark, tmp_path):
    """DROP + re-ADD of the same column name between syncs follows the
    txn column mapping's fresh id — Iceberg forbids reusing a retired
    field id for a semantically new column."""
    from rxlan_aws_lakehouse_spark.iceberg_export import (
        export_iceberg_sync,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "k INT, s STRING"))
    dest = str(tmp_path / "ice")
    export_iceberg_sync(t, dest)
    id_s0 = {
        f["name"]: f["id"]
        for f in load_table_metadata(dest)["schemas"][0]["fields"]
    }["s"]
    t.drop_column(spark, "s")
    t.append(
        spark.createDataFrame([(2, "b2")], "k INT, s STRING"),
        merge_schema=True,
    )
    export_iceberg_sync(t, dest)
    meta = load_table_metadata(dest)
    cur = next(
        s
        for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    id_s1 = {f["name"]: f["id"] for f in cur["fields"]}["s"]
    assert id_s1 != id_s0
    got = _rows(import_iceberg(spark, dest), ["k", "s"])
    assert got == {(1, None), (2, "b2")}

def test_sync_refuses_out_of_band_manifest(spark, tmp_path):
    """ADVICE r14: a manifest added to the mirror OUT-OF-BAND (here via
    this engine's own append_iceberg; any other engine's fast-append is
    the same shape) must make the next incremental sync refuse loudly —
    silently rebuilding the manifest list from sync state alone would
    drop the out-of-band rows from the synced snapshot head."""
    from rxlan_aws_lakehouse_spark.iceberg_export import (
        append_iceberg,
        export_iceberg_sync,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "k INT, s STRING"))
    dest = str(tmp_path / "ice")
    export_iceberg_sync(t, dest)
    append_iceberg(
        spark, dest, spark.createDataFrame([(9, "zz")], "k INT, s STRING")
    )
    t.append(spark.createDataFrame([(2, "b")], "k INT, s STRING"))
    with pytest.raises(RuntimeError, match="out-of-band"):
        export_iceberg_sync(t, dest)
    # the out-of-band rows are still readable at the (unsynced) head
    assert _rows(import_iceberg(spark, dest), ["k", "s"]) == {
        (1, "a"), (9, "zz")
    }


def test_stale_version_hint_never_hides_or_wedges(spark, tmp_path):
    """ADVICE r14: the commit point is the atomic metadata-file link;
    version-hint.text is advisory.  A stale hint (writer crashed between
    link and hint update) must neither hide the committed snapshot from
    readers nor wedge subsequent appends on the same occupied slot."""
    from rxlan_aws_lakehouse_spark.iceberg_export import append_iceberg

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "k INT, s STRING"))
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)
    append_iceberg(
        spark, dest, spark.createDataFrame([(2, "b")], "k INT, s STRING")
    )
    hint = os.path.join(dest, "metadata", "version-hint.text")
    with open(hint, "w") as f:
        f.write("1")  # simulate the crash: v2 committed, hint stale
    meta = load_table_metadata(dest)
    assert int(meta["last-sequence-number"]) == 2  # reader sees v2
    assert _rows(import_iceberg(spark, dest), ["k"]) == {(1,), (2,)}
    out = append_iceberg(
        spark, dest, spark.createDataFrame([(3, "c")], "k INT, s STRING")
    )
    assert out["snapshot_seq"] == 3  # lands at v3, no wedge
    assert os.path.exists(
        os.path.join(dest, "metadata", "v3.metadata.json")
    )


def test_sync_publish_is_create_if_absent(spark, tmp_path, monkeypatch):
    """ADVICE r14: sync publishes its metadata file via create-if-absent
    — a commit racing in AFTER the sync read the head (planted here via
    a write_avro hook) makes the sync refuse instead of
    open(w)-TRUNCATING the already-committed metadata."""
    import rxlan_aws_lakehouse_spark.iceberg_export as ie

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "k INT, s STRING"))
    dest = str(tmp_path / "ice")
    ie.export_iceberg_sync(t, dest)
    t.append(spark.createDataFrame([(2, "b")], "k INT, s STRING"))
    occupied = os.path.join(dest, "metadata", "v2.metadata.json")
    real_write_avro = ie.write_avro

    def racing_write_avro(path, schema, rows):
        if not os.path.exists(occupied):
            with open(occupied, "w") as f:
                f.write('{"committed": "by someone else"}')
        return real_write_avro(path, schema, rows)

    monkeypatch.setattr(ie, "write_avro", racing_write_avro)
    with pytest.raises(RuntimeError, match="re-bootstrap"):
        ie.export_iceberg_sync(t, dest)
    with open(occupied) as f:  # the racing commit was NOT truncated
        assert json.load(f) == {"committed": "by someone else"}


def test_racing_publishers_of_one_version(spark, tmp_path, monkeypatch):
    """Two threads of one process publish the same metadata version
    (both expire snapshots from the same head; a barrier holds each at
    its link). One lands, the other gets its caller's lost-race error,
    and the published file is the winner's complete JSON: each writer
    has a temp file of its own, and none is left behind."""
    import threading

    import rxlan_aws_lakehouse_spark.iceberg_export as ie
    from rxlan_aws_lakehouse_spark.iceberg_import import (
        load_table_metadata_versioned,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "k INT, s STRING"))
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)
    ie.append_iceberg(
        spark, dest, spark.createDataFrame([(2, "b")], "k INT, s STRING")
    )
    _, head = load_table_metadata_versioned(dest)
    mdir = os.path.join(dest, "metadata")
    target = os.path.join(mdir, f"v{head + 1}.metadata.json")
    barrier = threading.Barrier(2, timeout=60)
    real_link = os.link
    linked = {}  # thread name -> the JSON text its link published

    def link(src, dst, *args, **kwargs):
        if dst != target:
            return real_link(src, dst, *args, **kwargs)
        with open(src) as f:
            text = f.read()
        barrier.wait()
        real_link(src, dst, *args, **kwargs)
        linked[threading.current_thread().name] = text

    monkeypatch.setattr(ie.os, "link", link)
    results, errors = {}, {}

    def run():
        name = threading.current_thread().name
        try:
            results[name] = ie.expire_snapshots_iceberg(
                spark, dest, older_than_ms=1 << 62
            )
        except Exception as e:  # noqa: BLE001 - the test inspects it
            errors[name] = e

    threads = [threading.Thread(target=run, name=n) for n in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
        assert not th.is_alive()
    assert len(results) == 1 and len(errors) == 1, (results, errors)
    (err,) = errors.values()
    assert isinstance(err, ValueError)
    assert "lost the metadata race" in str(err)
    (winner,) = results
    assert set(linked) == {winner}
    with open(target) as f:
        assert f.read() == linked[winner]
    meta, v = load_table_metadata_versioned(dest)
    assert v == head + 1 and len(meta["snapshots"]) == 1
    with open(os.path.join(mdir, "version-hint.text")) as f:
        assert f.read() == str(head + 1)
    assert not [n for n in os.listdir(mdir) if n.startswith(".") or "tmp" in n]


def test_sync_never_reminted_retired_id_after_plain_overwrite(
    spark, tmp_path
):
    """ADVICE r14: a column retired by a PLAIN OVERWRITE (no txn column
    mapping active) must not free its field id for re-minting — fresh
    mints start above the destination's last-column-id high-water."""
    from rxlan_aws_lakehouse_spark.iceberg_export import (
        export_iceberg_sync,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "k INT, s STRING"))
    dest = str(tmp_path / "ice")
    export_iceberg_sync(t, dest)
    meta0 = load_table_metadata(dest)
    ids0 = {
        f["name"]: f["id"] for f in meta0["schemas"][0]["fields"]
    }
    t.commit(spark.createDataFrame([(2,)], "k INT"))  # drops s
    export_iceberg_sync(t, dest)
    t.commit(spark.createDataFrame([(3, 7.5)], "k INT, z DOUBLE"))
    export_iceberg_sync(t, dest)
    meta = load_table_metadata(dest)
    cur = next(
        s
        for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    ids = {f["name"]: f["id"] for f in cur["fields"]}
    assert ids["k"] == ids0["k"]  # surviving column keeps its id
    assert ids["z"] != ids0["s"]  # retired id is never recycled
    assert ids["z"] > max(ids0.values())
    assert _rows(import_iceberg(spark, dest), ["k", "z"]) == {(3, 7.5)}


def test_sync_metadata_only_commit_is_not_overwrite(spark, tmp_path):
    """ADVICE r14: a sync over a range with NO file changes (metadata-
    only rename) publishes a 0-file 'append' snapshot, not an
    'overwrite' that would trip streaming append-only contracts."""
    from rxlan_aws_lakehouse_spark.iceberg_export import (
        export_iceberg_sync,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "k INT, s STRING"))
    dest = str(tmp_path / "ice")
    export_iceberg_sync(t, dest)
    t.rename_column(spark, "s", "label")
    out = export_iceberg_sync(t, dest)
    assert out["n_adds"] == 0 and out["n_removes"] == 0
    assert out["operation"] == "append"
    meta = load_table_metadata(dest)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert snap["summary"]["operation"] == "append"
    assert _rows(import_iceberg(spark, dest), ["k", "label"]) == {
        (1, "a")
    }


def test_create_v3_table_append_delete_roundtrip(spark, tmp_path):
    """Iceberg v3 WRITE surface (round 16, r15 verdict task 8):
    ``create_iceberg_table(format_version=3)`` reserves row lineage
    from birth (``next-row-id`` 0); each append stamps the snapshot's
    ``first-row-id`` and advances ``next-row-id`` by its added rows
    (the spec's assignment rule); DELETE takes deletion vectors
    (the v3 default) from the first write; the engine's own v3 reader
    round-trips it all.  Versions outside 2/3 refuse by number."""
    from rxlan_aws_lakehouse_spark.iceberg_export import (
        create_iceberg_table,
        delete_iceberg,
    )
    from rxlan_aws_lakehouse_spark.iceberg_import import (
        iceberg_live_files,
    )

    dest = str(tmp_path / "v3native")
    meta = create_iceberg_table(
        dest,
        fields=[
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "v", "required": False, "type": "double"},
        ],
        format_version=3,
    )
    assert meta["format-version"] == 3 and meta["next-row-id"] == 0
    from rxlan_aws_lakehouse_spark.iceberg_export import append_iceberg

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 1.5).alias("v"),
        )

    append_iceberg(spark, dest, batch(0, 20))
    append_iceberg(spark, dest, batch(20, 30))
    meta = load_table_metadata(dest)
    assert meta["next-row-id"] == 30
    snaps = sorted(
        meta["snapshots"], key=lambda s: s["sequence-number"]
    )
    assert [s["first-row-id"] for s in snaps] == [0, 20]
    assert _rows(import_iceberg(spark, dest), ["k"]) == {
        (k,) for k in range(30)
    }
    # v3 DELETE goes straight to deletion vectors — no upgrade dance
    out = delete_iceberg(spark, dest, "k < 5")
    assert out["mode"] == "dv" and out["n_matched"] == 5
    assert _rows(import_iceberg(spark, dest), ["k"]) == {
        (k,) for k in range(5, 30)
    }
    meta = load_table_metadata(dest)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert cur["first-row-id"] == 30  # delete added no rows
    assert meta["next-row-id"] == 30
    st = iceberg_live_files(dest)
    assert any(d.get("dv") for d in st["delete_files"])
    # refusals: only 2/3 creatable; the v4+ read probe is unchanged
    with pytest.raises(ValueError, match="format-version 4"):
        create_iceberg_table(
            str(tmp_path / "v4"), fields=[], format_version=4
        )
    mfile = os.path.join(dest, "metadata", "v1.metadata.json")
    with open(mfile) as f:
        m1 = json.load(f)
    m1["format-version"] = 4
    v4dir = str(tmp_path / "v4probe")
    os.makedirs(os.path.join(v4dir, "metadata"))
    with open(
        os.path.join(v4dir, "metadata", "v1.metadata.json"), "w"
    ) as f:
        json.dump(m1, f)
    with pytest.raises(ValueError, match="not\\s+supported"):
        load_table_metadata(v4dir)


def test_v3_update_advances_row_lineage(spark, tmp_path):
    """UPDATE on a v3-native table: the overwrite snapshot's appended
    copies advance next-row-id; deletion vectors carry the removal."""
    from rxlan_aws_lakehouse_spark.iceberg_export import (
        append_iceberg,
        create_iceberg_table,
        update_iceberg,
    )

    dest = str(tmp_path / "v3upd")
    create_iceberg_table(
        dest,
        fields=[
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "v", "required": False, "type": "double"},
        ],
        format_version=3,
    )
    append_iceberg(
        spark,
        dest,
        spark.range(10).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 1.5).alias("v"),
        ),
    )
    out = update_iceberg(spark, dest, {"v": "v + 100"}, "k < 4")
    assert out["mode"] == "dv" and out["n_matched"] == 4
    meta = load_table_metadata(dest)
    assert meta["next-row-id"] == 14  # 10 appended + 4 updated copies
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert cur["first-row-id"] == 10
    assert _rows(import_iceberg(spark, dest), ["k", "v"]) == {
        (k, k * 1.5 + (100 if k < 4 else 0)) for k in range(10)
    }
