"""Foreign-Delta IMPORT (round 12, r11 verdict task 2).

``import_delta`` must replay an ARBITRARY conformant ``_delta_log`` the
engine did not write: checkpoint parquet (single or multi-part) + JSON
tail, add−remove reconciliation, authoritative ``partitionValues``
(files deliberately NOT laid out hive-style here, so nothing can leak
from path inference), time travel, ``columnMapping.mode=name``
resolution (physicalName field metadata), ID-mode resolution by
parquet field id (round 13), v2 spec checkpoints with sidecars
(round 13), and LOUD refusals for reader features the engine does not
implement. Deletion vectors are covered in test_delta_dv.py. The logs
in these tests are hand-authored from the public protocol spec — never
produced by ``export_delta`` — so they exercise the importer, not the
exporter.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rxlan_aws_lakehouse_spark.delta_export import (
    export_delta,
    import_delta,
    replay_delta_log,
)
from rxlan_aws_lakehouse_spark.txn import TxnTable

SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
    ],
}

# spec-shaped checkpoint arrow schema: configuration / partitionValues
# are map<string,string>, exactly what real writers emit
CKPT_SCHEMA = pa.schema(
    [
        (
            "add",
            pa.struct(
                [
                    ("path", pa.string()),
                    ("partitionValues", pa.map_(pa.string(), pa.string())),
                    ("size", pa.int64()),
                    ("modificationTime", pa.int64()),
                    ("dataChange", pa.bool_()),
                ]
            ),
        ),
        (
            "remove",
            pa.struct(
                [
                    ("path", pa.string()),
                    ("deletionTimestamp", pa.int64()),
                    ("dataChange", pa.bool_()),
                ]
            ),
        ),
        (
            "metaData",
            pa.struct(
                [
                    ("id", pa.string()),
                    ("format", pa.struct([("provider", pa.string())])),
                    ("schemaString", pa.string()),
                    ("partitionColumns", pa.list_(pa.string())),
                    ("configuration", pa.map_(pa.string(), pa.string())),
                    ("createdTime", pa.int64()),
                ]
            ),
        ),
        (
            "protocol",
            pa.struct(
                [
                    ("minReaderVersion", pa.int32()),
                    ("minWriterVersion", pa.int32()),
                ]
            ),
        ),
        ("txn", pa.struct([("appId", pa.string()), ("version", pa.int64())])),
    ]
)


def _meta_action():
    return {
        "metaData": {
            "id": "foreign-1",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(SCHEMA),
            "partitionColumns": ["cat"],
            "configuration": {},
            "createdTime": 0,
        }
    }


def _add(p, pv):
    return {
        "add": {
            "path": p,
            "partitionValues": pv,
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }
    }


class Foreign:
    """Hand-authored foreign Delta table: flat ``data/`` file layout
    (no hive dirs), partition values only in the log."""

    def __init__(self, root: str):
        self.root = root
        self.log = os.path.join(root, "_delta_log")
        os.makedirs(self.log)
        os.makedirs(os.path.join(root, "data"))

    def write_file(self, name, ks):
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(ks, pa.int64()),
                    "v": pa.array([float(x) * 1.5 for x in ks], pa.float64()),
                }
            ),
            os.path.join(self.root, "data", name),
        )
        return f"data/{name}"

    def commit(self, n, actions):
        with open(os.path.join(self.log, f"{n:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    def checkpoint(self, version, adds, parts=None):
        rows = [
            {
                "metaData": {
                    "id": "foreign-1",
                    "format": {"provider": "parquet"},
                    "schemaString": json.dumps(SCHEMA),
                    "partitionColumns": ["cat"],
                    "configuration": [],
                    "createdTime": 0,
                }
            },
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        ] + [
            {
                "add": {
                    "path": p,
                    "partitionValues": list(pv.items()),
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
            for p, pv in adds
        ]
        if parts is None:
            pq.write_table(
                pa.Table.from_pylist(rows, schema=CKPT_SCHEMA),
                os.path.join(self.log, f"{version:020d}.checkpoint.parquet"),
            )
            meta = {"version": version, "size": len(rows)}
        else:
            per = -(-len(rows) // parts)
            for i in range(parts):
                pq.write_table(
                    pa.Table.from_pylist(
                        rows[i * per : (i + 1) * per], schema=CKPT_SCHEMA
                    ),
                    os.path.join(
                        self.log,
                        f"{version:020d}.checkpoint."
                        f"{i + 1:010d}.{parts:010d}.parquet",
                    ),
                )
            meta = {"version": version, "size": len(rows), "parts": parts}
        with open(os.path.join(self.log, "_last_checkpoint"), "w") as fh:
            json.dump(meta, fh)


@pytest.fixture
def foreign(tmp_path):
    f = Foreign(str(tmp_path / "foreign"))
    f1 = f.write_file("part-aaa.parquet", [1, 2, 3])
    f2 = f.write_file("part-bbb.parquet", [4, 5])
    f3 = f.write_file("part-ccc.parquet", [6])
    f4 = f.write_file("part-ddd.parquet", [7, 8])
    f.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta_action(),
            _add(f1, {"cat": "x"}),
            _add(f2, {"cat": "y"}),
        ],
    )
    f.commit(1, [_add(f3, {"cat": None})])
    f.checkpoint(
        1, [(f1, {"cat": "x"}), (f2, {"cat": "y"}), (f3, {"cat": None})]
    )
    f.commit(
        2,
        [
            {"remove": {"path": f2, "deletionTimestamp": 1, "dataChange": True}},
            _add(f4, {"cat": "y"}),
        ],
    )
    return f


def test_import_checkpoint_plus_tail(spark, foreign):
    df = import_delta(spark, foreign.root)
    assert sorted(df.columns) == ["cat", "k", "v"]
    got = {(r["k"], r["cat"]) for r in df.collect()}
    # f2 removed by the tail commit; f3's partition value is JSON null
    assert got == {
        (1, "x"), (2, "x"), (3, "x"), (6, None), (7, "y"), (8, "y")
    }
    total = df.agg(F.sum("v")).collect()[0][0]
    assert abs(total - sum(x * 1.5 for x in [1, 2, 3, 6, 7, 8])) < 1e-9


def test_import_time_travel(spark, foreign):
    # exactly at the checkpoint
    d1 = import_delta(spark, foreign.root, version=1)
    assert {r["k"] for r in d1.collect()} == {1, 2, 3, 4, 5, 6}
    # BEFORE the checkpoint: replay restarts from commit 0
    d0 = import_delta(spark, foreign.root, version=0)
    assert {r["k"] for r in d0.collect()} == {1, 2, 3, 4, 5}
    # cleaned history past the checkpoint refuses reconstructably
    os.unlink(os.path.join(foreign.log, f"{0:020d}.json"))
    with pytest.raises(FileNotFoundError, match="not reconstructable"):
        import_delta(spark, foreign.root, version=0)
    # ... while the checkpoint keeps the head readable
    assert import_delta(spark, foreign.root).count() == 6


def test_import_multipart_checkpoint(spark, foreign):
    # re-publish the same checkpoint as 2 parts, drop the single file
    os.unlink(os.path.join(foreign.log, f"{1:020d}.checkpoint.parquet"))
    foreign.checkpoint(
        1,
        [
            ("data/part-aaa.parquet", {"cat": "x"}),
            ("data/part-bbb.parquet", {"cat": "y"}),
            ("data/part-ccc.parquet", {"cat": None}),
        ],
        parts=2,
    )
    state = replay_delta_log(foreign.root)
    assert len(state["files"]) == 3  # checkpoint seeded across parts
    df = import_delta(spark, foreign.root)
    assert {r["k"] for r in df.collect()} == {1, 2, 3, 6, 7, 8}


def test_import_refusals_by_feature_name(spark, foreign):
    # ID-mode column mapping (parquet field-id resolution) is refused;
    # name mode is supported (test_import_column_mapping_name_mode)
    md = _meta_action()
    md["metaData"]["configuration"] = {"delta.columnMapping.mode": "id"}
    foreign.commit(4, [md])
    with pytest.raises(ValueError, match="columnMapping"):
        import_delta(spark, foreign.root)
    # reader features beyond what the importer implements (deletion
    # vectors ARE implemented since round 13 — test_import_deletion_*)
    foreign.commit(
        6,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["fancyFutureFeature"],
                    "writerFeatures": ["fancyFutureFeature"],
                }
            }
        ],
    )
    with pytest.raises(ValueError, match="fancyFutureFeature"):
        import_delta(spark, foreign.root)
    # but time travel BEFORE the feature commits still reads
    assert import_delta(spark, foreign.root, version=2).count() == 6


def test_import_unpartitioned_and_collision_fallback(spark, tmp_path):
    f = Foreign(str(tmp_path / "f2"))
    p1 = f.write_file("same-name.parquet", [1, 2])
    os.makedirs(os.path.join(f.root, "other"))
    pq.write_table(
        pa.table(
            {
                "k": pa.array([3, 4], pa.int64()),
                "v": pa.array([4.5, 6.0], pa.float64()),
            }
        ),
        os.path.join(f.root, "other", "same-name.parquet"),
    )
    p2 = "other/same-name.parquet"
    meta = _meta_action()
    f.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta,
            _add(p1, {"cat": "a"}),
            _add(p2, {"cat": "b"}),
        ],
    )
    # duplicate basenames: the importer falls back to exact
    # per-partition-group scans
    df = import_delta(spark, f.root)
    got = {(r["k"], r["cat"]) for r in df.collect()}
    assert got == {(1, "a"), (2, "a"), (3, "b"), (4, "b")}

    # unpartitioned table: plain one-scan path
    g = Foreign(str(tmp_path / "f3"))
    q1 = g.write_file("u1.parquet", [10, 11])
    meta2 = _meta_action()
    meta2["metaData"]["partitionColumns"] = []
    schema2 = {
        "type": "struct",
        "fields": [fld for fld in SCHEMA["fields"] if fld["name"] != "cat"],
    }
    meta2["metaData"]["schemaString"] = json.dumps(schema2)
    g.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta2,
            _add(q1, {}),
        ],
    )
    dg = import_delta(spark, g.root)
    assert dg.columns == ["k", "v"]
    assert {r["k"] for r in dg.collect()} == {10, 11}


def test_import_reads_own_export(spark, tmp_path):
    """Bridging check: the generic importer reads the engine's own
    export (hive layout, url-encoded partition paths, checkpoint) and
    matches TxnTable.read exactly."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.range(60).select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") * 2.0).alias("x"),
        ),
        partition_by=["g"],
    )
    dest = str(tmp_path / "mirror")
    export_delta(t, dest)
    imp = import_delta(spark, dest)
    a = sorted(
        tuple(r) for r in imp.select("id", "g", "x").collect()
    )
    b = sorted(
        tuple(r) for r in t.read(spark).select("id", "g", "x").collect()
    )
    assert a == b


def test_format_delta_import_source(spark, foreign):
    """format("delta_import"): same replay through the Spark source
    surface, plus metadata-level file skipping on pushed filters."""
    from rxlan_aws_lakehouse_spark.sources.delta_import_source import (
        DeltaImportReader,
        register_delta_import_source,
    )

    register_delta_import_source(spark)
    df = spark.read.format("delta_import").load(foreign.root)
    assert df.columns == ["k", "v", "cat"]
    got = {(r["k"], r["cat"]) for r in df.collect()}
    assert got == {
        (1, "x"), (2, "x"), (3, "x"), (6, None), (7, "y"), (8, "y")
    }
    # filters are correct THROUGH the source (re-applied row-level)
    assert (
        spark.read.format("delta_import")
        .load(foreign.root)
        .filter(F.col("cat") == "y")
        .count()
        == 2
    )
    assert (
        spark.read.format("delta_import")
        .load(foreign.root)
        .filter(F.col("cat").isNull())
        .count()
        == 1
    )
    # time travel option
    d1 = (
        spark.read.format("delta_import")
        .option("version", 1)
        .load(foreign.root)
    )
    assert {r["k"] for r in d1.collect()} == {1, 2, 3, 4, 5, 6}
    # partition-value file skipping: planning drops non-matching files
    r = DeltaImportReader({"path": foreign.root}, None)
    r._triples = [("cat", "=", "y")]
    assert len(r.partitions()) == 1  # only the post-remove 'y' file
    # a comparison on the partition column prunes the null partition
    r2 = DeltaImportReader({"path": foreign.root}, None)
    r2._triples = [("cat", "=", "zzz")]
    assert len(r2.partitions()) == 0


def test_delta_import_stats_skipping(spark, tmp_path):
    """add.stats minValues/maxValues/nullCount prune data-column
    ranges at plan time — the file-skipping a foreign 100 TB mirror
    needs before Spark plans a task."""
    from rxlan_aws_lakehouse_spark.sources.delta_import_source import (
        DeltaImportReader,
    )

    f = Foreign(str(tmp_path / "s"))
    p1 = f.write_file("s1.parquet", [1, 2, 3])
    p2 = f.write_file("s2.parquet", [100, 101])

    def add_stats(p, kmin, kmax, n):
        a = _add(p, {"cat": "a"})
        a["add"]["stats"] = json.dumps(
            {
                "numRecords": n,
                "minValues": {"k": kmin},
                "maxValues": {"k": kmax},
                "nullCount": {"k": 0},
            }
        )
        return a

    f.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta_action(),
            add_stats(p1, 1, 3, 3),
            add_stats(p2, 100, 101, 2),
        ],
    )
    r = DeltaImportReader({"path": f.root}, None)
    r._triples = [("k", ">=", 50)]
    assert len(r.partitions()) == 1
    r2 = DeltaImportReader({"path": f.root}, None)
    r2._triples = [("k", "<=", 0)]
    assert len(r2.partitions()) == 0
    # and the rows stay correct through the source with the filter
    from rxlan_aws_lakehouse_spark.sources.delta_import_source import (
        register_delta_import_source,
    )

    register_delta_import_source(spark)
    assert (
        spark.read.format("delta_import")
        .load(f.root)
        .filter(F.col("k") >= 50)
        .count()
        == 2
    )


def test_import_column_mapping_name_mode(spark, tmp_path):
    """A hand-authored columnMapping.mode=name table (protocol (2,5),
    physicalName field metadata, PHYSICAL partitionValues keys) reads
    with logical names — and stats/partition skipping translates."""
    from rxlan_aws_lakehouse_spark.sources.delta_import_source import (
        DeltaImportReader,
        register_delta_import_source,
    )

    f = Foreign(str(tmp_path / "cm"))
    # physical on-disk names differ from the logical schema
    p1 = f.write_file("m1.parquet", [1, 2])   # columns k, v (physical)
    p2 = f.write_file("m2.parquet", [50, 51])
    mapped_schema = {
        "type": "struct",
        "fields": [
            {"name": "key", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "k"}},
            {"name": "val", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "v"}},
            {"name": "category", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "cat"}},
        ],
    }

    def add_cm(p, pv_phys, kmin, kmax, n):
        return {
            "add": {
                "path": p,
                "partitionValues": pv_phys,  # PHYSICAL keys per spec
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "stats": json.dumps(
                    {
                        "numRecords": n,
                        "minValues": {"k": kmin},   # physical keys
                        "maxValues": {"k": kmax},
                        "nullCount": {"k": 0},
                    }
                ),
            }
        }

    f.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "cm-1",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(mapped_schema),
                    "partitionColumns": ["category"],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3",
                    },
                    "createdTime": 0,
                }
            },
            add_cm(p1, {"cat": "a"}, 1, 2, 2),
            add_cm(p2, {"cat": "b"}, 50, 51, 2),
        ],
    )
    df = import_delta(spark, f.root)
    assert df.columns == ["key", "val", "category"]
    got = {(r["key"], r["category"]) for r in df.collect()}
    assert got == {(1, "a"), (2, "a"), (50, "b"), (51, "b")}
    # through the format, with logical-name filters
    register_delta_import_source(spark)
    sdf = spark.read.format("delta_import").load(f.root)
    assert sdf.columns == ["key", "val", "category"]
    assert sdf.filter(F.col("category") == "b").count() == 2
    assert sdf.filter(F.col("key") >= 50).count() == 2
    # plan-time skipping translates logical predicates to physical keys
    from pyspark.sql.types import StructType

    logical = StructType.fromJson(mapped_schema)
    r = DeltaImportReader({"path": f.root}, logical)
    r._triples = [("key", ">=", 40)]
    assert len(r.partitions()) == 1
    r2 = DeltaImportReader({"path": f.root}, logical)
    r2._triples = [("category", "=", "a")]
    assert len(r2.partitions()) == 1


def test_mapped_export_round_trips(spark, tmp_path):
    """A txn table with a DIVERGED column mapping exports as a
    spec-correct columnMapping=name Delta table — zero-copy (files
    already carry physical names) — and the importer reads it back
    identical to TxnTable.read; a mirror sync carries a metadata-only
    rename as pure metadata + protocol upgrade."""
    from rxlan_aws_lakehouse_spark.delta_export import (
        export_delta_sync,
        write_delta_checkpoint,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.range(40).select(
            F.col("id"),
            (F.col("id") % 4).cast("string").alias("g"),
            (F.col("id") * 2.0).alias("x"),
        ),
        partition_by=["g"],
    )
    dest = str(tmp_path / "mirror")
    export_delta_sync(t, dest)  # bootstrap: plain (1,2) table
    state0 = replay_delta_log(dest)
    assert (state0["protocol"] or {}).get("minReaderVersion", 1) == 1
    # metadata-only rename on the source, then sync: the mirror gains
    # a protocol upgrade + mapped metaData, NO data files move
    t.rename_column(spark, "x", "score")
    out = export_delta_sync(t, dest)
    assert out["schema_changed"] is True
    assert out["n_adds"] == 0 and out["n_removes"] == 0
    state1 = replay_delta_log(dest)
    assert state1["protocol"]["minReaderVersion"] == 2
    cfg = state1["configuration"]
    assert cfg["delta.columnMapping.mode"] == "name"
    fields = {f["name"]: f for f in state1["schema"]["fields"]}
    assert (
        fields["score"]["metadata"]["delta.columnMapping.physicalName"]
        == "x"
    )
    imp = import_delta(spark, dest)
    assert sorted(imp.columns) == ["g", "id", "score"]
    a = sorted(tuple(r) for r in imp.select("id", "g", "score").collect())
    b = sorted(
        tuple(r)
        for r in t.read(spark).select("id", "g", "score").collect()
    )
    assert a == b
    # a checkpoint must preserve the upgraded protocol + configuration
    write_delta_checkpoint(dest)
    for n in os.listdir(os.path.join(dest, "_delta_log")):
        if n.endswith(".json"):
            os.unlink(os.path.join(dest, "_delta_log", n))
    state2 = replay_delta_log(dest)
    assert state2["protocol"]["minReaderVersion"] == 2
    assert (
        state2["configuration"]["delta.columnMapping.mode"] == "name"
    )
    imp2 = import_delta(spark, dest)
    assert imp2.count() == 40
    # a FRESH export of a mapped table is mapped from commit 0 too
    dest2 = str(tmp_path / "mirror2")
    export_delta(t, dest2)
    st = replay_delta_log(dest2)
    assert st["protocol"]["minReaderVersion"] == 2
    assert import_delta(spark, dest2).count() == 40


def test_router_attach_delta_import(spark, foreign):
    """CREATE TABLE ... USING DELTA_IMPORT attaches a foreign Delta
    table as a read-only SQL view; VERSION AS OF pins time travel;
    DROP TABLE detaches without touching the foreign log."""
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter

    router = TxnSqlRouter(spark)
    router.sql(
        "CREATE TABLE fdelta USING DELTA_IMPORT "
        f"LOCATION '{foreign.root}'"
    )
    got = {
        (r["k"], r["cat"])
        for r in router.sql("SELECT k, cat FROM fdelta").collect()
    }
    assert got == {
        (1, "x"), (2, "x"), (3, "x"), (6, None), (7, "y"), (8, "y")
    }
    router.sql(
        "CREATE TABLE fdelta_v1 USING DELTA_IMPORT "
        f"LOCATION '{foreign.root}' VERSION AS OF 1"
    )
    assert (
        router.sql("SELECT count(*) AS n FROM fdelta_v1").collect()[0]["n"]
        == 6
    )
    router.sql("DROP TABLE fdelta")
    router.sql("DROP TABLE fdelta_v1")
    # the foreign log is untouched by the detach
    assert os.path.exists(
        os.path.join(foreign.log, f"{2:020d}.json")
    )


def test_streaming_foreign_delta(spark, tmp_path):
    """readStream.format("delta_import"): tail a foreign commit log —
    dataChange=false compaction rewrites are never re-emitted,
    restarts resume exactly-once from the checkpoint, removes refuse
    without ignoreDeletes, and a mid-stream schema change fails
    loudly (Delta streaming-source semantics)."""
    from rxlan_aws_lakehouse_spark.sources.delta_import_source import (
        register_delta_import_source,
    )

    register_delta_import_source(spark)
    f = Foreign(str(tmp_path / "ft"))
    meta = _meta_action()

    def dc_add(p, pv, dc=True):
        a = _add(p, pv)
        a["add"]["dataChange"] = dc
        return a

    f.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta,
            dc_add(f.write_file("a.parquet", [1, 2]), {"cat": "x"}),
        ],
    )
    f.commit(1, [dc_add(f.write_file("b.parquet", [3]), {"cat": "y"})])
    # compaction rewrite: same rows, dataChange=false — must be skipped
    f.commit(
        2,
        [dc_add(f.write_file("c.parquet", [1, 2, 3]), {"cat": "x"}, False)],
    )
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("delta_import")
            .option("startingVersion", "earliest")
            .load(f.root)
            .writeStream.format("parquet")
            .option("path", out)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["k"], r["cat"]) for r in spark.read.parquet(out).collect()
        }

    assert drain() == {(1, "x"), (2, "x"), (3, "y")}
    # new commit + restart: exactly-once, only the new rows land
    f.commit(3, [dc_add(f.write_file("d.parquet", [9]), {"cat": None})])
    assert drain() == {(1, "x"), (2, "x"), (3, "y"), (9, None)}

    # a remove fails the stream unless ignoreDeletes
    f.commit(
        4,
        [
            {
                "remove": {
                    "path": "data/b.parquet",
                    "deletionTimestamp": 1,
                    "dataChange": True,
                }
            }
        ],
    )
    q = (
        spark.readStream.format("delta_import")
        .option("startingVersion", "earliest")
        .load(f.root)
        .writeStream.format("memory")
        .queryName("fdel_stream_err")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_err"))
        .start()
    )
    with pytest.raises(Exception, match="ignoreDeletes"):
        q.awaitTermination(120)
    q2 = (
        spark.readStream.format("delta_import")
        .option("startingVersion", "earliest")
        .option("ignoreDeletes", "true")
        .load(f.root)
        .writeStream.format("memory")
        .queryName("fdel_stream_ok")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ok"))
        .start()
    )
    q2.awaitTermination(120)
    assert spark.table("fdel_stream_ok").count() == 4

    # a schema change MID-STREAM (after the reader planned) fails
    # loudly: the plan pinned the old schema, the tail commit carries a
    # new schemaString — restart to pick it up (Delta's own semantics)
    import time as _time

    q3 = (
        spark.readStream.format("delta_import")
        .option("startingVersion", "latest")
        .option("ignoreDeletes", "true")
        .load(f.root)
        .writeStream.format("memory")
        .queryName("fdel_stream_schema")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ckpt_schema"))
        .start()
    )
    try:
        deadline = _time.time() + 60
        while q3.lastProgress is None and _time.time() < deadline:
            _time.sleep(0.2)  # reader planned, stream live
        schema2 = {
            "type": "struct",
            "fields": SCHEMA["fields"]
            + [
                {
                    "name": "extra",
                    "type": "double",
                    "nullable": True,
                    "metadata": {},
                }
            ],
        }
        meta2 = {
            "metaData": {
                **meta["metaData"], "schemaString": json.dumps(schema2)
            }
        }
        f.commit(5, [meta2])
        while q3.exception() is None and _time.time() < deadline:
            _time.sleep(0.2)
        exc = q3.exception()
        assert exc is not None and "schema change" in str(exc)
    finally:
        q3.stop()


def test_convert_from_delta_zero_copy(spark, foreign, tmp_path):
    """convert_from_delta adopts a foreign table's files by hard link
    under a hive layout derived from the log's partitionValues, with
    stats translated from add.stats — and the converted table is a
    full txn citizen (reads, prunes, merges, time-travels)."""
    from rxlan_aws_lakehouse_spark.delta_export import convert_from_delta

    t = convert_from_delta(spark, foreign.root, str(tmp_path / "conv"))
    meta = t._meta(t.current_version())
    assert meta["operation"] == "convert_from_delta"
    assert meta["n_files_written"] == 0  # zero-copy: links only
    assert meta["partition_by"] == ["cat"]
    df = t.read(spark)
    got = {(r["k"], r["cat"]) for r in df.collect()}
    assert got == {
        (1, "x"), (2, "x"), (3, "x"), (6, None), (7, "y"), (8, "y")
    }
    # the adopted files are the SAME inodes as the source's
    src_inode = os.stat(
        os.path.join(foreign.root, "data", "part-aaa.parquet")
    ).st_ino
    assert src_inode in {
        os.stat(os.path.join(t.root, "_versions", t.current_version(), r)).st_ino
        for r in t.files()
    }
    # partition pruning off the adopted layout
    kept, total = t.pruned_files([("cat", "=", "y")])
    assert 0 < len(kept) < total
    # null partition round-trips through the hive sentinel
    assert df.filter(F.col("cat").isNull()).count() == 1
    # the converted table takes ordinary txn writes
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(1, 999.0, "x")], "k long, v double, cat string"
        ),
        ["k"],
    )
    assert t.read(spark).filter(F.col("k") == 1).first()["v"] == 999.0


def test_convert_mapped_delta_full_fidelity(spark, tmp_path):
    """A columnMapping=name source converts at full fidelity: its
    physical names and field ids become the txn column_mapping, so the
    logical schema reads without touching a single file — and a
    re-export round-trips the mapping."""
    from rxlan_aws_lakehouse_spark.delta_export import (
        convert_from_delta,
        export_delta,
        import_delta,
        replay_delta_log,
    )

    # build a mapped source the honest way: a txn table with a
    # metadata-only rename, exported as columnMapping=name
    src = TxnTable(str(tmp_path / "src"))
    src.commit(
        spark.range(30).select(
            F.col("id"), (F.col("id") * 3.0).alias("x")
        )
    )
    src.rename_column(spark, "x", "score")
    mirror = str(tmp_path / "mirror")
    export_delta(src, mirror)
    assert replay_delta_log(mirror)["protocol"]["minReaderVersion"] == 2

    t = convert_from_delta(spark, mirror, str(tmp_path / "conv"))
    meta = t._meta(t.current_version())
    assert meta["n_files_written"] == 0
    cm = meta["column_mapping"]
    assert cm["fields"]["score"]["physical"] == "x"
    df = t.read(spark)
    assert df.columns == ["id", "score"]
    assert df.agg(F.sum("score")).collect()[0][0] == sum(
        i * 3.0 for i in range(30)
    )
    # stats came from add.stats: range pruning works without a rescan
    kept, total = t.pruned_files([("score", ">", 10_000.0)])
    assert kept == [] and total > 0
    # and the converted table re-exports as a mapped Delta table that
    # the importer reads back identically
    mirror2 = str(tmp_path / "mirror2")
    export_delta(t, mirror2)
    imp = import_delta(spark, mirror2)
    assert sorted(tuple(r) for r in imp.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_router_create_from_delta(spark, foreign, tmp_path):
    """CREATE TABLE ... USING TXN LOCATION ... FROM DELTA '<src>':
    the zero-copy conversion through the SQL surface, immediately
    queryable and DML-able as a txn table."""
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter

    router = TxnSqlRouter(spark)
    root = str(tmp_path / "conv_sql")
    res = router.sql(
        f"CREATE TABLE conv USING TXN LOCATION '{root}' "
        f"FROM DELTA '{foreign.root}'"
    ).collect()[0]
    assert res["operation"] == "convert_from_delta"
    got = {
        (r["k"], r["cat"])
        for r in router.sql("SELECT k, cat FROM conv").collect()
    }
    assert got == {
        (1, "x"), (2, "x"), (3, "x"), (6, None), (7, "y"), (8, "y")
    }
    router.sql("DELETE FROM conv WHERE k = 7")
    assert (
        router.sql("SELECT count(*) AS n FROM conv").collect()[0]["n"] == 5
    )
    with pytest.raises(ValueError, match="PARTITIONED BY"):
        router.sql(
            f"CREATE TABLE conv2 USING TXN PARTITIONED BY (cat) "
            f"LOCATION '{root}2' FROM DELTA '{foreign.root}'"
        )


def test_stats_ts_suffix_normalization(tmp_path):
    """Foreign timestamp stats with fractional/timezone suffixes
    normalize into the manifest's naive ``isoformat(sep=' ')`` domain
    (a bare T-to-space swap would keep the suffix and make an
    equal-to-min predicate compare BELOW the stored min lexically —
    silently pruning the file); unparseable stats drop the column,
    never mis-prune."""
    from rxlan_aws_lakehouse_spark.delta_export import (
        _entry_from_add,
        _manifest_ts,
    )

    assert _manifest_ts("2021-01-01T00:00:00.000Z") == "2021-01-01 00:00:00"
    assert _manifest_ts("2021-01-01T05:30:00+05:30") == "2021-01-01 00:00:00"
    assert (
        _manifest_ts("2021-06-01T12:00:00.250000")
        == "2021-06-01 12:00:00.250000"
    )
    assert _manifest_ts("not-a-timestamp") is None

    add = {
        "size": 123,
        "stats": json.dumps(
            {
                "numRecords": 7,
                "minValues": {
                    "ts": "2021-01-01T00:00:00.000Z",
                    "bad": "nope",
                    "k": 1,
                },
                "maxValues": {
                    "ts": "2021-01-02T00:00:00.000Z",
                    "bad": "nope",
                    "k": 9,
                },
                "nullCount": {"ts": 0, "bad": 0, "k": 0},
            }
        ),
    }
    types = {"ts": "timestamp", "bad": "timestamp", "k": "long"}
    e = _entry_from_add(add, "/nonexistent", types)
    assert e["rows"] == 7 and e["bytes"] == 123
    assert e["columns"]["ts"]["min"] == "2021-01-01 00:00:00"
    assert e["columns"]["ts"]["max"] == "2021-01-02 00:00:00"
    # the min is now EQUAL to a naive predicate literal at the true min
    assert e["columns"]["ts"]["min"] <= "2021-01-01 00:00:00"
    # unparseable ts stats: column dropped entirely (conservative)
    assert "bad" not in e["columns"]
    assert e["columns"]["k"]["min"] == 1.0


def test_import_encodable_basename_no_row_loss(spark, tmp_path):
    """A partitioned add whose basename percent-encodes in a URI
    (space, '%') must not silently vanish from the fast-path broadcast
    join on ``_metadata.file_path``: the importer detects the
    encodable name and takes the exact per-group branch."""
    f = Foreign(str(tmp_path / "fenc"))
    p1 = f.write_file("part 0001.parquet", [1, 2])  # space in basename
    p2 = f.write_file("part%2.parquet", [3])  # literal '%'
    p3 = f.write_file("part-plain.parquet", [4])
    f.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta_action(),
            _add(p1, {"cat": "a"}),
            _add(p2, {"cat": "b"}),
            _add(p3, {"cat": "a"}),
        ],
    )
    df = import_delta(spark, f.root)
    got = {(r["k"], r["cat"]) for r in df.collect()}
    assert got == {(1, "a"), (2, "a"), (3, "b"), (4, "a")}


def test_router_attach_refuses_shadowing(spark, foreign, tmp_path):
    """CREATE TABLE ... USING DELTA_IMPORT must not shadow an existing
    txn table or a prior foreign attachment (the attach would overwrite
    the temp views while the stale txn entry lingers in SHOW TABLES);
    IF NOT EXISTS makes the repeat-attach a no-op."""
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter

    router = TxnSqlRouter(spark)
    root = str(tmp_path / "shadow_t")
    router.sql(f"CREATE TABLE shad (k INT) USING TXN LOCATION '{root}'")
    with pytest.raises(ValueError, match="already exists"):
        router.sql(
            "CREATE TABLE shad USING DELTA_IMPORT "
            f"LOCATION '{foreign.root}'"
        )
    # the txn table is untouched by the refused attach
    router.sql("INSERT INTO shad VALUES (5)")
    assert (
        router.sql("SELECT count(*) AS n FROM shad").collect()[0]["n"] == 1
    )
    router.sql(
        "CREATE TABLE fshadow USING DELTA_IMPORT "
        f"LOCATION '{foreign.root}'"
    )
    with pytest.raises(ValueError, match="already exists"):
        router.sql(
            "CREATE TABLE fshadow USING DELTA_IMPORT "
            f"LOCATION '{foreign.root}'"
        )
    res = router.sql(
        "CREATE TABLE IF NOT EXISTS fshadow USING DELTA_IMPORT "
        f"LOCATION '{foreign.root}'"
    ).collect()[0]
    assert res["operation"] == "attach_delta_import_exists"
    router.sql("DROP TABLE fshadow")
    router.sql("DROP TABLE shad")


def _id_mode_table(tmp_path):
    """Hand-authored columnMapping.mode=id table (round 13, r12 verdict
    task 5): the parquet files carry field IDs in their footers and
    deliberately WRONG column names (neither logical nor physicalName),
    so only spec-correct field-id resolution can read them — the exact
    scenario ID mode exists for (ids survive engine rewrites that
    names may not)."""
    root = str(tmp_path / "idmode")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "data"))

    def file_with_ids(name, ks, cats):
        # arbitrary file-local column names; only the ids are right
        sch = pa.schema(
            [
                pa.field(
                    f"rewritten_{name}_k",
                    pa.int64(),
                    metadata={b"PARQUET:field_id": b"1"},
                ),
                pa.field(
                    f"rewritten_{name}_c",
                    pa.string(),
                    metadata={b"PARQUET:field_id": b"2"},
                ),
            ]
        )
        pq.write_table(
            pa.table(
                [pa.array(ks, pa.int64()), pa.array(cats, pa.string())],
                schema=sch,
            ),
            os.path.join(root, "data", name),
        )
        return f"data/{name}"

    r1 = file_with_ids("a.parquet", [1, 2], ["u", "v"])
    r2 = file_with_ids("b.parquet", [3], ["w"])
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": "k",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-phys-k",
                },
            },
            {
                "name": "cat",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-phys-c",
                },
            },
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "idmode-1",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "2",
                },
                "createdTime": 0,
            }
        },
        _add(r1, {}),
        _add(r2, {}),
    ]
    with open(
        os.path.join(root, "_delta_log", f"{0:020d}.json"), "w"
    ) as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return root


def test_import_column_mapping_id_mode(spark, tmp_path):
    root = _id_mode_table(tmp_path)
    df = import_delta(spark, root)
    assert df.columns == ["k", "cat"]
    assert {(r["k"], r["cat"]) for r in df.collect()} == {
        (1, "u"), (2, "v"), (3, "w")
    }


def test_format_delta_import_id_mode(spark, tmp_path):
    from rxlan_aws_lakehouse_spark.sources.delta_import_source import (
        register_delta_import_source,
    )

    register_delta_import_source(spark)
    root = _id_mode_table(tmp_path)
    df = spark.read.format("delta_import").load(root)
    assert {(r["k"], r["cat"]) for r in df.collect()} == {
        (1, "u"), (2, "v"), (3, "w")
    }


def test_convert_refuses_id_mode(spark, tmp_path):
    from rxlan_aws_lakehouse_spark.delta_export import convert_from_delta

    root = _id_mode_table(tmp_path)
    with pytest.raises(ValueError, match="field id"):
        convert_from_delta(spark, root, str(tmp_path / "cv"))


def _v2_checkpoint(f: Foreign, version: int, adds, *, as_json=False):
    """Author a V2 SPEC checkpoint: UUID-named top-level file holding
    protocol/metaData/checkpointMetadata/sidecar actions, the
    add actions split across TWO sidecar parquet files under
    _delta_log/_sidecars/ (PROTOCOL.md 'V2 spec' checkpoint shape)."""
    sidecars_dir = os.path.join(f.log, "_sidecars")
    os.makedirs(sidecars_dir, exist_ok=True)
    side_schema = pa.schema(
        [
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        (
                            "partitionValues",
                            pa.map_(pa.string(), pa.string()),
                        ),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )
    half = (len(adds) + 1) // 2
    side_names = []
    for i, chunk in enumerate((adds[:half], adds[half:])):
        name = f"sc-{version}-{i}.parquet"
        rows = [
            {
                "add": {
                    "path": p,
                    "partitionValues": list(pv.items()),
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
            for p, pv in chunk
        ]
        pq.write_table(
            pa.Table.from_pylist(rows, schema=side_schema),
            os.path.join(sidecars_dir, name),
        )
        side_names.append(name)
    proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"],
        "writerFeatures": ["v2Checkpoint"],
    }
    meta = _meta_action()["metaData"]
    top_name = (
        f"{version:020d}.checkpoint."
        f"80a083e8-7026-4e79-81be-64bd76c43a11."
        + ("json" if as_json else "parquet")
    )
    if as_json:
        with open(os.path.join(f.log, top_name), "w") as fh:
            fh.write(json.dumps({"protocol": proto}) + "\n")
            fh.write(json.dumps({"metaData": meta}) + "\n")
            fh.write(
                json.dumps(
                    {"checkpointMetadata": {"version": version, "tags": {}}}
                )
                + "\n"
            )
            for n in side_names:
                fh.write(
                    json.dumps(
                        {
                            "sidecar": {
                                "path": n,
                                "sizeInBytes": os.path.getsize(
                                    os.path.join(sidecars_dir, n)
                                ),
                                "modificationTime": 0,
                            }
                        }
                    )
                    + "\n"
                )
    else:
        top_schema = pa.schema(
            [
                (
                    "protocol",
                    pa.struct(
                        [
                            ("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32()),
                            ("readerFeatures", pa.list_(pa.string())),
                            ("writerFeatures", pa.list_(pa.string())),
                        ]
                    ),
                ),
                (
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            ("format", pa.struct([("provider", pa.string())])),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            (
                                "configuration",
                                pa.map_(pa.string(), pa.string()),
                            ),
                            ("createdTime", pa.int64()),
                        ]
                    ),
                ),
                (
                    "checkpointMetadata",
                    pa.struct(
                        [
                            ("version", pa.int64()),
                            ("tags", pa.map_(pa.string(), pa.string())),
                        ]
                    ),
                ),
                (
                    "sidecar",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("sizeInBytes", pa.int64()),
                            ("modificationTime", pa.int64()),
                        ]
                    ),
                ),
            ]
        )
        rows = [
            {"protocol": proto},
            {
                "metaData": {
                    "id": meta["id"],
                    "format": {"provider": "parquet"},
                    "schemaString": meta["schemaString"],
                    "partitionColumns": meta["partitionColumns"],
                    "configuration": [],
                    "createdTime": 0,
                }
            },
            {"checkpointMetadata": {"version": version, "tags": []}},
        ] + [
            {
                "sidecar": {
                    "path": n,
                    "sizeInBytes": os.path.getsize(
                        os.path.join(sidecars_dir, n)
                    ),
                    "modificationTime": 0,
                }
            }
            for n in side_names
        ]
        pq.write_table(
            pa.Table.from_pylist(rows, schema=top_schema),
            os.path.join(f.log, top_name),
        )
    with open(os.path.join(f.log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version}, fh)


@pytest.mark.parametrize("as_json", [False, True])
def test_import_v2_checkpoint_with_sidecars(spark, tmp_path, as_json):
    """A v2-checkpoint table (UUID naming, sidecar parquet files) reads
    correctly AFTER the covered JSON commits are cleaned up — replay
    can only succeed by seeding from the v2 checkpoint + sidecars."""
    f = Foreign(str(tmp_path / "v2"))
    f1 = f.write_file("part-aaa.parquet", [1, 2, 3])
    f2 = f.write_file("part-bbb.parquet", [4, 5])
    f3 = f.write_file("part-ccc.parquet", [6])
    f.commit(
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint"],
                }
            },
            _meta_action(),
            _add(f1, {"cat": "x"}),
            _add(f2, {"cat": "y"}),
        ],
    )
    f.commit(1, [_add(f3, {"cat": None})])
    _v2_checkpoint(
        f,
        1,
        [(f1, {"cat": "x"}), (f2, {"cat": "y"}), (f3, {"cat": None})],
        as_json=as_json,
    )
    # log cleanup: the checkpoint is now the only source of v0..v1
    os.unlink(os.path.join(f.log, f"{0:020d}.json"))
    os.unlink(os.path.join(f.log, f"{1:020d}.json"))
    # tail commit after the checkpoint
    f4 = f.write_file("part-ddd.parquet", [7])
    f.commit(
        2,
        [
            {"remove": {"path": f2, "deletionTimestamp": 1, "dataChange": True}},
            _add(f4, {"cat": "y"}),
        ],
    )
    state = replay_delta_log(f.root)
    assert state["n_commits"] == 3
    assert state["protocol"]["readerFeatures"] == ["v2Checkpoint"]
    df = import_delta(spark, f.root)
    assert {(r["k"], r["cat"]) for r in df.collect()} == {
        (1, "x"), (2, "x"), (3, "x"), (6, None), (7, "y")
    }
    # the format("delta_import") source replays the same way
    from rxlan_aws_lakehouse_spark.sources.delta_import_source import (
        register_delta_import_source,
    )

    register_delta_import_source(spark)
    assert (
        spark.read.format("delta_import").load(f.root).count() == 5
    )


WRITER_SCRIPT = r"""
import json, os, sys, time
import pyarrow as pa
import pyarrow.parquet as pq
sys.path.insert(0, sys.argv[5])
from rxlan_aws_lakehouse_spark.delta_export import write_delta_checkpoint

root, lo, hi, do_ckpt = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4] == "1"
)
log = os.path.join(root, "_delta_log")
for n in range(lo, hi + 1):
    rel = f"data/w{n:04d}.parquet"
    pq.write_table(
        pa.table({
            "k": pa.array([n], pa.int64()),
            "v": pa.array([n * 1.5], pa.float64()),
        }),
        os.path.join(root, rel),
    )
    action = {"add": {
        "path": rel, "partitionValues": {}, "size": 1,
        "modificationTime": 0, "dataChange": True,
    }}
    tmp = os.path.join(log, f".tmp-{n}")
    with open(tmp, "w") as fh:
        fh.write(json.dumps(action) + "\n")
        fh.flush(); os.fsync(fh.fileno())
    os.rename(tmp, os.path.join(log, f"{n:020d}.json"))
    time.sleep(0.1)
if do_ckpt:
    write_delta_checkpoint(root)
"""


def test_stream_tails_foreign_log_under_concurrent_writer(spark, tmp_path):
    """TRUE two-process probe (r12 verdict task 8): separate python
    processes append 20 commits total (atomic tmp+rename publishes)
    while this driver's ``readStream.format("delta_import")`` tails the
    log through repeated availableNow runs.  Phase 1's writer finishes
    with a CHECKPOINT publish, so phase 2's restarts resume from the
    sink offsets ACROSS the foreign checkpoint boundary, with the
    phase-2 writer still appending concurrently.  Exactly-once
    contract: every appended row lands in the parquet sink exactly
    once, none lost, none duplicated."""
    import subprocess
    import sys as _sys
    import time as _time

    from rxlan_aws_lakehouse_spark.sources.delta_import_source import (
        register_delta_import_source,
    )

    register_delta_import_source(spark)
    f = Foreign(str(tmp_path / "tail"))
    meta = _meta_action()
    schema2 = {
        "type": "struct",
        "fields": [
            fld for fld in SCHEMA["fields"] if fld["name"] != "cat"
        ],
    }
    meta["metaData"]["schemaString"] = json.dumps(schema2)
    meta["metaData"]["partitionColumns"] = []
    r0 = f.write_file("bootstrap.parquet", [0])
    f.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta,
            _add(r0, {}),
        ],
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (
            spark.readStream.format("delta_import")
            .option("startingVersion", "earliest")
            .load(f.root)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def spawn(lo, hi, do_ckpt):
        return subprocess.Popen(
            [
                _sys.executable,
                "-c",
                WRITER_SCRIPT,
                f.root,
                str(lo),
                str(hi),
                "1" if do_ckpt else "0",
                repo,
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )

    def sink_count():
        try:
            return spark.read.parquet(out_dir).count()
        except Exception:
            return 0

    n_commits = 20
    restarts = 0
    # phase 1: writer appends 1..10 concurrently, then checkpoints;
    # the stream tails it live
    w1 = spawn(1, n_commits // 2, True)
    try:
        for _ in range(40):
            run_stream()
            restarts += 1
            if sink_count() >= n_commits // 2 + 1 and w1.poll() is not None:
                break
            _time.sleep(0.2)
    finally:
        w1.wait(timeout=60)
    assert w1.returncode == 0, w1.stderr.read().decode()[-2000:]
    assert os.path.exists(os.path.join(f.log, "_last_checkpoint"))
    # phase 2: restarts resume from the sink offsets ACROSS the
    # published checkpoint while a second writer keeps appending
    w2 = spawn(n_commits // 2 + 1, n_commits, False)
    try:
        for _ in range(40):
            run_stream()
            restarts += 1
            if sink_count() >= n_commits + 1 and w2.poll() is not None:
                break
            _time.sleep(0.2)
    finally:
        w2.wait(timeout=60)
    assert w2.returncode == 0, w2.stderr.read().decode()[-2000:]
    got = [r["k"] for r in spark.read.parquet(out_dir).collect()]
    # exactly once: every version's row present, no duplicates
    assert sorted(got) == list(range(0, n_commits + 1))
    assert restarts >= 2  # guaranteed by the two phases


def test_import_timestamp_as_of(spark, tmp_path):
    """timestampAsOf time travel on a foreign log: the latest commit
    at or before the target, by commitInfo timestamps with the spec's
    monotonicity adjustment; before-history targets refuse."""
    from rxlan_aws_lakehouse_spark.delta_export import (
        resolve_delta_timestamp,
    )
    from rxlan_aws_lakehouse_spark.sources.delta_import_source import (
        register_delta_import_source,
    )

    f = Foreign(str(tmp_path / "ts"))
    meta = _meta_action()
    r1 = f.write_file("a.parquet", [1])
    r2 = f.write_file("b.parquet", [2])
    r3 = f.write_file("c.parquet", [3])
    base = 1_600_000_000_000
    f.commit(
        0,
        [
            {"commitInfo": {"timestamp": base, "operation": "WRITE"}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta,
            _add(r1, {"cat": "x"}),
        ],
    )
    f.commit(
        1,
        [
            {"commitInfo": {"timestamp": base + 60_000}},
            _add(r2, {"cat": "x"}),
        ],
    )
    # commit 2's clock runs BACKWARD: monotonicity clamps it to just
    # after commit 1, so it is still selectable by a later target
    f.commit(
        2,
        [
            {"commitInfo": {"timestamp": base + 30_000}},
            _add(r3, {"cat": "x"}),
        ],
    )
    assert resolve_delta_timestamp(f.root, base) == 0
    assert resolve_delta_timestamp(f.root, base + 59_999) == 0
    assert resolve_delta_timestamp(f.root, base + 60_000) == 1
    # the backward commit resolves AFTER commit 1 (clamped)
    assert resolve_delta_timestamp(f.root, base + 60_001) == 2
    with pytest.raises(ValueError, match="at or before"):
        resolve_delta_timestamp(f.root, base - 1)
    # ISO-string form, end to end through import_delta
    # (base = 2020-09-13T12:26:40Z; +80 s covers all three commits,
    # commit 2 having been clamped to base+60.001 s)
    df = import_delta(
        spark, f.root, timestamp="2020-09-13T12:28:00.000Z"
    )
    assert {r["k"] for r in df.collect()} == {1, 2, 3}
    with pytest.raises(ValueError, match="not both"):
        import_delta(spark, f.root, version=1, timestamp=base)
    # the data source option + SQL verb
    register_delta_import_source(spark)
    d1 = (
        spark.read.format("delta_import")
        .option("timestampAsOf", base + 60_000)
        .load(f.root)
    )
    assert {r["k"] for r in d1.collect()} == {1, 2}
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter

    router = TxnSqlRouter(spark)
    router.sql(
        "CREATE TABLE fts USING DELTA_IMPORT "
        f"LOCATION '{f.root}' TIMESTAMP AS OF '2020-09-13 12:26:40'"
    )
    assert (
        router.sql("SELECT count(*) AS n FROM fts").collect()[0]["n"]
        == 1
    )
    router.sql("DROP TABLE fts")


# ---------------------------------------------------- foreign append
def _plain_foreign(tmp_path):
    f = Foreign(str(tmp_path / "fa"))
    f1 = f.write_file("a.parquet", [1, 2])
    f.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta_action(),
            _add(f1, {"cat": "x"}),
        ],
    )
    return f


def test_append_delta_foreign(spark, tmp_path):
    """append_delta (round 14): new rows land as ONE add-commit against
    a foreign log — physical hive layout, authoritative
    partitionValues, footer-derived stats — and import_delta sees
    old + new, including a null partition value."""
    from rxlan_aws_lakehouse_spark.delta_export import append_delta

    f = _plain_foreign(tmp_path)
    out = append_delta(
        spark,
        f.root,
        spark.createDataFrame(
            [(5, 7.5, "y"), (6, 9.0, None)], "k LONG, v DOUBLE, cat STRING"
        ),
    )
    assert out["version"] == 1 and out["n_rows"] == 2
    got = {
        (r["k"], r["cat"])
        for r in import_delta(spark, f.root).collect()
    }
    assert got == {(1, "x"), (2, "x"), (5, "y"), (6, None)}
    state = replay_delta_log(f.root)
    new_adds = [
        a for rel, a in state["adds"].items() if rel != "data/a.parquet"
    ]
    assert new_adds
    for a in new_adds:
        st = json.loads(a["stats"])
        assert st["numRecords"] >= 1 and "k" in st["minValues"]
        assert a["partitionValues"].keys() == {"cat"}
    # appends do not evolve schema
    with pytest.raises(ValueError, match="do not match"):
        append_delta(
            spark, f.root, spark.createDataFrame([(1,)], "k LONG")
        )


def test_append_delta_writer_gates(spark, tmp_path):
    """CHECK constraints, invariants and per-feature writer gates
    refuse loudly by name."""
    from rxlan_aws_lakehouse_spark.delta_export import append_delta

    df = spark.createDataFrame([(9, 1.0, "z")], "k LONG, v DOUBLE, cat STRING")
    # configuration CHECK constraint
    f1 = Foreign(str(tmp_path / "c1"))
    m = _meta_action()
    m["metaData"]["configuration"] = {
        "delta.constraints.pos": "k > 0"
    }
    f1.commit(
        0,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}}, m],
    )
    with pytest.raises(ValueError, match="delta.constraints.pos"):
        append_delta(spark, f1.root, df)
    # unsupported writer feature
    f2 = Foreign(str(tmp_path / "c2"))
    f2.commit(
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["identityColumns"],
                }
            },
            _meta_action(),
        ],
    )
    with pytest.raises(ValueError, match="identityColumns"):
        append_delta(spark, f2.root, df)
    # schema-metadata invariant
    f3 = Foreign(str(tmp_path / "c3"))
    m3 = _meta_action()
    sch = json.loads(m3["metaData"]["schemaString"])
    sch["fields"][0]["metadata"] = {
        "delta.invariants": '{"expression":{"expression":"k > 0"}}'
    }
    m3["metaData"]["schemaString"] = json.dumps(sch)
    f3.commit(
        0,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}, m3],
    )
    with pytest.raises(ValueError, match="invariant"):
        append_delta(spark, f3.root, df)


def test_append_delta_commit_race_retries(spark, tmp_path, monkeypatch):
    """A lost commit race (the slot filled between replay and publish)
    re-replays and lands in the NEXT slot — the spec's
    optimistic-concurrency loop."""
    import rxlan_aws_lakehouse_spark.delta_export as dx

    f = _plain_foreign(tmp_path)
    real_put_if_absent = dx.LOCAL.put_if_absent
    raced = {"done": False}

    def racing_put_if_absent(log_path, data):
        if not raced["done"]:
            raced["done"] = True
            # a competing writer takes the slot first
            with open(log_path, "w") as fh:
                fh.write(
                    json.dumps(
                        {"commitInfo": {"timestamp": 0, "operation": "WRITE"}}
                    )
                    + "\n"
                )
        return real_put_if_absent(log_path, data)

    monkeypatch.setattr(dx.LOCAL, "put_if_absent", racing_put_if_absent)
    out = dx.append_delta(
        spark,
        f.root,
        spark.createDataFrame([(7, 1.5, "y")], "k LONG, v DOUBLE, cat STRING"),
    )
    assert out["version"] == 2  # slot 1 was lost to the racer
    assert {r["k"] for r in import_delta(spark, f.root).collect()} == {
        1, 2, 7,
    }


def test_append_delta_column_mapped_mirror(spark, tmp_path):
    """Appending onto a columnMapping=name table (this engine's own
    renamed-table mirror as the fixture): files carry PHYSICAL column
    names, partitionValues keys are physical, and the foreign read
    surfaces the logical schema with the new rows."""
    from pyspark.sql import functions as F

    from rxlan_aws_lakehouse_spark.delta_export import (
        append_delta,
        export_delta,
    )
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b")], "k INT, amount DOUBLE, seg STRING"
        ),
        partition_by=["seg"],
    )
    t.rename_column(spark, "amount", "amt")
    dest = str(tmp_path / "mirror")
    export_delta(t, dest)
    out = append_delta(
        spark,
        dest,
        spark.createDataFrame([(3, 30.0, "a")], "k INT, amt DOUBLE, seg STRING"),
    )
    assert out["n_rows"] == 1
    df = import_delta(spark, dest)
    assert set(df.columns) == {"k", "amt", "seg"}
    assert {(r["k"], r["amt"], r["seg"]) for r in df.collect()} == {
        (1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "a"),
    }
    state = replay_delta_log(dest)
    # partitionValues keys must be the PHYSICAL spelling everywhere
    phys_keys = {
        k for a in state["adds"].values() for k in a["partitionValues"]
    }
    assert all(not k.startswith("amt") for k in phys_keys)


def test_append_delta_id_mode(spark, tmp_path):
    """Appending onto a columnMapping=id foreign table writes files
    under PHYSICAL names WITH matching parquet field ids — the id-mode
    writer rule — and the id-based read binds old and new files."""
    import pyarrow.parquet as _pq

    from rxlan_aws_lakehouse_spark.delta_export import append_delta

    root = _id_mode_table(tmp_path)
    out = append_delta(
        spark,
        root,
        spark.createDataFrame([(9, "z")], "k LONG, cat STRING"),
    )
    assert out["n_rows"] == 1
    df = import_delta(spark, root)
    assert {(r["k"], r["cat"]) for r in df.collect()} == {
        (1, "u"), (2, "v"), (3, "w"), (9, "z")
    }
    state = replay_delta_log(root)
    new_rel = [
        r for r in state["files"] if r not in ("data/a.parquet", "data/b.parquet")
    ][0]
    sch = _pq.read_schema(os.path.join(root, new_rel))
    ids = {
        f.name: int((f.metadata or {})[b"PARQUET:field_id"])
        for f in sch
        if (f.metadata or {}).get(b"PARQUET:field_id")
    }
    assert ids == {"col-phys-k": 1, "col-phys-c": 2}
