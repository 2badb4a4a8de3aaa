"""TxnTable: atomic snapshot commits — the property the reference's staged
Redshift COPY gives its gold layer (glue/bronze_to_silver_openweather.py:
134-148): a reader concurrent with a rewrite never observes a torn table."""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

from rxlan_aws_lakehouse_spark.store import InMemoryStore, LocalStore
from rxlan_aws_lakehouse_spark.txn import ConcurrentCommitError, TxnTable
from rxlan_aws_lakehouse_spark import warehouse


@pytest.fixture(params=["localfs", "etag"])
def store(request):
    """Both shipped stores: the POSIX one (``localfs``) and the
    object-store-shaped in-memory one with a create-only PUT (``etag``).
    The log-protocol, race and stress tests run over each, so the
    protocol is shown to need nothing but get/put_if_absent/put."""
    return LocalStore() if request.param == "localfs" else InMemoryStore()


def _drop(spark, *tables):
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def _df(spark, n, tag="a"):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.lit(tag).alias("tag"),
        (F.col("id") % 3).cast("string").alias("dt"),
    )


def test_commit_read_roundtrip_and_history(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    assert t.current_version() is None
    v1 = t.commit(_df(spark, 10))
    assert v1 == "v00000001" and t.read(spark).count() == 10
    v2 = t.commit(_df(spark, 25))
    assert t.current_version() == v2
    assert t.read(spark).count() == 25
    # snapshot read: explicit old version still intact
    assert t.read(spark, v1).count() == 10
    hist = t.history()
    assert [h["version"] for h in hist] == [v1, v2]
    assert hist[1]["parent"] == v1


def test_partition_spec_survives_merge_and_compact(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 30), partition_by=["dt"])
    updates = _df(spark, 5, tag="upd")
    t.merge_upsert(spark, updates, keys=["k"])
    t.compact(spark)
    # every snapshot dir after the rewrites is still hive-partitioned on dt
    for meta in t.history():
        assert meta["partition_by"] == ["dt"]
    data = os.path.join(t.root, "_versions", t.current_version())
    assert any(d.startswith("dt=") for d in os.listdir(data))
    got = t.read(spark)
    assert got.count() == 30
    assert got.filter(F.col("tag") == "upd").count() == 5


def test_merge_upsert_replaces_and_appends(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 10))
    updates = spark.range(8, 14).select(
        F.col("id").alias("k"), F.lit("new").alias("tag"),
        F.lit("0").alias("dt"),
    )
    t.merge_upsert(spark, updates, keys=["k"])
    got = t.read(spark)
    assert got.count() == 14  # 10 originals, 2 replaced, 4 appended
    assert got.filter(F.col("tag") == "new").count() == 6


def test_reader_never_sees_torn_table(spark, tmp_path):
    """Interleave snapshot reads with commits: every observed row count must
    be exactly one committed version's count — no partial directories."""
    t = TxnTable(str(tmp_path / "t"))
    sizes = [10, 40, 70, 100, 130]
    t.commit(_df(spark, sizes[0]))
    committed = {sizes[0]}
    lock = threading.Lock()
    stop = threading.Event()
    errors: list[str] = []

    def writer():
        try:
            for n in sizes[1:]:
                # register BEFORE the swap: a reader may legally see the new
                # version the instant the pointer lands
                with lock:
                    committed.add(n)
                t.commit(_df(spark, n))
        finally:
            stop.set()

    w = threading.Thread(target=writer)
    w.start()
    while not stop.is_set():
        n = t.read(spark).count()
        with lock:
            ok = n in committed
        if not ok:
            errors.append(f"torn read: {n} rows not a committed size")
            break
    w.join()
    assert not errors, errors
    assert t.read(spark).count() == sizes[-1]


def test_orphan_slot_does_not_block_commits(spark, tmp_path):
    """A crashed commit's leftover version dir must not wedge the table:
    _next_version skips occupied slots instead of colliding forever."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 10))
    os.makedirs(os.path.join(t.root, "_versions", "v00000002"))  # orphan
    v = t.commit(_df(spark, 20))
    assert v == "v00000003"
    assert t.current_version() == v
    assert t.read(spark).count() == 20
    assert t.read(spark, v1).count() == 10


def test_failed_commit_leaves_pointer_and_no_debris(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 10))
    # a df whose job fails mid-write: error raised inside an executor task
    bad = _df(spark, 20).withColumn(
        "boom", F.assert_true(F.col("k") < 5, F.lit("forced failure"))
    )
    with pytest.raises(Exception):
        t.commit(bad)
    assert t.current_version() == v1
    assert t.read(spark).count() == 10
    # no .tmp staging debris, no unreferenced slots
    assert os.listdir(os.path.join(t.root, "_versions")) == [v1]


def test_losing_racer_never_deletes_winner_snapshot(spark, tmp_path, monkeypatch):
    """Two writers race to the same version slot: the loser must fail with
    ConcurrentCommitError and clean up ONLY its own staging dir — the
    winner's committed (pointer-referenced) snapshot survives untouched."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 10))
    winner = t.commit(_df(spark, 20))  # occupies v00000002, pointer -> it
    loser = TxnTable(t.root)
    # loser computed its slot before the winner renamed (the race)
    monkeypatch.setattr(loser, "_next_version", lambda: winner)
    with pytest.raises(ConcurrentCommitError):
        loser.merge_upsert(
            spark,
            spark.range(3).select(
                F.col("id").alias("k"), F.lit("upd").alias("tag"),
                F.lit("0").alias("dt"),
            ),
            keys=["k"],
        )
    # winner's snapshot intact and still live
    assert t.current_version() == winner
    assert t.read(spark).count() == 20
    assert sorted(os.listdir(os.path.join(t.root, "_versions"))) == [
        "v00000001", winner,
    ]


def _inodes(data_dir):
    return {
        os.path.relpath(os.path.join(r, n), data_dir): os.stat(
            os.path.join(r, n)
        ).st_ino
        for r, _d, ns in os.walk(data_dir)
        for n in ns
        if n.endswith(".parquet")
    }


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """File-granular MERGE: an upsert matching keys in ONE dt partition
    carries every other partition's files by reference — same inodes, no
    data copy — and reads stay consistent."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 30), partition_by=["dt"])  # dt in {0,1,2}
    old = _inodes(os.path.join(t.root, "_versions", v1))
    # update keys 0 and 3 — both live in dt=0 only
    updates = spark.createDataFrame(
        [(0, "upd", "0"), (3, "upd", "0")], "k long, tag string, dt string"
    )
    v2 = t.merge_upsert(spark, updates, keys=["k"])
    new = _inodes(os.path.join(t.root, "_versions", v2))
    carried = {p for p in new if p in old and new[p] == old[p]}
    rewritten = set(new) - carried
    # every dt=1 / dt=2 file carried by reference (hard link, same inode)
    assert {p for p in old if p.startswith(("dt=1", "dt=2"))} <= carried
    # nothing outside dt=0 was rewritten
    assert all(p.startswith("dt=0") for p in rewritten)
    meta = t.history()[-1]
    assert meta["n_files_carried"] == len(carried)
    assert meta["n_files_written"] == len(rewritten)
    # reads: same totals, updated rows visible, old snapshot untouched
    got = t.read(spark)
    assert got.count() == 30
    assert got.filter(F.col("tag") == "upd").count() == 2
    assert t.read(spark, v1).filter(F.col("tag") == "upd").count() == 0


def test_merge_pure_insert_carries_all_files(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 10), partition_by=["dt"])
    old = _inodes(os.path.join(t.root, "_versions", v1))
    inserts = spark.createDataFrame(
        [(100, "ins", "0"), (101, "ins", "1")], "k long, tag string, dt string"
    )
    v2 = t.merge_upsert(spark, inserts, keys=["k"])
    new = _inodes(os.path.join(t.root, "_versions", v2))
    assert all(new[p] == ino for p, ino in old.items())  # all carried
    assert t.read(spark).count() == 12


def test_concurrent_commit_detected(spark, tmp_path):
    t1 = TxnTable(str(tmp_path / "t"))
    t1.commit(_df(spark, 10))
    with pytest.raises(ConcurrentCommitError):
        t1._swap_pointer("v00000009", expect=None)  # stale expectation


def test_vacuum_keeps_live_and_newest(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    for n in (5, 10, 15, 20):
        t.commit(_df(spark, n))
    removed = t.vacuum(keep=2)
    assert removed == ["v00000001", "v00000002"]
    assert t.read(spark).count() == 20
    assert t.read(spark, "v00000003").count() == 15


def test_metastore_merge_upsert_preserves_partitioning(spark, tmp_path):
    tbl = "gold_part_upsert_test"
    _drop(spark, tbl, f"{tbl}__stage")
    _df(spark, 30).write.partitionBy("dt").format("parquet").saveAsTable(tbl)
    updates = _df(spark, 5, tag="upd")
    warehouse.merge_upsert(spark, tbl, updates, keys=["k"])
    part_cols = [c.name for c in spark.catalog.listColumns(tbl) if c.isPartition]
    assert part_cols == ["dt"]
    got = spark.table(tbl)
    assert got.count() == 30
    assert got.filter(F.col("tag") == "upd").count() == 5
    spark.sql(f"DROP TABLE {tbl}")


def test_metastore_merge_upsert_preserves_bucketing(spark, tmp_path):
    tbl = "gold_bucket_upsert_test"
    _drop(spark, tbl, f"{tbl}__stage")
    df = _df(spark, 30)
    df.write.format("parquet").bucketBy(4, "k").sortBy("k").saveAsTable(tbl)
    warehouse.merge_upsert(spark, tbl, _df(spark, 5, tag="upd"), keys=["k"])
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    info = {r.col_name: (r.data_type or "") for r in rows}
    assert info.get("Num Buckets", "").strip() == "4"
    assert "k" in info.get("Bucket Columns", "")
    assert spark.table(tbl).count() == 30
    spark.sql(f"DROP TABLE {tbl}")


def test_compact_bins_small_files_and_carries_the_rest(spark, tmp_path):
    """File-granular OPTIMIZE: many tiny files in dt=0 get bin-packed into
    one file; partitions already in good shape carry by reference (same
    inodes); rows and partition spec are unchanged; a second compact is a
    no-op returning the same version."""
    t = TxnTable(str(tmp_path / "t"))
    # coalesce(1) -> exactly one base file per dt partition
    t.commit(_df(spark, 30).coalesce(1), partition_by=["dt"])
    # fragment dt=0 with 6 tiny appends (each lands as its own file)
    for i in range(6):
        t.append(
            spark.createDataFrame([(100 + i, "frag", "0")], "k long, tag string, dt string")
        )
    v_before = t.current_version()
    root_before = os.path.join(t.root, "_versions", v_before)
    old = _inodes(root_before)
    n_dt0_before = sum(1 for p in old if p.startswith("dt=0"))
    assert n_dt0_before >= 7

    v2 = t.compact(spark)
    assert v2 != v_before
    new = _inodes(os.path.join(t.root, "_versions", v2))
    carried = {p for p in new if p in old and new[p] == old[p]}
    rewritten = set(new) - carried
    # dt=0's fragments were binned into a single file
    assert sum(1 for p in new if p.startswith("dt=0")) == 1
    assert all(p.startswith("dt=0") for p in rewritten)
    # rows identical, spec preserved
    got = t.read(spark)
    assert got.count() == 36
    assert t.history()[-1]["partition_by"] == ["dt"]
    assert got.filter(F.col("tag") == "frag").count() == 6
    # already-compacted table: idempotent no-op, pointer unmoved
    assert t.compact(spark) == v2
    assert t.current_version() == v2


def test_compact_leaves_right_sized_files_alone(spark, tmp_path):
    """Files at or above the small-file threshold are never rewritten even
    inside a partition that has small files to bin."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 12).coalesce(1), partition_by=["dt"])
    for i in range(3):
        t.append(
            spark.createDataFrame([(200 + i, "frag", "1")], "k long, tag string, dt string")
        )
    v1 = t.current_version()
    root = os.path.join(t.root, "_versions", v1)
    sizes = {
        p: os.path.getsize(os.path.join(root, p))
        for p in _inodes(root)
        if p.startswith("dt=1")
    }
    # threshold chosen between the base file and the tiny fragments: the
    # base dt=1 file counts as right-sized, the 3 fragments as small
    big = max(sizes, key=sizes.get)
    thr = sizes[big]
    old = _inodes(root)
    v2 = t.compact(spark, small_file_bytes=thr)
    new = _inodes(os.path.join(t.root, "_versions", v2))
    assert new[big] == old[big]  # right-sized file carried by inode
    assert sum(1 for p in new if p.startswith("dt=1")) == 2  # big + 1 bin
    assert t.read(spark).count() == 15


def test_read_changes_append_only_is_exact(spark, tmp_path):
    """File-level CDF: for append-only tables the incremental feed is exact
    row-level changes — each cursor advance sees precisely the new rows."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 10).coalesce(1), partition_by=["dt"])
    b2 = spark.createDataFrame([(100, "b2", "0"), (101, "b2", "1")],
                               "k long, tag string, dt string")
    v2 = t.append(b2)
    b3 = spark.createDataFrame([(102, "b3", "2")], "k long, tag string, dt string")
    v3 = t.append(b3)
    # full history from genesis
    assert t.read_changes(spark, None, v1).count() == 10
    # cursor at v1: exactly the two appended batches, no base rows
    got = {r["k"] for r in t.read_changes(spark, v1).collect()}
    assert got == {100, 101, 102}
    # per-version slicing
    assert {r["k"] for r in t.read_changes(spark, v1, v2).collect()} == {100, 101}
    # cursor at head: empty, with the table's schema
    empty = t.read_changes(spark, v3)
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "tag", "dt"}


def test_read_changes_merge_is_file_grain(spark, tmp_path):
    """After a merge, the feed re-exposes only rows from rewritten files
    (the documented upsert-grain contract) — untouched partitions' carried
    files contribute nothing."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 30).coalesce(1), partition_by=["dt"])
    updates = spark.createDataFrame([(0, "upd", "0")], "k long, tag string, dt string")
    t.merge_upsert(spark, updates, keys=["k"])
    changed = t.read_changes(spark, v1)
    rows = changed.collect()
    # the updated row is present; every re-exposed row is from dt=0's file
    assert any(r["k"] == 0 and r["tag"] == "upd" for r in rows)
    assert {r["dt"] for r in rows} == {"0"}
    # dedupe-by-key consumption reconstructs the post-merge dt=0 partition
    assert changed.select("k").distinct().count() == \
        t.read(spark).filter(F.col("dt") == "0").count()


def test_manifest_records_file_stats_and_carries_them(spark, tmp_path):
    """Every commit's manifest carries per-file column min/max/null stats
    (footer reads, Iceberg-manifest style); carried files inherit the
    parent's stats entries verbatim — no recomputation."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 20).coalesce(1))
    (rel,) = t.files(v1)
    st = t.file_entries(v1)[rel]
    assert st["rows"] == 20
    assert st["bytes"] > 0
    assert st["columns"]["k"] == {"t": "num", "min": 0, "max": 19, "nulls": 0}
    assert st["columns"]["tag"]["min"] == "a" == st["columns"]["tag"]["max"]
    v2 = t.append(_df(spark, 5, tag="b").coalesce(1))
    e2 = t.file_entries(v2)
    assert e2[rel] == st  # carried entry is byte-identical
    fresh = [f for f in e2 if f != rel]
    assert all(e2[f]["columns"]["tag"]["min"] == "b" for f in fresh)


def test_manifest_shards_per_partition_and_links_unchanged(spark, tmp_path):
    """The manifest is sharded per top-level partition: an append touching
    only dt=0 rewrites dt=0's fragment and carries dt=1/dt=2's fragments by
    hard link (same inode) — manifest IO proportional to the change."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 30), partition_by=["dt"])
    m1 = t._meta(v1)
    assert set(m1["shards"]) == {"dt=0", "dt=1", "dt=2"}
    v2 = t.append(
        spark.createDataFrame([(100, "x", "0")], "k long, tag string, dt string")
    )
    m2 = t._meta(v2)
    # fresh files indexed in the core meta, only under the touched shard
    assert m2["shards"]["dt=1"]["fresh"] == []
    assert m2["shards"]["dt=2"]["fresh"] == []
    assert len(m2["shards"]["dt=0"]["fresh"]) >= 1
    for key in ("dt=1", "dt=2"):
        assert (
            os.stat(t._shard_file(v1, key)).st_ino
            == os.stat(t._shard_file(v2, key)).st_ino
        )
    assert (
        os.stat(t._shard_file(v1, "dt=0")).st_ino
        != os.stat(t._shard_file(v2, "dt=0")).st_ino
    )
    # entries survive the link/rewrite split intact
    assert t.read(spark).count() == 31
    assert len(t.file_entries(v2)) == m2["n_files"]


def test_operations_never_list_committed_data_dirs(spark, tmp_path, monkeypatch):
    """merge_upsert / append / overwrite_partitions / compact derive their
    carry sets from the manifest: walking a COMMITTED version directory is
    forbidden (only .tmp-* staging walks are allowed). This is the property
    that makes commits flat in table file count and object-store-portable."""
    import rxlan_aws_lakehouse_spark.txn as txn_mod

    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 30), partition_by=["dt"])

    real_walk = os.walk
    versions_root = os.path.join(t.root, "_versions")

    def guarded(top, *a, **kw):
        top_s = str(top)
        if top_s.startswith(versions_root) and "/.tmp-" not in top_s:
            raise AssertionError(f"walked committed dir {top_s}")
        return real_walk(top, *a, **kw)

    monkeypatch.setattr(txn_mod.os, "walk", guarded)
    t.append(
        spark.createDataFrame([(200, "x", "1")], "k long, tag string, dt string")
    )
    t.merge_upsert(
        spark,
        spark.createDataFrame([(0, "upd", "0")], "k long, tag string, dt string"),
        keys=["k"],
    )
    t.overwrite_partitions(
        spark,
        spark.createDataFrame([(300, "ow", "2")], "k long, tag string, dt string"),
    )
    t.compact(spark)
    got = t.read(spark)
    assert got.filter(F.col("tag") == "upd").count() == 1
    assert got.filter(F.col("dt") == "2").count() == 1  # partition replaced


def test_concurrent_merge_retries_and_both_land(spark, tmp_path):
    """Two writers upsert DISJOINT keys; writer B lands between writer A's
    snapshot read and pointer swap. A's merge must detect the conflict,
    re-resolve against B's snapshot, and retry — both updates in the final
    table, no lost write."""
    a = TxnTable(str(tmp_path / "t"))
    a.commit(_df(spark, 10))
    b = TxnTable(a.root)
    upd_a = spark.createDataFrame(
        [(0, "A", "0"), (1, "A", "1")], "k long, tag string, dt string"
    )
    upd_b = spark.createDataFrame(
        [(5, "B", "2"), (6, "B", "0")], "k long, tag string, dt string"
    )
    original_swap = a._swap_pointer
    fired = {"done": False}

    def interleave(version, expect):
        if not fired["done"]:
            fired["done"] = True
            b.merge_upsert(spark, upd_b, keys=["k"])  # B wins the race
        return original_swap(version, expect)

    a._swap_pointer = interleave
    try:
        a.merge_upsert(spark, upd_a, keys=["k"])
    finally:
        a._swap_pointer = original_swap
    assert fired["done"]
    got = a.read(spark)
    assert got.count() == 10
    tags = {r["k"]: r["tag"] for r in got.collect()}
    assert tags[0] == "A" and tags[1] == "A"
    assert tags[5] == "B" and tags[6] == "B"
    # lineage shows three merges: base, B's, then A's retry on top of B's
    ops = [m["operation"] for m in a.history()]
    assert ops.count("merge_upsert") == 2


def test_merge_schema_evolution_adds_typed_null_column(spark, tmp_path):
    """merge_schema=True appends new columns: rewritten rows carry values,
    carried files read as typed NULLs through the recorded schema, and the
    OLD snapshot keeps the old schema (time travel is schema-faithful)."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 30), partition_by=["dt"])
    updates = spark.createDataFrame(
        [(0, "upd", "0", 0.9), (3, "upd", "0", 0.7)],
        "k long, tag string, dt string, score double",
    )
    v2 = t.merge_upsert(spark, updates, keys=["k"], merge_schema=True)
    got = t.read(spark)
    assert got.schema["score"].dataType.typeName() == "double"
    assert got.count() == 30
    assert got.filter(F.col("score").isNotNull()).count() == 2
    # rows from carried (dt=1/dt=2) files: typed NULLs
    assert got.filter(F.col("dt") != "0").filter(
        F.col("score").isNotNull()
    ).count() == 0
    # old snapshot: no score column at all
    assert "score" not in t.read(spark, v1).columns
    # next plain upsert keeps the evolved schema
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(7, "upd2", "1", 0.5)], "k long, tag string, dt string, score double"
        ),
        keys=["k"],
    )
    assert t.read(spark).filter(F.col("score").isNotNull()).count() == 3
    assert t._meta(v2)["schema"] != t._meta(v1)["schema"]


def test_vacuum_age_retention(spark, tmp_path):
    """retain_hours protects young snapshots beyond the keep count; a zero
    retention window restores pure count-based vacuuming."""
    t = TxnTable(str(tmp_path / "t"))
    for n in (5, 10, 15, 20):
        t.commit(_df(spark, n))
    # everything was committed seconds ago: nothing is old enough
    assert t.vacuum(keep=1, retain_hours=1.0) == []
    assert t.read(spark, "v00000001").count() == 5
    # zero window: age guard passes, count guard applies
    assert t.vacuum(keep=2, retain_hours=0.0) == ["v00000001", "v00000002"]
    assert t.read(spark).count() == 20


def test_vacuum_change_feed_guard(spark, tmp_path):
    """A consumer cursor protects unread snapshots: vacuuming past it
    raises unless forced; snapshots at or before the cursor vacuum freely."""
    from rxlan_aws_lakehouse_spark.txn import VacuumProtectionError

    t = TxnTable(str(tmp_path / "t"))
    for n in (5, 10, 15, 20):
        t.commit(_df(spark, n))
    with pytest.raises(VacuumProtectionError):
        t.vacuum(keep=1, changes_cursor="v00000001")
    # nothing was removed by the refused call
    assert t.read(spark, "v00000002").count() == 10
    # consumer has advanced to v3: v1..v3 are all consumed, so keep=1 may
    # drop them — the guard only protects snapshots PAST the cursor
    assert t.vacuum(keep=1, changes_cursor="v00000003") == [
        "v00000001", "v00000002", "v00000003",
    ]
    assert t.read(spark).count() == 20
    # forced vacuum past a cursor succeeds
    t2 = TxnTable(str(tmp_path / "t2"))
    for n in (5, 10, 15):
        t2.commit(_df(spark, n))
    removed = t2.vacuum(keep=1, changes_cursor="v00000001", force=True)
    assert removed == ["v00000001", "v00000002"]


def test_read_pruned_skips_files_and_matches_full_scan(spark, tmp_path):
    """A range predicate over a range-clustered table reads a strict
    subset of files, and returns exactly what the unpruned filter does —
    pruning is an IO optimization, never the correctness boundary."""
    t = TxnTable(str(tmp_path / "t"))
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.commit(df.repartitionByRange(8, "k"), sort_within=["k"])
    preds = [("k", ">=", 900)]
    kept, total = t.pruned_files(preds)
    assert total == 8 and 1 <= len(kept) <= 2
    got = sorted(r["k"] for r in t.read_pruned(spark, preds).collect())
    assert got == list(range(900, 1000))
    # equality inside one file's range: exactly one file survives
    kept_eq, _ = t.pruned_files([("k", "=", 123)])
    assert len(kept_eq) == 1
    assert t.read_pruned(spark, [("k", "=", 123)]).count() == 1
    # disjoint range: zero files, empty result, schema intact
    kept0, _ = t.pruned_files([("k", ">", 99999)])
    assert kept0 == []
    empty = t.read_pruned(spark, [("k", ">", 99999)])
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}


def test_read_pruned_uses_partition_dirs(spark, tmp_path):
    """Partition-value predicates prune whole directories from the
    manifest (no footer stats needed), for string and numeric literals."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 30), partition_by=["dt"])
    for lit in ("1", 1):
        kept, total = t.pruned_files([("dt", "=", lit)])
        assert total > len(kept) >= 1
        assert all("dt=1" in rel for rel in kept)
    got = t.read_pruned(spark, [("dt", "=", "1")]).select("k").collect()
    want = t.read(spark).filter(F.col("dt") == "1").select("k").collect()
    assert sorted(r["k"] for r in got) == sorted(r["k"] for r in want)


def test_read_pruned_drops_all_null_files(spark, tmp_path):
    """A file whose column is entirely null is provably empty under any
    comparison — the manifest's null count alone prunes it."""
    t = TxnTable(str(tmp_path / "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") >= 50, F.col("id")).alias("v"),
    )
    t.commit(df.repartitionByRange(2, "k"))
    kept, total = t.pruned_files([("v", ">=", 0)])
    assert total == 2 and len(kept) == 1
    assert t.read_pruned(spark, [("v", ">=", 0)]).count() == 50


def test_distributed_footer_stats_on_wide_commit(spark, tmp_path):
    """A commit writing >= 64 files takes the distributed (mapInPandas)
    footer-stats path; every file still gets a complete manifest entry
    identical in shape to the serial path's."""
    t = TxnTable(str(tmp_path / "t"))
    df = spark.range(8000).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("dt")
    )
    t.commit(df.repartition(80), partition_by=["dt"])
    entries = t.file_entries()
    assert len(entries) >= 64
    for rel, e in entries.items():
        assert e["rows"] > 0 and e["bytes"] > 0
        assert "k" in e["columns"]
        assert e["columns"]["k"]["min"] <= e["columns"]["k"]["max"]
    # pruning still works off the distributed-computed stats
    kept, total = t.pruned_files([("k", "=", 7999)])
    assert 0 < len(kept) < total


def test_append_schema_guard(spark, tmp_path):
    """An append missing a table column (which would silently hide it for
    every carried row) or changing a type raises; new columns require
    merge_schema=True and read as typed NULLs for carried files."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 10))
    with pytest.raises(ValueError, match="missing table columns"):
        t.append(spark.createDataFrame([(99, "x")], "k long, tag string"))
    with pytest.raises(ValueError, match="changes column types"):
        t.append(
            spark.createDataFrame([(1, "x", "0")], "k int, tag string, dt string")
        )
    extra = spark.createDataFrame(
        [(99, "x", "0", 1.5)], "k long, tag string, dt string, score double"
    )
    with pytest.raises(ValueError, match="new columns"):
        t.append(extra)
    t.append(extra, merge_schema=True)
    got = t.read(spark)
    assert got.count() == 11
    assert got.filter(F.col("score").isNotNull()).count() == 1
    assert got.schema["score"].dataType.typeName() == "double"


def test_concurrent_overwrite_partitions_disjoint_both_land(spark, tmp_path):
    """Two writers overwrite DISJOINT partitions; the loser re-resolves and
    retries, so both partition replacements land."""
    a = TxnTable(str(tmp_path / "t"))
    a.commit(_df(spark, 30), partition_by=["dt"])  # dt 0/1/2, 10 rows each
    b = TxnTable(a.root)
    new_dt0 = spark.createDataFrame(
        [(500, "A", "0")], "k long, tag string, dt string"
    )
    new_dt1 = spark.createDataFrame(
        [(600, "B", "1"), (601, "B", "1")], "k long, tag string, dt string"
    )
    original_swap = a._swap_pointer
    fired = {"done": False}

    def interleave(version, expect):
        if not fired["done"]:
            fired["done"] = True
            b.overwrite_partitions(spark, new_dt1)
        return original_swap(version, expect)

    a._swap_pointer = interleave
    try:
        a.overwrite_partitions(spark, new_dt0)
    finally:
        a._swap_pointer = original_swap
    assert fired["done"]
    got = a.read(spark)
    assert got.filter(F.col("dt") == "0").count() == 1  # A's replacement
    assert got.filter(F.col("dt") == "1").count() == 2  # B's replacement
    assert got.filter(F.col("dt") == "2").count() == 10  # untouched


def test_randomized_op_sequence_matches_model(spark, tmp_path):
    """Model-based check: a seeded random sequence of append / merge /
    overwrite_partitions / compact / vacuum against a plain-dict model of
    the table. After every operation the full table contents must equal
    the model — catching any interaction bug between carry sets, shard
    manifests, schema recording, and retries that single-op tests miss."""
    import random

    rng = random.Random(42)
    t = TxnTable(str(tmp_path / "t"))
    model: dict[int, tuple[str, str]] = {}  # k -> (tag, dt)

    def rows_for(ks, tag):
        return [(k, tag, str(k % 3)) for k in ks]

    def df_of(rows):
        return spark.createDataFrame(rows, "k long, tag string, dt string")

    base = rows_for(range(30), "base")
    t.commit(df_of(base), partition_by=["dt"])
    model.update({k: (tag, dt) for k, tag, dt in base})

    for step in range(10):
        op = rng.choice(["append", "merge", "overwrite_part", "compact", "vacuum"])
        tag = f"s{step}"
        if op == "append":
            ks = [1000 + step * 100 + i for i in range(rng.randint(1, 4))]
            rows = rows_for(ks, tag)
            t.append(df_of(rows))
            model.update({k: (tg, dt) for k, tg, dt in rows})
        elif op == "merge":
            ks = rng.sample(sorted(model), rng.randint(1, 5))
            ks += [2000 + step]  # one pure insert
            rows = rows_for(ks, tag)
            t.merge_upsert(spark, df_of(rows), keys=["k"])
            model.update({k: (tg, dt) for k, tg, dt in rows})
        elif op == "overwrite_part":
            dt = str(rng.randint(0, 2))
            ks = [3000 + step * 10 + i for i in range(rng.randint(1, 3))]
            rows = [(k, tag, dt) for k in ks]
            t.overwrite_partitions(spark, df_of(rows))
            model = {k: v for k, v in model.items() if v[1] != dt}
            model.update({k: (tag, d) for k, tag, d in rows})
        elif op == "compact":
            t.compact(spark)
        elif op == "vacuum":
            t.vacuum(keep=2)
        got = {
            r["k"]: (r["tag"], r["dt"]) for r in t.read(spark).collect()
        }
        assert got == model, f"divergence after step {step} ({op})"


def test_merge_rejects_duplicate_update_keys(spark, tmp_path):
    """Two update rows with the same key would both land (silent key
    duplication) — the ambiguous-merge guard raises instead, and
    validate_keys=False restores the old permissive behavior."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 10))
    dup_updates = spark.createDataFrame(
        [(3, "x", "0"), (3, "y", "0")], "k long, tag string, dt string"
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        t.merge_upsert(spark, dup_updates, keys=["k"])
    assert t.read(spark).count() == 10  # nothing committed
    t.merge_upsert(spark, dup_updates, keys=["k"], validate_keys=False)
    assert t.read(spark).filter(F.col("k") == 3).count() == 2


def test_compact_preserves_evolved_schema(spark, tmp_path):
    """ADVICE r4 (high): compact() must rewrite under the RECORDED snapshot
    schema — if every small file predates an additive evolution, footer
    inference would silently drop the evolved column from the table schema
    for ALL rows, carried files included."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 12).repartition(4))  # several small files, no 'tier'
    evolved = spark.createDataFrame(
        [(999, "new", "0", "gold")], "k long, tag string, dt string, tier string"
    )
    t.merge_upsert(spark, evolved, keys=["k"], merge_schema=True)
    t.compact(spark)  # every small file predates 'tier'
    got = t.read(spark)
    assert "tier" in got.columns
    assert got.count() == 13
    assert got.filter(F.col("k") == 999).first()["tier"] == "gold"
    # carried/rewritten pre-evolution rows read typed NULLs, not a lost column
    assert got.filter(F.col("tier").isNull()).count() == 12
    meta_schema = [
        f["name"]
        for f in t._meta(t.current_version())["schema"]["fields"]
    ]
    assert "tier" in meta_schema


def test_read_pruned_after_schema_evolution(spark, tmp_path):
    """ADVICE r4 (medium): read_pruned must apply the recorded snapshot
    schema like read() — kept files that predate an additive evolution
    still expose the evolved column as typed NULLs."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 10).repartition(2))
    evolved = spark.createDataFrame(
        [(999, "new", "0", "gold")], "k long, tag string, dt string, tier string"
    )
    t.merge_upsert(spark, evolved, keys=["k"], merge_schema=True)
    # predicate keeps only pre-evolution files (k < 10 excludes the insert)
    df = t.read_pruned(spark, [("k", "<", 10)])
    assert "tier" in df.columns
    # predicating on the evolved column must resolve (was UNRESOLVED_COLUMN)
    assert df.filter(F.col("tier").isNull()).count() == 10


def test_merge_upsert_rejects_extra_columns_without_merge_schema(spark, tmp_path):
    """ADVICE r4: merge_schema=False must raise on unknown update columns
    (a typo'd column silently losing data), mirroring append()'s guard."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 10))
    bad = spark.createDataFrame(
        [(3, "x", "0", "oops")], "k long, tag string, dt string, typo string"
    )
    with pytest.raises(ValueError, match="new columns"):
        t.merge_upsert(spark, bad, keys=["k"])
    # pure-insert branch guards too
    bad_insert = spark.createDataFrame(
        [(999, "x", "0", "oops")], "k long, tag string, dt string, typo string"
    )
    with pytest.raises(ValueError, match="new columns"):
        t.merge_upsert(spark, bad_insert, keys=["k"])
    assert t.read(spark).count() == 10  # nothing committed
    # merge_schema=True is the sanctioned evolution path
    t.merge_upsert(spark, bad, keys=["k"], merge_schema=True)
    assert "typo" in t.read(spark).columns


def test_overwrite_partitions_schema_guard(spark, tmp_path):
    """ADVICE r4: overwrite_partitions records df.schema for the whole
    snapshot, so a df missing an existing column would hide it for carried
    partitions' rows — the same append() guard now applies."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 30), partition_by=["dt"])
    missing = spark.createDataFrame([(1, "0")], "k long, dt string")
    with pytest.raises(ValueError, match="missing table columns"):
        t.overwrite_partitions(spark, missing)
    extra = spark.createDataFrame(
        [(1, "x", "0", "g")], "k long, tag string, dt string, tier string"
    )
    with pytest.raises(ValueError, match="new columns"):
        t.overwrite_partitions(spark, extra)
    assert t.read(spark).count() == 30  # nothing committed
    # additive evolution through the guard: carried partitions read NULLs
    t.overwrite_partitions(spark, extra, merge_schema=True)
    got = t.read(spark)
    assert "tier" in got.columns
    assert got.filter(F.col("dt") != "0").filter(
        F.col("tier").isNull()
    ).count() == got.filter(F.col("dt") != "0").count()


def test_watermark_extras_fold_forward(spark, tmp_path):
    """Watermark extra_meta keys (streaming epoch, incremental cursor)
    propagate into every descendant commit, so the live snapshot always
    carries the newest value and vacuum cannot strand it."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 5))
    t.append(_df(spark, 3), extra_meta={"source_cursor": "v00000007"})
    t.append(_df(spark, 2))  # no extra_meta: inherits the cursor
    t.compact(spark)
    head = t._meta(t.current_version())
    assert head["extra"].get("source_cursor") == "v00000007"
    # a NEWER watermark overrides the inherited one
    t.append(_df(spark, 1), extra_meta={"source_cursor": "v00000009"})
    assert (
        t._meta(t.current_version())["extra"]["source_cursor"] == "v00000009"
    )


def test_unpartitioned_shard_splits_past_threshold(spark, tmp_path, monkeypatch):
    """An unpartitioned table past _SUBSHARD_MAX files splits its single
    "root" fragment into hash sub-fragments, so a later 1-file append
    rewrites ONE sub-fragment and hard-links the rest — commit metadata IO
    proportional to the change even with no partition columns."""
    from rxlan_aws_lakehouse_spark import txn as txn_mod

    monkeypatch.setattr(txn_mod, "_SUBSHARD_MAX", 8)
    t = TxnTable(str(tmp_path / "t"))
    df = (
        spark.range(12)
        .repartition(12)
        .select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    )
    v1 = t.commit(df)
    m1 = t._meta(v1)
    n1 = m1["n_files"]  # Spark may skip empty partitions' files
    assert n1 > 8
    assert m1["split_shards"] == ["root"]
    assert len(m1["shards"]) > 1
    assert all(info["base"] == "root" for info in m1["shards"].values())
    assert t.read(spark).count() == 12
    assert len(t.file_entries(v1)) == n1

    one = spark.createDataFrame(
        [(100, "y")], "k long, tag string"
    ).repartition(1)
    v2 = t.append(one)
    m2 = t._meta(v2)
    fresh_keys = [k for k, i in m2["shards"].items() if i["fresh"]]
    assert len(fresh_keys) == 1
    for key, info in m2["shards"].items():
        if info["fresh"] or key not in m1["shards"]:
            continue
        # every untouched sub-fragment carried by hard link
        assert (
            os.stat(t._shard_file(v1, key)).st_ino
            == os.stat(t._shard_file(v2, key)).st_ino
        )
    assert t.read(spark).count() == 13
    assert len(t.file_entries(v2)) == n1 + 1

    # merge across the split boundary: only touched sub-fragments rewrite
    upd = spark.createDataFrame([(0, "upd")], "k long, tag string")
    v3 = t.merge_upsert(spark, upd, keys=["k"])
    m3 = t._meta(v3)
    assert "root" in m3["split_shards"]
    got = t.read(spark)
    assert got.count() == 13
    assert got.filter(F.col("k") == 0).select("tag").first()["tag"] == "upd"


def test_partitioned_table_splits_only_big_partition(spark, tmp_path, monkeypatch):
    """Sub-sharding is per base shard: a big partition splits, small ones
    keep one fragment each, and partition-predicate shard pruning still
    skips whole sub-fragment groups via their recorded base."""
    from rxlan_aws_lakehouse_spark import txn as txn_mod

    monkeypatch.setattr(txn_mod, "_SUBSHARD_MAX", 8)
    t = TxnTable(str(tmp_path / "t"))
    big = (
        spark.range(12)
        .repartition(12)
        .select(F.col("id").alias("k"), F.lit("0").alias("dt"))
    )
    small = spark.range(2).select(
        (F.col("id") + 100).alias("k"), F.lit("1").alias("dt")
    )
    v1 = t.commit(big.unionByName(small), partition_by=["dt"])
    m1 = t._meta(v1)
    assert m1["split_shards"] == ["dt=0"]
    bases = {i["base"] for i in m1["shards"].values()}
    assert bases == {"dt=0", "dt=1"}
    assert sum(1 for i in m1["shards"].values() if i["base"] == "dt=1") == 1
    # pruning on the partition predicate skips every dt=0 sub-fragment
    kept, total = t.pruned_files([("dt", "=", "1")])
    assert total == m1["n_files"]
    assert kept and all(rel.startswith("dt=1") for rel in kept)
    assert t.read_pruned(spark, [("dt", "=", "1")]).count() == 2

    # a full rewrite below the threshold un-splits (compact bins files)
    v2 = t.compact(spark, target_file_bytes=512 * 1024 * 1024)
    m2 = t._meta(v2)
    assert m2["split_shards"] == []
    assert t.read(spark).count() == 14


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    """Row-level DELETE: files with no matching row carry by reference
    (same inode); matching files are rewritten without the deleted rows."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 30), partition_by=["dt"])
    old = _inodes(os.path.join(t.root, "_versions", v1))
    v2 = t.delete_where(
        spark,
        (F.col("dt") == "0") & (F.col("k") < 9),
        prune=[("dt", "=", "0")],
    )
    new = _inodes(os.path.join(t.root, "_versions", v2))
    got = t.read(spark)
    assert got.count() == 27  # k in {0,3,6} deleted
    assert got.filter((F.col("dt") == "0") & (F.col("k") < 9)).count() == 0
    # dt=1 / dt=2 untouched: carried by hard link
    for p, ino in old.items():
        if p.startswith(("dt=1", "dt=2")):
            assert new.get(p) == ino
    # old snapshot still has all rows (time travel unaffected)
    assert t.read(spark, v1).count() == 30
    # deleting nothing returns the same version, no new commit
    assert t.delete_where(spark, F.col("k") > 10**6) == v2


def test_delete_where_drops_fully_matched_files(spark, tmp_path):
    """A file whose every row matches disappears from the snapshot."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 30), partition_by=["dt"])
    v = t.delete_where(spark, F.col("dt") == "1", prune=[("dt", "=", "1")])
    got = t.read(spark)
    assert got.filter(F.col("dt") == "1").count() == 0
    assert got.count() == 20
    assert not any(r.startswith("dt=1") for r in t.files(v))


def test_apply_cdc_upserts_and_deletes_atomically(spark, tmp_path):
    """One CDC batch: update k=2, delete k=5, insert k=100, and a key with
    U-then-D (k=8, seq-resolved) nets to a delete — all in ONE commit."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 10))
    n_commits_before = len(t.history())
    changes = spark.createDataFrame(
        [
            (2, "upd", "2", "U", 1),
            (5, None, None, "D", 1),
            (8, "upd8", "2", "U", 1),
            (8, None, None, "D", 2),
            (100, "ins", "1", "I", 1),
        ],
        "k long, tag string, dt string, op string, seq int",
    )
    t.apply_cdc(spark, changes, keys=["k"], seq_col="seq")
    assert len(t.history()) == n_commits_before + 1
    got = t.read(spark)
    assert got.count() == 9  # 10 - del(5) - del(8) + ins(100)
    assert got.filter(F.col("k").isin(5, 8)).count() == 0
    assert got.filter(F.col("k") == 2).first()["tag"] == "upd"
    assert got.filter(F.col("k") == 100).first()["tag"] == "ins"


def test_apply_cdc_rejects_ambiguous_batch_without_seq(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 5))
    changes = spark.createDataFrame(
        [(1, "a", "0", "U"), (1, None, None, "D")],
        "k long, tag string, dt string, op string",
    )
    with pytest.raises(ValueError, match="multiple ops"):
        t.apply_cdc(spark, changes, keys=["k"])


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE: live state returns to an earlier snapshot byte-for-byte
    (files carried by reference), history preserved and auditable."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 10), partition_by=["dt"])
    # overlapping keys on purpose: a later rewrite can leave a shard with
    # the SAME file count as v1's but different files — the equal-count
    # fragment-carry shortcut must not fire for a restore's carried set
    t.append(_df(spark, 5, tag="extra"))
    bad = t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(0, "bad", "0")], "k long, tag string, dt string"
        ),
        keys=["k"],
    )
    # 10 + 5 appended, then BOTH k=0 rows merged into the single update
    assert t.read(spark).count() == 14
    v_restored = t.restore(spark, v1)
    got = t.read(spark)
    assert got.count() == 10
    assert got.filter(F.col("tag") == "bad").count() == 0
    meta = t._meta(v_restored)
    assert meta["operation"] == "restore"
    assert meta["extra"]["restored_from"] == v1
    assert meta["partition_by"] == ["dt"]
    assert meta["n_files_written"] == 0  # pure carry, no data rewritten
    # the rollback is itself reversible: restore forward to the bad head
    t.restore(spark, bad)
    assert t.read(spark).count() == 14
    assert t.read(spark).filter(F.col("tag") == "bad").count() == 1


def test_restore_preserves_old_schema_across_evolution(spark, tmp_path):
    """Restoring past an additive evolution reinstates the OLD schema."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 6))
    t.merge_upsert(
        spark,
        _df(spark, 2).withColumn("tier", F.lit("vip")),
        keys=["k"],
        merge_schema=True,
    )
    assert "tier" in t.read(spark).columns
    t.restore(spark, v1)
    assert "tier" not in t.read(spark).columns
    assert t.read(spark).count() == 6


def test_shallow_clone_is_independent(spark, tmp_path):
    """CLONE: zero-copy snapshot of the source that then evolves on its
    own — source commits/vacuum never affect the clone and vice versa."""
    src = TxnTable(str(tmp_path / "src"))
    v1 = src.commit(_df(spark, 12), partition_by=["dt"])
    clone = src.clone_to(spark, str(tmp_path / "dev"))
    assert clone.read(spark).count() == 12
    meta = clone._meta(clone.current_version())
    assert meta["operation"] == "clone"
    assert meta["extra"]["cloned_from"] == f"{src.root}@{v1}"
    assert meta["partition_by"] == ["dt"]
    assert meta["n_files_written"] == 0
    # same inodes: no data was copied
    src_files = _inodes(os.path.join(src.root, "_versions", v1))
    cl_files = _inodes(
        os.path.join(clone.root, "_versions", clone.current_version())
    )
    assert src_files == cl_files
    # divergence: clone mutates, source unaffected (and vice versa)
    clone.delete_where(spark, F.col("dt") == "0", prune=[("dt", "=", "0")])
    src.append(_df(spark, 3, tag="srcside"))
    assert clone.read(spark).filter(F.col("dt") == "0").count() == 0
    assert src.read(spark).filter(F.col("dt") == "0").count() > 0
    assert clone.read(spark).filter(F.col("tag") == "srcside").count() == 0
    # cloning into a non-empty table is refused
    with pytest.raises(ValueError, match="not empty"):
        src.clone_to(spark, str(tmp_path / "dev"))


def test_write_audit_publish(spark, tmp_path):
    """WAP: a staged commit is readable but invisible to the pointer until
    published; a never-published bad batch leaves no trace in the live
    lineage; publishing after a concurrent commit raises."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 10))
    staged = t.commit(_df(spark, 99, tag="staged"), publish=False)
    # live table unchanged; staged snapshot fully readable for audits
    assert t.current_version() == v1
    assert t.read(spark).count() == 10
    audit = t.read(spark, staged)
    assert audit.count() == 99
    assert audit.filter(F.col("tag") != "staged").count() == 0
    # audits pass -> publish makes it live atomically
    assert t.publish(staged) == staged
    assert t.current_version() == staged
    assert t.read(spark).count() == 99
    # stage again, but another writer lands first: publish must refuse
    staged2 = t.commit(_df(spark, 5), publish=False)
    t.append(_df(spark, 1, tag="racer"))
    with pytest.raises(ConcurrentCommitError):
        t.publish(staged2)
    assert t.read(spark).count() == 100  # 99 + the racer's append


def test_rewrite_layout_changes_spec_atomically(spark, tmp_path):
    """Partition-spec evolution via atomic rewrite: same rows, new layout;
    old snapshots keep the old layout readable (time travel)."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 30))  # unpartitioned
    assert t._meta(v1)["partition_by"] == []
    v2 = t.rewrite_layout(spark, partition_by=["dt"], sort_within=["k"])
    m2 = t._meta(v2)
    assert m2["operation"] == "rewrite_layout"
    assert m2["partition_by"] == ["dt"]
    data = os.path.join(t.root, "_versions", v2)
    assert any(d.startswith("dt=") for d in os.listdir(data))
    assert t.read(spark).count() == 30
    assert t.read(spark, v1).count() == 30  # old layout still readable
    # later commits INHERIT the new spec
    t.append(spark.createDataFrame(
        [(100, "x", "1")], "k long, tag string, dt string"))
    assert t._meta(t.current_version())["partition_by"] == ["dt"]
    # explicit [] really unpartitions (no silent inherit)
    v4 = t.rewrite_layout(spark, partition_by=[])
    m4 = t._meta(v4)
    assert m4["partition_by"] == []
    data4 = os.path.join(t.root, "_versions", v4)
    assert not any(d.startswith("dt=") for d in os.listdir(data4))
    assert t.read(spark).count() == 31


# -- advisor-found regressions (round 6) --------------------------------


def test_restore_manifest_lists_only_existing_files(spark, tmp_path):
    """Regression (ADVICE r5, txn.py:700): commit -> delete_where ->
    restore, where the deleted partition's shard ends with the SAME file
    count at head as at v1 but a DIFFERENT file. The equal-count
    fragment-carry shortcut used to hard-link the HEAD's fragment into
    the restored snapshot, whose manifest then listed files missing on
    disk. Every manifest consumer must see only files that exist."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(
        _df(spark, 30).repartition(1, "dt"), partition_by=["dt"]
    )
    files_v1 = t.files(v1)
    # rewrite dt=0's single file into a single NEW file (same count)
    t.delete_where(
        spark,
        (F.col("dt") == "0") & (F.col("k") == 0),
        prune=[("dt", "=", "0")],
    )
    head_files = t.files()
    assert len(head_files) == len(files_v1)
    assert set(head_files) != set(files_v1)
    v_restored = t.restore(spark, v1)
    restored_files = t.files(v_restored)
    data = os.path.join(t.root, "_versions", v_restored)
    # the manifest and the directory agree, byte for byte
    for rel in restored_files:
        assert os.path.exists(os.path.join(data, rel)), rel
    assert set(restored_files) == set(files_v1)
    assert t.read(spark).count() == 30
    # manifest consumers: pruned read + a follow-up merge both work
    rels, _ = t.pruned_files([("dt", "=", "0")], v_restored)
    for rel in rels:
        assert os.path.exists(os.path.join(data, rel))
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(0, "post", "0")], "k long, tag string, dt string"
        ),
        keys=["k"],
    )
    assert t.read(spark).filter(F.col("tag") == "post").count() == 1


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """Regression (ADVICE r5, txn.py:1133): DELETE removes rows where the
    condition is TRUE — a NULL-evaluating row in the same file must
    survive the rewrite (SQL three-valued semantics, Delta DELETE)."""
    t = TxnTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "k long, tag string"
    ).coalesce(1)
    t.commit(df)
    t.delete_where(spark, F.col("tag") == "x")
    got = t.read(spark).orderBy("k").collect()
    assert [r["k"] for r in got] == [2, 3]
    assert got[1]["tag"] is None  # the NULL-tag row survived


def test_restore_unpartitioned_snapshot_from_partitioned_head(spark, tmp_path):
    """Regression (ADVICE r5, txn.py:1397): restoring an UNpartitioned
    snapshot from a partitioned head must record partition_by=[] (not
    inherit the head's spec), or the next append would mix root-level
    files with partition dirs under one basePath."""
    t = TxnTable(str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 9))  # unpartitioned
    t.rewrite_layout(spark, partition_by=["dt"])
    v_restored = t.restore(spark, v1)
    assert t._meta(v_restored)["partition_by"] == []
    # the next append stays unpartitioned and readable
    t.append(spark.createDataFrame(
        [(100, "x", "1")], "k long, tag string, dt string"))
    vh = t.current_version()
    assert t._meta(vh)["partition_by"] == []
    data = os.path.join(t.root, "_versions", vh)
    assert not any(d.startswith("dt=") for d in os.listdir(data))
    assert t.read(spark).count() == 10


def test_clone_of_unpartitioned_snapshot_records_empty_spec(spark, tmp_path):
    src = TxnTable(str(tmp_path / "src"))
    src.commit(_df(spark, 8))  # unpartitioned
    clone = src.clone_to(spark, str(tmp_path / "dev"))
    assert clone._meta(clone.current_version())["partition_by"] == []
    clone.append(_df(spark, 2, tag="b"))
    assert clone._meta(clone.current_version())["partition_by"] == []
    assert clone.read(spark).count() == 10


def test_pointer_cas_prevents_double_publish(spark, tmp_path, store):
    """Regression (ADVICE r5, txn.py:300): two writers that both read the
    same expected parent and interleave between the check and the rename.
    Pre-CAS, both renames succeeded — the second silently overwrote the
    first (a lost commit). With the CAS exactly one publishes and the
    other deterministically gets ConcurrentCommitError. Runs over both
    stores."""
    import threading

    t = TxnTable(str(tmp_path / "t"), store=store)
    v1 = t.commit(_df(spark, 5))
    barrier = threading.Barrier(2)
    results: dict[str, str] = {}

    def racer(name: str, version: str) -> None:
        barrier.wait()  # both enter the swap with the SAME expect
        try:
            t._swap_pointer(version, v1)
            results[name] = "published"
        except ConcurrentCommitError:
            results[name] = "conflict"

    a = threading.Thread(target=racer, args=("a", "v00000002"))
    b = threading.Thread(target=racer, args=("b", "v00000003"))
    a.start(); b.start(); a.join(); b.join()
    assert sorted(results.values()) == ["conflict", "published"]
    winner = next(n for n, r in results.items() if r == "published")
    assert t.current_version() == {"a": "v00000002", "b": "v00000003"}[winner]


def test_concurrent_merges_both_land_via_retry(spark, tmp_path, store):
    """Two writers merging DISJOINT keys concurrently: the CAS loser
    retries against the winner's snapshot and both updates land. Runs
    over both stores."""
    import threading

    t = TxnTable(str(tmp_path / "t"), store=store)
    t.commit(_df(spark, 10))
    errs: list[Exception] = []

    def merge(lo: int, tag: str) -> None:
        try:
            upd = spark.createDataFrame(
                [(lo, tag, "0"), (lo + 1, tag, "0")],
                "k long, tag string, dt string",
            )
            t.merge_upsert(spark, upd, keys=["k"], max_retries=5)
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    th1 = threading.Thread(target=merge, args=(0, "w1"))
    th2 = threading.Thread(target=merge, args=(4, "w2"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errs, errs
    got = t.read(spark)
    assert got.filter(F.col("tag") == "w1").count() == 2
    assert got.filter(F.col("tag") == "w2").count() == 2
    assert got.count() == 10


# -- per-file bloom filters (round 6) ------------------------------------


def _bloom_table(spark, tmp_path, n_files=12, rows_per=100):
    """Unclustered key: k round-robins across files, so EVERY file's
    [min, max] spans nearly the whole key space — range stats prune
    nothing, which is exactly what blooms exist for."""
    t = TxnTable(str(tmp_path / "t"))
    df = spark.range(n_files * rows_per).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("tag"),
        (F.col("id") % n_files).cast("int").alias("bucket"),
    ).repartition(n_files, "k")
    t.commit(df, bloom_cols=["k"])
    return t


def test_bloom_point_prune_on_unclustered_key(spark, tmp_path):
    t = _bloom_table(spark, tmp_path)
    meta = t._meta(t.current_version())
    assert meta["bloom_cols"] == ["k"]
    entries = t.file_entries()
    assert len(entries) == 12
    assert all("bloom" in e and "k" in e["bloom"] for e in entries.values())
    # range stats are useless here: every file overlaps key 7's value
    rng, total = t.pruned_files([("k", "=", 7)])
    assert len(rng) >= 1
    # bloom point probe: exactly the one file holding k=7 (fpp ~0.2%)
    kept, total = t.pruned_files_in("k", [7])
    assert total == 12
    assert len(kept) == 1
    got = (
        t.read(spark, None)
        .filter(F.col("k") == 7)
        .select(F.input_file_name().alias("f"))
        .first()["f"]
    )
    assert kept[0].split("/")[-1] in got
    # an absent key prunes EVERYTHING (bloom proves absence)
    kept_absent, _ = t.pruned_files_in("k", [10**9])
    assert kept_absent == []
    # conjunctive "=" predicates use the bloom too
    kept_eq, _ = t.pruned_files([("k", "=", 10**9)])
    assert kept_eq == []


def test_bloom_merge_prunes_discovery_and_survives_carry(spark, tmp_path):
    """A 2-key upsert on the unclustered key touches ~2 files via bloom
    probes (not all 6); carried files keep their blooms; the fresh file
    gets a new one; results stay exact."""
    t = _bloom_table(spark, tmp_path)
    updates = spark.createDataFrame(
        [(7, "UPD", 1), (13, "UPD", 1)], "k long, tag string, bucket int"
    )
    cands = t._merge_candidates(t.current_version(), updates, ["k"])
    assert len(cands) <= 2  # bloom-pruned discovery set
    v2 = t.merge_upsert(spark, updates, keys=["k"])
    got = t.read(spark).filter(F.col("tag") == "UPD").count()
    assert got == 2
    assert t.read(spark).count() == 1200
    ents = t.file_entries(v2)
    assert all("bloom" in e for e in ents.values())
    # the rewritten file's bloom reflects the new contents: probing an
    # updated key still finds exactly one file
    kept, _ = t.pruned_files_in("k", [13])
    assert len(kept) == 1
    # inheritance: a later append (no bloom_cols arg) still records blooms
    t.append(spark.createDataFrame(
        [(5000, "new", 0)], "k long, tag string, bucket int"))
    newest = [
        e for rel, e in t.file_entries().items()
        if rel not in ents and e["rows"] > 0
    ]
    assert newest and all("bloom" in e for e in newest)


def test_bloom_cols_travel_with_clone_and_restore(spark, tmp_path):
    t = _bloom_table(spark, tmp_path, n_files=2, rows_per=20)
    clone = t.clone_to(spark, str(tmp_path / "dev"))
    assert clone._meta(clone.current_version())["bloom_cols"] == ["k"]
    clone.append(spark.createDataFrame(
        [(9000, "x", 0)], "k long, tag string, bucket int"))
    fresh = [
        e for e in clone.file_entries().values()
        if e["rows"] == 1
    ]
    assert fresh and "bloom" in fresh[0]
    # restore reinstates the property from the restored snapshot
    v1 = t.current_version()
    t.commit(t.read(spark), bloom_cols=[])  # property dropped at head
    assert t._meta(t.current_version())["bloom_cols"] == []
    t.restore(spark, v1)
    assert t._meta(t.current_version())["bloom_cols"] == ["k"]


def test_concurrent_append_during_merge_is_never_lost(spark, tmp_path, monkeypatch):
    """Code-review r6 finding: a commit that lands while another writer is
    COMPUTING its merge must not be silently overwritten. The merge's
    commit now CASes against the snapshot the merge was derived from, so
    the stale attempt fails and the retry re-reads the new head — both
    writers' rows survive."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 10))
    other = TxnTable(t.root)
    orig = t._merge_candidates
    fired: list[int] = []

    def hooked(expect, updates, keys):
        if not fired:  # inject the concurrent commit mid-computation
            fired.append(1)
            other.append(
                spark.createDataFrame(
                    [(500, "concurrent", "1")],
                    "k long, tag string, dt string",
                )
            )
        return orig(expect, updates, keys)

    monkeypatch.setattr(t, "_merge_candidates", hooked)
    upd = spark.createDataFrame(
        [(1, "mine", "1")], "k long, tag string, dt string"
    )
    t.merge_upsert(spark, upd, keys=["k"], max_retries=3)
    got = t.read(spark)
    # the interleaved append's row is STILL THERE after the merge lands
    assert got.filter(F.col("tag") == "concurrent").count() == 1
    assert got.filter(F.col("tag") == "mine").count() == 1
    assert got.count() == 11
    assert len(fired) == 1  # hook fired once; retry used the fresh head


def test_bloom_conjunctive_equality_prunes_int_literal(spark, tmp_path):
    """Code-review r6 finding: the conjunctive "=" bloom probe must use
    the RAW literal (the float-coerced stats literal canons to None and
    silently disabled pruning for integer keys — the primary use case).
    Even keys only, so an odd IN-RANGE value is absent but range stats
    cannot prove it."""
    t = TxnTable(str(tmp_path / "t"))
    df = spark.range(300).select(
        (F.col("id") * 2).alias("k"),
        F.lit("x").alias("tag"),
    ).repartition(4, "k")
    t.commit(df, bloom_cols=["k"])
    # in-range absent value: range stats keep files, bloom must prune all
    kept, total = t.pruned_files([("k", "=", 151)])
    assert total >= 4 and kept == []
    # present value: kept and correct
    kept_hit, _ = t.pruned_files([("k", "=", 150)])
    assert len(kept_hit) >= 1
    data = os.path.join(t.root, "_versions", t.current_version())
    import pyspark.sql.functions as _F
    n = (
        spark.read.parquet(*(os.path.join(data, r) for r in kept_hit))
        .filter(_F.col("k") == 150)
        .count()
    )
    assert n == 1


def test_multi_writer_stress_no_lost_rows(spark, tmp_path, store):
    """Five concurrent writers (3 appenders + 2 disjoint-key mergers)
    hammer one table through the CAS pointer. Linearizability check:
    every writer's rows are present exactly once in the final snapshot,
    and the history's parent links form one unbroken chain (no slot ever
    double-published). Runs over both stores."""
    t = TxnTable(str(tmp_path / "t"), store=store)
    t.commit(_df(spark, 10))
    errs: list[Exception] = []

    def appender(wid: int) -> None:
        try:
            for i in range(2):
                rows = [(1000 + wid * 10 + i, f"app{wid}", "1")]
                TxnTable(t.root, store=store).append(
                    spark.createDataFrame(
                        rows, "k long, tag string, dt string"
                    ),
                    max_retries=10,
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def merger(wid: int) -> None:
        try:
            upd = spark.createDataFrame(
                [(wid * 3, f"m{wid}", "0"), (wid * 3 + 1, f"m{wid}", "0")],
                "k long, tag string, dt string",
            )
            TxnTable(t.root, store=store).merge_upsert(
                spark, upd, keys=["k"], max_retries=10
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=appender, args=(w,)) for w in range(3)
    ] + [threading.Thread(target=merger, args=(w,)) for w in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    got = t.read(spark)
    # 10 base + 6 appended; mergers updated existing keys 3,4 and 6,7
    assert got.count() == 16
    for w in range(3):
        assert got.filter(F.col("tag") == f"app{w}").count() == 2
    for w in (1, 2):
        assert got.filter(F.col("tag") == f"m{w}").count() == 2
    # no duplicate keys anywhere
    assert got.select("k").distinct().count() == 16
    # unbroken single-chain lineage back to v1
    lineage = t.lineage()
    assert len(lineage) == len(t.history())
    versions = [m["version"] for m in lineage]
    assert len(set(versions)) == len(versions)


# -- advisor-found regressions (round 7) --------------------------------


def test_bloom_cross_typed_literal_never_prunes(spark, tmp_path):
    """Regression (ADVICE r6, txn.py:676): bloom keys are type-tagged
    (i:/s:), but Spark equality casts across types — ``k = '7'`` on an
    int column matches rows. A cross-typed literal must keep files
    (conservative), not be 'proven absent' by a probe that can never
    hit the other type's keys."""
    t = _bloom_table(spark, tmp_path)
    # string literal on the int column: bloom gated off; range stats
    # still coerce ("7" -> 7.0) so only genuinely impossible files could
    # drop — here the key space spans every file, so ALL files survive
    kept, total = t.pruned_files_in("k", ["7"])
    assert total == 12
    # range stats may still drop files whose numeric [min,max] excludes 7
    # (that path coerces safely) — but the bloom must NOT fire, so the
    # cross-typed kept set strictly contains the same-typed one, and the
    # file that really holds k=7 is in it
    same, _ = t.pruned_files_in("k", [7])
    assert len(same) == 1
    assert set(same) <= set(kept) and len(kept) > len(same)
    kept_eq, _ = t.pruned_files([("k", "=", "7")])
    assert set(same) <= set(kept_eq) and len(kept_eq) > len(same)
    # and the cast-matching row is really readable from the kept files
    import os as _os

    data = _os.path.join(t.root, "_versions", t.current_version())
    got = (
        spark.read.parquet(*[_os.path.join(data, r) for r in kept])
        .filter(F.col("k") == "7")
        .count()
    )
    assert got == 1


def _log_entries(root, store=None):
    """``_log/<name> -> content`` for every entry. The in-memory store
    has no listing, so there the names ``_root`` and v1..v20 are probed."""
    log = os.path.join(root, "_log")
    if store is None or isinstance(store, LocalStore):
        names = sorted(os.listdir(log))
    else:
        names = ["_root"] + [f"v{i:08d}" for i in range(1, 21)]
    store = store or LocalStore()
    return {
        n: data.decode()
        for n in names
        if (data := store.get(os.path.join(log, n))) is not None
    }


def test_crash_between_log_link_and_hint_still_published(
    spark, tmp_path, store, monkeypatch
):
    """A writer that dies after its log entry lands but before it moves
    the ``_LATEST`` hint has published: readers and the next commit both
    see its version."""
    root = str(tmp_path / "t")
    latest = os.path.join(root, "_LATEST")
    TxnTable(root, store=store).commit(_df(spark, 4))
    with monkeypatch.context() as m:
        # the process is gone before the hint moves
        m.setattr(store, "put", lambda path, data: None)
        v2 = TxnTable(root, store=store).append(_df(spark, 3, tag="b"))
    assert store.get(latest) == b"v00000001"  # the hint lags
    t = TxnTable(root, store=store)
    assert t.current_version() == v2
    assert t.read(spark).count() == 7
    v3 = t.append(_df(spark, 2, tag="c"))
    assert t.current_version() == v3 and t.read(spark).count() == 9
    assert store.get(latest) == v3.encode()


def test_legacy_plain_latest_reads_and_upgrades(spark, tmp_path):
    """A table written by the older lockfile protocol (plain-file
    ``_LATEST``, no ``_log/``) reads at that version, and a commit on
    top of it works and leaves the hint naming the new head."""
    root = str(tmp_path / "t")
    t = TxnTable(root)
    t.commit(_df(spark, 4))
    v2 = t.append(_df(spark, 3, tag="b"))
    shutil.rmtree(os.path.join(root, "_log"))
    latest = os.path.join(root, "_LATEST")
    os.unlink(latest)
    with open(latest, "w") as f:
        f.write(v2)
    t = TxnTable(root)
    assert t.current_version() == v2 and t.read(spark).count() == 7
    v3 = t.append(_df(spark, 2, tag="c"))
    assert t.current_version() == v3 and t.read(spark).count() == 9
    assert _log_entries(root) == {v2: v3}
    with open(latest) as f:
        assert f.read() == v3  # the hint names v3


def test_leftover_lockfile_blocks_nothing(spark, tmp_path):
    """A fresh ``_LATEST.lock`` left by the older protocol is ignored."""
    t = TxnTable(str(tmp_path / "t"))
    t.commit(_df(spark, 4))
    lock = os.path.join(t.root, "_LATEST.lock")
    with open(lock, "w") as f:
        f.write("someone-else")
    v = t.append(_df(spark, 2, tag="after"))
    assert t.current_version() == v and t.read(spark).count() == 6


def test_hint_naming_a_vacuumed_version_resolves_the_head(spark, tmp_path):
    """The hint lags (a writer died before moving it), then vacuum
    removes the version it names: reads still resolve the live head
    through the log entries, which vacuum keeps."""
    root = str(tmp_path / "t")
    t = TxnTable(root)
    for i in range(4):
        t.commit(_df(spark, 5 + i))
    head = t.current_version()
    # hint back at v00000002, as if the last two writers died before it
    os.link(os.path.join(root, "_log", "v00000001"), root + "/.hint")
    os.rename(root + "/.hint", os.path.join(root, "_LATEST"))
    assert t.current_version() == head
    removed = t.vacuum(keep=1)
    assert removed == ["v00000001", "v00000002", "v00000003"]
    assert t.current_version() == head == "v00000004"
    assert t.read(spark).count() == 8
    assert _log_entries(root) == {
        "_root": "v00000001", "v00000001": "v00000002",
        "v00000002": "v00000003", "v00000003": "v00000004",
    }
    v5 = t.append(_df(spark, 1, tag="z"))
    assert TxnTable(root).current_version() == v5
    # the new hint replaced the link; the entry it shared kept its content
    assert _log_entries(root)["v00000001"] == "v00000002"


def test_stale_or_unpublished_expect_creates_no_entry(tmp_path, store):
    """A swap on a parent that is not the head raises and leaves
    ``_log/`` exactly as it was: no entry a reader could never reach."""
    root = str(tmp_path / "t")
    t = TxnTable(root, store=store)
    t._swap_pointer("v00000001", None)
    t._swap_pointer("v00000002", "v00000001")
    before = _log_entries(root, store)
    for stale in (None, "v00000001", "v00000007"):
        with pytest.raises(ConcurrentCommitError):
            t._swap_pointer("v00000009", stale)
    assert _log_entries(root, store) == before
    assert t.current_version() == "v00000002"


def test_same_parent_put_if_absent_admits_one_writer(
    tmp_path, store, monkeypatch
):
    """Two writers pass the head check on the same parent; the
    put-if-absent decides. The one that puts second raises at once and
    leaves the winner's entry and the hint intact."""
    root = str(tmp_path / "t")
    TxnTable(root, store=store)._swap_pointer("v00000001", None)
    real_put_if_absent = store.put_if_absent

    def stalled(path, data):
        # another writer publishes on the same parent while this one
        # sits between its head check and its put
        monkeypatch.setattr(store, "put_if_absent", real_put_if_absent)
        TxnTable(root, store=store)._swap_pointer("v00000002", "v00000001")
        real_put_if_absent(path, data)

    monkeypatch.setattr(store, "put_if_absent", stalled)
    start = time.monotonic()
    with pytest.raises(ConcurrentCommitError):
        TxnTable(root, store=store)._swap_pointer("v00000003", "v00000001")
    assert time.monotonic() - start < 5.0
    assert TxnTable(root, store=store).current_version() == "v00000002"
    assert _log_entries(root, store) == {
        "_root": "v00000001", "v00000001": "v00000002"
    }
    assert store.get(os.path.join(root, "_LATEST")) == b"v00000002"


def test_late_link_after_vacuum_hits_the_winners_entry(
    spark, tmp_path, monkeypatch
):
    """Between a writer's head check and its put, two commits land on
    its parent and vacuum removes the parent. The parent's log entry
    survives vacuum, so the late put fails and the chain is unchanged."""
    root = str(tmp_path / "t")
    store = LocalStore()
    t = TxnTable(root, store=store)
    t.commit(_df(spark, 4))
    real_put_if_absent = store.put_if_absent

    def stalled(path, data):
        monkeypatch.setattr(store, "put_if_absent", real_put_if_absent)
        t.append(_df(spark, 3, tag="b"))
        t.append(_df(spark, 2, tag="c"))
        assert t.vacuum(keep=1) == ["v00000001", "v00000002"]
        real_put_if_absent(path, data)

    monkeypatch.setattr(store, "put_if_absent", stalled)
    with pytest.raises(ConcurrentCommitError):
        TxnTable(root, store=store)._swap_pointer("v00000009", "v00000001")
    assert _log_entries(root) == {
        "_root": "v00000001", "v00000001": "v00000002",
        "v00000002": "v00000003",
    }
    assert TxnTable(root).current_version() == "v00000003"
    assert TxnTable(root).read(spark).count() == 9


def test_writer_stalled_inside_hint_cannot_hide_the_head(
    spark, tmp_path, store, monkeypatch
):
    """A writer's log entry lands, then it stalls inside its hint
    ``put`` while two more commits and a vacuum run. Its late put moves
    the hint back to a vacuumed version; readers and the next commit
    still reach the real head."""
    root = str(tmp_path / "t")
    TxnTable(root, store=store).commit(_df(spark, 4))
    real_put = store.put

    def stalls_in_hint(path, data):
        monkeypatch.setattr(store, "put", real_put)
        other = TxnTable(root, store=store)
        other.append(_df(spark, 3, tag="c"))
        other.append(_df(spark, 2, tag="d"))
        assert other.vacuum(keep=2) == ["v00000001", "v00000002"]
        real_put(path, data)

    monkeypatch.setattr(store, "put", stalls_in_hint)
    v2 = TxnTable(root, store=store).append(_df(spark, 5, tag="b"))
    assert v2 == "v00000002"
    # the hint names a vacuumed version
    assert store.get(os.path.join(root, "_LATEST")) == v2.encode()
    t = TxnTable(root, store=store)
    assert t.current_version() == "v00000004"
    assert t.read(spark).count() == 14
    v5 = t.append(_df(spark, 1, tag="e"))
    assert TxnTable(root, store=store).current_version() == v5 == "v00000005"
    assert TxnTable(root, store=store).read(spark).count() == 15
    assert _log_entries(root, store)["v00000004"] == v5


def test_etag_pointer_is_a_real_backend(spark, tmp_path):
    """The in-memory store drives a full table lifecycle — commit,
    append, merge, clone (the store travels), restore — with no log or
    hint file on disk at all."""
    store = InMemoryStore()
    t = TxnTable(str(tmp_path / "t"), store=store)
    t.commit(_df(spark, 10))
    t.append(
        spark.createDataFrame(
            [(100, "b", "1"), (101, "b", "2")],
            "k long, tag string, dt string",
        )
    )
    assert t.read(spark).count() == 12
    # no _LATEST or _log on disk: the commit log lives in the store
    assert not os.path.exists(os.path.join(t.root, "_LATEST"))
    assert not os.path.exists(os.path.join(t.root, "_log"))
    upd = spark.createDataFrame(
        [(0, "merged", "0")], "k long, tag string, dt string"
    )
    t.merge_upsert(spark, upd, keys=["k"])
    assert t.read(spark).filter(F.col("tag") == "merged").count() == 1
    clone = t.clone_to(spark, str(tmp_path / "dev"))
    assert clone.store is store  # the store travels with the clone
    assert clone.read(spark).count() == 12
    # stale swap raises (not silently overwrites)
    with pytest.raises(ConcurrentCommitError):
        t._swap_pointer("v99999999", None)


def test_bloom_tag_and_stats_free_pruning():
    """Round 8: the bloom carries its own key-type tag, so a file with a
    bloom but NO range stats for the column is still point-prunable
    (pre-fix, _bloom_literal_ok required the stats entry and such files
    could never be bloom-pruned); cross-typed literals still keep the
    file conservatively."""
    from rxlan_aws_lakehouse_spark.txn import (
        TxnTable,
        _bloom_build,
        _bloom_literal_ok,
    )

    bl_num = _bloom_build(iter(range(100)))
    bl_str = _bloom_build(iter(f"v{i}" for i in range(100)))
    assert bl_num["t"] == "num" and bl_str["t"] == "str"
    # tag alone gates the probe — no stats entry needed
    assert _bloom_literal_ok(bl_num, None, 7)
    assert _bloom_literal_ok(bl_str, None, "v7")
    # cross-typed literals (Spark casts, bloom keys don't): no probe
    assert not _bloom_literal_ok(bl_num, None, "7")
    assert not _bloom_literal_ok(bl_str, None, 7)
    assert not _bloom_literal_ok(bl_num, None, True)
    # no bloom at all -> nothing to probe
    assert not _bloom_literal_ok(None, {"t": "num"}, 7)

    # manifest entry WITHOUT range stats for k (footer lacked min/max)
    entry = {"rows": 100, "columns": {}, "bloom": {"k": bl_num}}
    assert TxnTable._file_prunable(entry, "f.parquet", [("k", "=", 10**9)])
    assert not TxnTable._file_prunable(entry, "f.parquet", [("k", "=", 7)])
    # type confusion still conservative: string literal on an int bloom
    assert not TxnTable._file_prunable(
        entry, "f.parquet", [("k", "=", str(10**9))]
    )
    # disjunctive IN-probe path, same stats-free entry
    assert not TxnTable._file_matches_any(entry, "k", [10**9, 10**9 + 1])
    assert TxnTable._file_matches_any(entry, "k", [10**9, 7])


def test_register_surfaces_cbo_stats_for_broadcast_decision(spark, tmp_path):
    """r7 verdict task 4: a dimension JUST OVER the broadcast threshold
    still broadcasts once catalog statistics say it fits post-filter.
    TxnTable.register pins the snapshot as an external table, ANALYZEs
    rowCount + the filter column, and cross-checks the catalog rowCount
    against the manifest's per-file totals; with CBO on, FilterEstimation
    shrinks the size estimate below the threshold -> BroadcastHashJoin,
    while the stats-less path read of the SAME files stays SortMergeJoin."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    dim = spark.range(40_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 8).alias("seg"),
        F.concat(F.lit("name_"), F.col("id").cast("string")).alias("nm"),
    )
    t = TxnTable(str(tmp_path / "dim"))
    t.commit(dim)
    reg = t.register(spark, "cbo_dim_t", analyze_columns=("seg",))
    assert reg.count() == 40_000
    stats = next(
        r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED cbo_dim_t").collect()
        if r.col_name == "Statistics"
    )
    assert "40000 rows" in stats
    fact = spark.range(1_000_000).select(
        (F.col("id") % 40_000).alias("k"), F.col("id").alias("v")
    )
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.adaptive.enabled": "false",
        # full dim ~390 KB > threshold; the seg=3 slice estimates ~220 KB
        "spark.sql.autoBroadcastJoinThreshold": "300000",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        with_stats = (
            fact.join(spark.table("cbo_dim_t").filter(F.col("seg") == 3), "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in with_stats, with_stats
        without = (
            fact.join(t.read(spark).filter(F.col("seg") == 3), "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in without, without
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS cbo_dim_t")


def test_register_rejects_rowcount_mismatch(spark, tmp_path):
    """The manifest cross-check: registering a snapshot whose files an
    external table can't fully see (or whose manifest disagrees) raises
    instead of silently serving wrong statistics."""
    import json
    import os

    from rxlan_aws_lakehouse_spark.txn import TxnTable, _VERSIONS

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.range(100).select(F.col("id").alias("k")))
    v = t.current_version()
    # corrupt one manifest entry's row count
    meta = t._meta(v)
    key = next(iter(meta["shards"]))
    shard_path = t._shard_file(v, key)
    with open(shard_path) as f:
        shard = json.load(f)
    rel = next(iter(shard["files"]))
    shard["files"][rel]["rows"] += 5
    with open(shard_path, "w") as f:
        json.dump(shard, f)
    with pytest.raises(ValueError, match="manifest total"):
        t.register(spark, "cbo_bad_t")
    assert not spark.catalog.tableExists("cbo_bad_t")


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """Delta TIMESTAMP AS OF parity (round 8): read_at resolves the
    newest PUBLISHED snapshot committed at or before the bound; staged
    WAP snapshots never answer; pre-history bounds raise."""
    import time as _time

    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.range(3).select(F.col("id").alias("k")))
    t_after_v1 = _time.time()
    _time.sleep(0.05)
    t.append(spark.range(3, 5).select(F.col("id").alias("k")))
    t_after_v2 = _time.time()
    _time.sleep(0.05)
    # staged (unpublished) snapshot must NOT become an as-of answer
    t.commit(
        spark.range(100, 200).select(F.col("id").alias("k")), publish=False
    )
    assert t.read_at(spark, t_after_v1).count() == 3
    assert t.read_at(spark, t_after_v2).count() == 5
    assert t.read_at(spark, _time.time()).count() == 5
    with pytest.raises(FileNotFoundError):
        t.version_at(t_after_v1 - 3600.0)


# -- deletion vectors (round 8) -------------------------------------------


def _dv_table(spark, tmp_path, n=100):
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("seg"),
        (F.col("id") * 2.0).alias("v"),
    ).repartition(4, "k")
    t.commit(df)
    return t


def test_deferred_delete_merge_on_read(spark, tmp_path):
    """delete_where_deferred suppresses rows WITHOUT rewriting any data
    file (all carried by reference), read() applies the vector, deletes
    union across deferred commits, and NULL-evaluating rows stay (3VL)."""
    t = _dv_table(spark, tmp_path)
    v1 = t.current_version()
    files_v1 = set(t.files(v1))
    v2 = t.delete_where_deferred(spark, F.col("k") < 10)
    assert t.has_deletion_vectors(v2)
    assert set(t.files(v2)) == files_v1  # zero data files rewritten
    assert t.read(spark).count() == 90
    assert t.read(spark).filter(F.col("k") < 10).count() == 0
    # time travel: v1 still shows everything
    assert t.read(spark, v1).count() == 100
    # second deferred delete unions
    t.delete_where_deferred(spark, F.col("k") >= 95)
    assert t.read(spark).count() == 85
    # no-match deferred delete is a no-op commit-wise
    head = t.current_version()
    assert t.delete_where_deferred(spark, F.col("k") < 0) == head
    # pruned reads apply the vector too
    got = t.read_pruned(spark, [("k", "<", 20)])
    assert got.count() == 10 and got.filter(F.col("k") < 10).count() == 0


def test_dv_carries_through_append_and_materializes(spark, tmp_path):
    """An append after a deferred delete must not resurrect deleted rows
    (DV carry-forward); materialize_deletes rewrites ONLY DV-referenced
    files, clears the vector, and re-enables file-granular writers."""
    from rxlan_aws_lakehouse_spark.txn import PendingDeleteVectorsError

    t = _dv_table(spark, tmp_path)
    t.delete_where_deferred(spark, F.col("k") < 10)
    t.append(
        spark.createDataFrame(
            [(1000, "x", 1.0), (1001, "x", 2.0)], "k long, seg string, v double"
        )
    )
    assert t.read(spark).count() == 92  # 90 surviving + 2 appended
    assert t.read(spark).filter(F.col("k") < 10).count() == 0
    # file-granular writers refuse while the vector is pending
    with pytest.raises(PendingDeleteVectorsError):
        t.merge_upsert(
            spark,
            spark.createDataFrame([(50, "m", 0.0)], "k long, seg string, v double"),
            keys=["k"],
        )
    with pytest.raises(PendingDeleteVectorsError):
        t.delete_where(spark, F.col("k") == 50)
    with pytest.raises(PendingDeleteVectorsError):
        t.register(spark, "dv_reg_refused")
    before = t.file_entries()
    v = t.materialize_deletes(spark)
    assert not t.has_deletion_vectors(v)
    assert t.read(spark).count() == 92
    # only DV-referenced files were rewritten: the appended file carried
    after = set(t.files(v))
    carried = set(before) & after
    assert carried  # at least the appended / untouched files survive
    # writers work again
    t.merge_upsert(
        spark,
        spark.createDataFrame([(50, "m", 0.0)], "k long, seg string, v double"),
        keys=["k"],
    )
    assert t.read(spark).filter(F.col("seg") == "m").count() == 1
    # idempotent: materialize with no vector is a no-op
    assert t.materialize_deletes(spark) == t.current_version()


def test_dv_rewrite_layout_naturally_materializes(spark, tmp_path):
    """rewrite_layout reads through read() (vector applied) and carries
    nothing, so the rewritten snapshot is vector-free with deletes baked
    in — full rewrites double as materialization."""
    t = _dv_table(spark, tmp_path)
    t.delete_where_deferred(spark, F.col("k") % 2 == 0)
    v = t.rewrite_layout(spark, n_files=2)
    assert not t.has_deletion_vectors(v)
    assert t.read(spark).count() == 50
    assert t.read(spark).filter(F.col("k") % 2 == 0).count() == 0


def test_dv_travels_through_clone_and_restore(spark, tmp_path):
    """A DV-bearing snapshot clones WITH its vector (cross-root link) and
    restores WITH it (same-root carry-forward) — neither resurrects
    suppressed rows."""
    t = _dv_table(spark, tmp_path)
    v_dv = t.delete_where_deferred(spark, F.col("k") < 10)
    clone = t.clone_to(spark, str(tmp_path / "dev"))
    assert clone.has_deletion_vectors()
    assert clone.read(spark).count() == 90
    assert clone.read(spark).filter(F.col("k") < 10).count() == 0
    # source evolves past the DV; restore brings the vector back
    t.materialize_deletes(spark)
    t.append(
        spark.createDataFrame([(500, "x", 0.0)], "k long, seg string, v double")
    )
    assert t.read(spark).count() == 91
    t.restore(spark, v_dv)
    assert t.has_deletion_vectors()
    assert t.read(spark).count() == 90


def test_dv_survives_partition_overwrite(spark, tmp_path):
    """overwrite_partitions under a pending vector: replaced partitions
    take the new rows verbatim (their old DV entries go inert — the
    files they referenced left the snapshot), carried partitions keep
    their deletes applied."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 50, "a").otherwise("b").alias("part"),
        (F.col("id") * 1.0).alias("v"),
    )
    t.commit(df, partition_by=["part"])
    # defer-delete 10 rows in EACH partition
    t.delete_where_deferred(spark, (F.col("k") % 5 == 0))
    assert t.read(spark).count() == 80
    # overwrite partition b with 10 fresh rows (keys 200..209)
    t.overwrite_partitions(
        spark,
        spark.range(200, 210).select(
            F.col("id").alias("k"),
            F.lit("b").alias("part"),
            F.lit(0.0).alias("v"),
        ),
    )
    got = t.read(spark)
    # partition a: 50 rows minus its 10 deferred deletes; b: the 10 new
    assert got.filter(F.col("part") == "a").count() == 40
    assert got.filter(F.col("part") == "b").count() == 10
    assert got.filter((F.col("part") == "a") & (F.col("k") % 5 == 0)).count() == 0
    assert t.has_deletion_vectors()  # a's vector still pending
    v = t.materialize_deletes(spark)
    assert not t.has_deletion_vectors(v)
    assert t.read(spark).count() == 50


def test_dv_read_by_file_list_returns_the_vector(spark, tmp_path):
    """The deletion vector is read by its explicit file list: the same
    (rel, row_index) rows a read of its directory returns, applied by the
    snapshot read."""
    t = _dv_table(spark, tmp_path)
    t.delete_where_deferred(spark, F.col("k") < 10)
    v = t.delete_where_deferred(spark, F.col("k") % 9 == 0)
    got = sorted(tuple(r) for r in t._read_dv(spark, v).collect())
    want = sorted(
        tuple(r) for r in spark.read.parquet(t._dv_dir(v)).collect()
    )
    assert got == want and len(got) == 10 + 10  # k < 10, then 18, 27 .. 99
    assert t.read(spark).count() == 80


def test_materialize_rewrites_each_touched_file_into_one(spark, tmp_path):
    """Deletion vectors purge file by file: each touched file's surviving
    rows become exactly one new file in its partition directory and every
    other file carries, whatever the core count."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.range(400).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 200, "a").otherwise("b").alias("part"),
        ).repartition(8),
        partition_by=["part"],
    )  # 16 files, 8 in each partition
    t.delete_where_deferred(
        spark, (F.col("part") == "a") & (F.col("k") % 7 == 0)
    )
    v = t.current_version()
    before = t.file_entries(v)
    deleted = {
        r["rel"]: r["count"]
        for r in t._read_dv(spark, v).groupBy("rel").count().collect()
    }
    want = sorted(tuple(r) for r in t.read(spark).collect())
    t.materialize_deletes(spark)
    after = t.file_entries()
    assert {r for r in after if r in before} == set(before) - set(deleted)
    fresh = {r: e for r, e in after.items() if r not in before}
    assert sorted(os.path.dirname(r) for r in fresh) == sorted(
        os.path.dirname(r) for r in deleted
    )
    assert sorted(e["rows"] for e in fresh.values()) == sorted(
        before[r]["rows"] - n for r, n in deleted.items()
    )
    assert sorted(tuple(r) for r in t.read(spark).collect()) == want


class TestSyncFull:
    """Full-snapshot MERGE sync: WHEN MATCHED UPDATE / NOT MATCHED INSERT /
    NOT MATCHED BY SOURCE DELETE, file-granular."""

    def _base(self, spark, tmp_path, cdf=False):
        t = TxnTable(str(tmp_path / "t"))
        df = spark.range(0, 100).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("part"),
            (F.col("id") * 10).cast("double").alias("v"),
        )
        t.commit(df.repartition("part"), partition_by=["part"])
        if cdf:
            t.set_change_feed(spark, True)
        return t, df

    def _source(self, spark, df):
        # delete k>=90, update v for k%10==0 (kept ones), insert 200..204
        return (
            df.filter(F.col("k") < 90)
            .withColumn(
                "v",
                F.when(F.col("k") % 10 == 0, F.col("v") + 1.0).otherwise(
                    F.col("v")
                ),
            )
            .unionByName(
                spark.range(200, 205).select(
                    F.col("id").alias("k"),
                    F.lit("new").alias("part"),
                    F.lit(0.0).alias("v"),
                )
            )
        )

    def test_converges_to_source_exactly(self, spark, tmp_path):
        t, df = self._base(spark, tmp_path)
        src = self._source(spark, df)
        t.sync_full(spark, src, keys=["k"])
        got = sorted(
            tuple(r) for r in t.read(spark).select("k", "part", "v").collect()
        )
        want = sorted(
            tuple(r) for r in src.select("k", "part", "v").collect()
        )
        assert got == want

    def test_rewrites_only_changed_files(self, spark, tmp_path):
        t, df = self._base(spark, tmp_path)
        v0 = t.current_version()
        n_files = len(t.files())
        # change ONE partition's rows + insert a new partition; parts
        # 1,2,3 are byte-identical in the source
        src = df.withColumn(
            "v",
            F.when(F.col("part") == "0", F.col("v") + 1.0).otherwise(
                F.col("v")
            ),
        ).unionByName(
            spark.range(300, 302).select(
                F.col("id").alias("k"),
                F.lit("new").alias("part"),
                F.lit(0.0).alias("v"),
            )
        )
        v1 = t.sync_full(spark, src, keys=["k"])
        meta = t._meta(v1)
        fresh = [
            rel
            for info in meta["shards"].values()
            for rel in info["fresh"]
        ]
        carried = [rel for rel in t.files(v1) if rel not in set(fresh)]
        assert carried, "unchanged partitions must carry by reference"
        # every untouched partition file carried; only part=0 rewritten
        # (+ the new-partition inserts)
        assert all("part=0" not in rel and "part=new" not in rel
                   for rel in carried)
        assert len(carried) == sum(
            1 for rel in t.files(v0) if "part=0" not in rel
        )
        got = sorted(
            tuple(r) for r in t.read(spark).select("k", "part", "v").collect()
        )
        want = sorted(
            tuple(r) for r in src.select("k", "part", "v").collect()
        )
        assert got == want

    def test_no_change_sync_writes_nothing(self, spark, tmp_path):
        t, df = self._base(spark, tmp_path)
        v1 = t.sync_full(spark, df, keys=["k"])
        meta = t._meta(v1)
        fresh = [
            rel
            for info in meta["shards"].values()
            for rel in info["fresh"]
        ]
        assert fresh == []
        assert t.read(spark).count() == 100

    def test_cdf_payload_classifies_all_changes(self, spark, tmp_path):
        t, df = self._base(spark, tmp_path, cdf=True)
        v0 = t.current_version()
        src = self._source(spark, df)
        t.sync_full(spark, src, keys=["k"])
        chg = t.read_row_changes(spark, since=v0)
        by_type = {
            r["_change_type"]: r["n"]
            for r in chg.groupBy("_change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        # deletes: k in 90..99; updates: k%10==0 and k<90 (9 keys);
        # inserts: 200..204
        assert by_type["delete"] == 10
        assert by_type["update_preimage"] == 9
        assert by_type["update_postimage"] == 9
        assert by_type["insert"] == 5
        post = chg.filter(
            (F.col("_change_type") == "update_postimage") & (F.col("k") == 0)
        ).collect()[0]
        assert post["v"] == 1.0

    def test_duplicate_source_keys_rejected(self, spark, tmp_path):
        t, df = self._base(spark, tmp_path)
        with pytest.raises(ValueError, match="duplicate merge keys"):
            t.sync_full(spark, df.unionByName(df.limit(1)), keys=["k"])

    def test_time_travel_sees_pre_sync_state(self, spark, tmp_path):
        t, df = self._base(spark, tmp_path)
        v0 = t.current_version()
        t.sync_full(spark, self._source(spark, df), keys=["k"])
        assert t.read(spark, v0).count() == 100
        assert t.read(spark).count() == 95


class TestPartitionEvolution:
    """Iceberg-style partition-spec evolution: a commit changes
    partition_by going forward; history keeps its layout (metadata-only
    migration), every reader and file-granular writer handles the mixed
    snapshot, compact()/rewrite_layout() migrate physically."""

    def _mk(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("part"),
            (F.col("id") % 3).cast("string").alias("yr"),
            (F.col("id") * 1.5).alias("v"),
        )

    def _evolved(self, spark, tmp_path):
        t = TxnTable(str(tmp_path / "t"))
        t.commit(self._mk(spark, 0, 100), partition_by=["part"])
        t.append(self._mk(spark, 100, 150), partition_by=["yr"])
        return t

    def test_mixed_read_and_column_values(self, spark, tmp_path):
        t = self._evolved(spark, tmp_path)
        snap = t.read(spark)
        assert snap.count() == 150
        # path-derived and data-derived columns agree for every row
        bad = snap.filter(
            (F.col("part") != (F.col("k") % 4).cast("string"))
            | (F.col("yr") != (F.col("k") % 3).cast("string"))
        )
        assert bad.count() == 0

    def test_pruning_on_new_spec_column(self, spark, tmp_path):
        t = self._evolved(spark, tmp_path)
        kept, total = t.pruned_files([("yr", "=", "0")])
        assert 0 < len(kept) < total
        assert t.read_pruned(spark, [("yr", "=", "0")]).count() == 50

    def test_writers_over_mixed_specs(self, spark, tmp_path):
        t = self._evolved(spark, tmp_path)
        t.merge_upsert(
            spark,
            self._mk(spark, 40, 60).withColumn("v", F.lit(-1.0)),
            keys=["k"],
        )
        assert t.read(spark).filter(F.col("v") == -1.0).count() == 20
        t.delete_where(spark, F.col("k") % 7 == 0)
        exp = sum(1 for i in range(150) if i % 7 != 0)
        assert t.read(spark).count() == exp
        t.delete_where_deferred(spark, F.col("k") % 11 == 0)
        exp2 = sum(1 for i in range(150) if i % 7 != 0 and i % 11 != 0)
        assert t.read(spark).count() == exp2
        t.materialize_deletes(spark)
        assert t.read(spark).count() == exp2

    def test_sync_full_over_mixed_specs(self, spark, tmp_path):
        t = self._evolved(spark, tmp_path)
        src = self._mk(spark, 0, 140).withColumn(
            "v", F.when(F.col("k") < 10, 9.9).otherwise(F.col("v"))
        )
        t.sync_full(spark, src, keys=["k"])
        got = sorted(
            tuple(r)
            for r in t.read(spark).select("k", "part", "yr", "v").collect()
        )
        want = sorted(
            tuple(r) for r in src.select("k", "part", "yr", "v").collect()
        )
        assert got == want

    def test_compact_migrates_to_live_spec(self, spark, tmp_path):
        t = self._evolved(spark, tmp_path)
        t.compact(
            spark, target_file_bytes=1 << 30, small_file_bytes=1 << 30
        )
        sigs = {TxnTable._spec_sig(r) for r in t.files()}
        assert sigs == {("yr",)}
        assert t.read(spark).count() == 150
        # history unchanged: the pre-compact version still reads mixed
        assert t.read(spark, "v00000002").count() == 150

    def test_register_refuses_mixed_specs(self, spark, tmp_path):
        t = self._evolved(spark, tmp_path)
        with pytest.raises(ValueError, match="single partition spec"):
            t.register(spark, "evo_reject")

    def test_datasource_over_mixed_specs(self, spark, tmp_path):
        from rxlan_aws_lakehouse_spark.sources.txn_source import (
            register_txn_source,
        )

        t = self._evolved(spark, tmp_path)
        register_txn_source(spark)
        ds = spark.read.format("txn").load(t.root)
        assert ds.count() == 150
        assert (
            ds.agg(F.sum("k")).collect()[0][0] == sum(range(150))
        )


class TestGeneratedPartitions:
    """Generated partition columns (Delta generated columns / Iceberg
    hidden partitioning): derived at write, re-derived on every commit,
    and predicates on the SOURCE column prune the derived dirs."""

    def _day_table(self, spark, tmp_path):
        t = TxnTable(str(tmp_path / "t"))
        df = spark.range(0, 96).select(
            F.col("id").alias("k"),
            (
                F.lit("2024-03-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=F.col("id") * 2)
            ).alias("ts"),
            (F.col("id") * 1.0).alias("v"),
        )
        t.commit(df, generated={"dt": ("day", "ts")})
        return t

    def test_day_transform_write_and_inheritance(self, spark, tmp_path):
        import datetime

        t = self._day_table(spark, tmp_path)
        assert all(r.startswith("dt=2024-03-") for r in t.files())
        # append WITHOUT the generated column: inherited + re-derived
        t.append(
            spark.range(96, 120).select(
                F.col("id").alias("k"),
                (
                    F.lit("2024-03-09 00:00:00").cast("timestamp")
                    + F.make_interval(hours=(F.col("id") - 96) * 2)
                ).alias("ts"),
                (F.col("id") * 1.0).alias("v"),
            )
        )
        snap = t.read(spark)
        assert snap.count() == 120
        assert (
            snap.filter(
                F.col("dt") != F.date_format("ts", "yyyy-MM-dd")
            ).count()
            == 0
        )
        # hidden pruning: a ts range never mentioning dt skips dirs
        lit = datetime.datetime(2024, 3, 9, 0, 0)
        kept, total = t.pruned_files([("ts", ">=", lit)])
        assert 0 < len(kept) < total
        got = t.read_pruned(spark, [("ts", ">=", lit)]).count()
        assert got == snap.filter(F.col("ts") >= F.lit(lit)).count()

    def test_merge_rederives_generated(self, spark, tmp_path):
        t = self._day_table(spark, tmp_path)
        # updates supply only the SOURCE column — dt re-derived
        t.merge_upsert(
            spark,
            spark.range(0, 5).select(
                F.col("id").alias("k"),
                F.lit("2024-03-05 00:00:00").cast("timestamp").alias("ts"),
                F.lit(-1.0).alias("v"),
            ),
            keys=["k"],
        )
        snap = t.read(spark)
        moved = snap.filter(F.col("v") == -1.0)
        assert moved.count() == 5
        assert (
            moved.filter(F.col("dt") != "2024-03-05").count() == 0
        ), "merge must re-derive the generated column from the new ts"

    def test_bucket_transform_point_prune(self, spark, tmp_path):
        t = TxnTable(str(tmp_path / "tb"))
        t.commit(
            spark.range(0, 100).select(
                F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
            ),
            generated={"kb": ("bucket[8]", "k")},
        )
        kept, total = t.pruned_files([("k", "=", 42)])
        assert len(kept) < total
        got = t.read_pruned(spark, [("k", "=", 42)]).collect()
        assert len(got) == 1 and got[0]["v"] == 84.0

    def test_prune_side_literal_matches_write_side(self, spark, tmp_path):
        # the crc32-bucket literal transform must agree with the Spark
        # expression for strings too
        import zlib

        t = TxnTable(str(tmp_path / "ts"))
        t.commit(
            spark.createDataFrame(
                [("alpha", 1), ("beta", 2), ("gamma", 3)], "name string, n int"
            ),
            generated={"nb": ("bucket[4]", "name")},
        )
        for name in ("alpha", "beta", "gamma"):
            expect_dir = f"nb={zlib.crc32(name.encode()) % 4}"
            kept, _ = t.pruned_files([("name", "=", name)])
            assert all(r.startswith(expect_dir) for r in kept), (name, kept)
            assert t.read_pruned(
                spark, [("name", "=", name)]
            ).count() == 1

    def test_strict_range_relaxed_not_dropped(self, spark, tmp_path):
        import datetime

        t = self._day_table(spark, tmp_path)
        # ts > midnight of day X must NOT prune day X itself (other rows
        # of that day still match): strict op relaxes to >=
        lit = datetime.datetime(2024, 3, 3, 0, 0)
        got = t.read_pruned(spark, [("ts", ">", lit)]).count()
        want = t.read(spark).filter(F.col("ts") > F.lit(lit)).count()
        assert got == want


# -- merge-on-read MERGE (deletion-vector-suppressed, round 9) ------------


def test_merge_upsert_dv_equals_cow_and_rewrites_nothing(spark, tmp_path):
    """merge_upsert_dv must produce the exact logical table merge_upsert
    does on the same input, while carrying EVERY parent data file by
    reference — write cost bounded by the delta, not the touch set."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    def base(path):
        t = TxnTable(str(tmp_path / path))
        t.commit(
            spark.range(100).select(
                F.col("id").alias("k"),
                (F.col("id") % 4).cast("string").alias("seg"),
                (F.col("id") * 2.0).alias("v"),
            ).repartition(4, "k")
        )
        return t

    # every-10th-key scatter: the COW worst case (touches every file)
    updates = spark.range(0, 120, 10).select(
        F.col("id").alias("k"),
        F.lit("upd").alias("seg"),
        F.lit(-1.0).alias("v"),
    )
    cow, mor = base("cow"), base("mor")
    parent_files = set(mor.files())
    cow.merge_upsert(spark, updates, keys=["k"])
    v = mor.merge_upsert_dv(spark, updates, keys=["k"])

    want = {tuple(r) for r in cow.read(spark).collect()}
    got = {tuple(r) for r in mor.read(spark).collect()}
    assert got == want
    # 100 originals - 10 matched + 12 updates = 102
    assert len(got) == 102
    # zero parent files rewritten: all carried into the new snapshot
    assert parent_files <= set(mor.files(v))
    assert mor.has_deletion_vectors(v)
    # materialization folds the vector in without changing the answer
    v2 = mor.materialize_deletes(spark)
    assert not mor.has_deletion_vectors(v2)
    assert {tuple(r) for r in mor.read(spark).collect()} == want


def test_merge_upsert_dv_repeat_merges_latest_wins(spark, tmp_path):
    """Successive DV-merges on the same key: discovery must suppress the
    PREVIOUS merge's appended copy (it is a manifest data file like any
    other), so exactly one physical live row per key survives."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.range(50).select(
            F.col("id").alias("k"),
            F.lit("base").alias("seg"),
        ).repartition(4, "k")
    )
    for tag in ("one", "two", "three"):
        t.merge_upsert_dv(
            spark,
            spark.createDataFrame([(7, tag)], "k long, seg string"),
            keys=["k"],
        )
    got = t.read(spark).filter(F.col("k") == 7).collect()
    assert [(r["k"], r["seg"]) for r in got] == [(7, "three")]
    assert t.read(spark).count() == 50


def test_merge_upsert_dv_composes_with_pending_vector(spark, tmp_path):
    """A DV-merge on a table with a pending deferred-delete vector: the
    deleted key counts as an INSERT (its only physical row is dead), the
    other deletes stay applied, and nothing resurrects."""
    t = _dv_table(spark, tmp_path)  # k in 0..99
    t.delete_where_deferred(spark, F.col("k") < 10)
    assert t.read(spark).count() == 90
    t.merge_upsert_dv(
        spark,
        spark.createDataFrame(
            [(5, "back", 0.0), (50, "upd", 0.0)],
            "k long, seg string, v double",
        ),
        keys=["k"],
    )
    got = t.read(spark)
    assert got.count() == 91  # 90 survivors - 1 replaced + 2 update rows
    assert got.filter((F.col("k") == 5) & (F.col("seg") == "back")).count() == 1
    assert got.filter((F.col("k") == 50) & (F.col("seg") == "upd")).count() == 1
    assert got.filter((F.col("k") < 10) & (F.col("k") != 5)).count() == 0


def test_merge_upsert_dv_pure_insert_carries_pending_vector(spark, tmp_path):
    """No key matches: the merge degrades to an append and a pending
    vector must carry forward (commit's default DV carry, aux is None)."""
    t = _dv_table(spark, tmp_path)
    t.delete_where_deferred(spark, F.col("k") < 10)
    v = t.merge_upsert_dv(
        spark,
        spark.createDataFrame([(1000, "new", 0.0)], "k long, seg string, v double"),
        keys=["k"],
    )
    assert t.has_deletion_vectors(v)
    assert t.read(spark).count() == 91
    assert t.read(spark).filter(F.col("k") < 10).count() == 0


def test_merge_upsert_dv_schema_evolution(spark, tmp_path):
    """merge_schema=True through the MoR path: carried files read the new
    column as typed NULLs, fresh rows carry their values, earlier
    snapshots keep the old schema."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.range(20).select(
            F.col("id").alias("k"), F.lit("a").alias("seg")
        ).repartition(2, "k")
    )
    v1 = t.current_version()
    t.merge_upsert_dv(
        spark,
        spark.createDataFrame(
            [(3, "upd", 9), (100, "new", 7)], "k long, seg string, extra int"
        ),
        keys=["k"],
        merge_schema=True,
    )
    got = t.read(spark)
    assert got.count() == 21
    assert got.schema["extra"].dataType.simpleString() == "int"
    assert got.filter(F.col("extra").isNotNull()).count() == 2
    assert got.filter((F.col("k") == 3) & (F.col("extra") == 9)).count() == 1
    assert "extra" not in t.read(spark, v1).columns


def test_merge_upsert_dv_cdf_payload(spark, tmp_path):
    """Row-level CDF parity with merge_upsert: matched keys emit
    update_preimage/update_postimage, unmatched emit insert, and a row
    whose only copy was already DV-deleted emits insert (never a
    preimage of a dead row)."""
    t = _dv_table(spark, tmp_path)
    t.set_change_feed(spark, True)
    t.delete_where_deferred(spark, F.col("k") == 5)
    since = t.current_version()
    t.merge_upsert_dv(
        spark,
        spark.createDataFrame(
            [(5, "back", 0.0), (50, "upd", 0.0), (1000, "new", 0.0)],
            "k long, seg string, v double",
        ),
        keys=["k"],
    )
    chg = t.read_row_changes(spark, since)
    by_type = {
        (r["k"], r["_change_type"]) for r in chg.collect()
    }
    assert (50, "update_preimage") in by_type
    assert (50, "update_postimage") in by_type
    assert (5, "insert") in by_type
    assert (1000, "insert") in by_type
    assert (5, "update_preimage") not in by_type


def test_merge_upsert_dv_duplicate_keys_rejected(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    with pytest.raises(ValueError, match="duplicate merge keys"):
        t.merge_upsert_dv(
            spark,
            spark.createDataFrame(
                [(1, "a", 0.0), (1, "b", 0.0)], "k long, seg string, v double"
            ),
            keys=["k"],
        )


# -- maintain(): one-call maintenance policy (round 9) ---------------------


def test_maintain_healthy_table_is_noop(spark, tmp_path):
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.range(1000).select(F.col("id")).coalesce(2))
    v = t.current_version()
    out = t.maintain(spark)
    assert out == {
        "materialized": False,
        "compacted": False,
        "vacuumed": [],
        "version": v,
    }


def test_maintain_materializes_heavy_dv_then_compacts(spark, tmp_path):
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    t.commit(
        spark.range(1000).select(F.col("id")).repartition(16)
    )  # 16 tiny files
    t.delete_where_deferred(spark, F.col("id") % 3 == 0)  # ~33% > 10%
    out = t.maintain(spark)
    assert out["materialized"] is True
    assert out["compacted"] is True  # tiny files bin-packed after fold-in
    assert not t.has_deletion_vectors()
    got = t.read(spark)
    assert got.count() == 666
    assert got.filter(F.col("id") % 3 == 0).count() == 0
    assert len(t.files()) < 16
    # second call: nothing left to do
    again = t.maintain(spark)
    assert not again["materialized"] and not again["compacted"]


def test_maintain_light_dv_left_pending(spark, tmp_path):
    """Below the dv_row_ratio threshold the read-side anti-join stays
    cheaper than the rewrite: the vector survives maintenance (and
    compaction is therefore skipped — it refuses under a pending DV)."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    t.commit(spark.range(1000).select(F.col("id")).repartition(16))
    t.delete_where_deferred(spark, F.col("id") < 50)  # 5% < 10%
    out = t.maintain(spark)
    assert out["materialized"] is False and out["compacted"] is False
    assert t.has_deletion_vectors()
    assert t.read(spark).count() == 950


def test_maintain_vacuum_policy(spark, tmp_path):
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "t"))
    for i in range(5):
        t.commit(spark.range(10 + i).select(F.col("id")).coalesce(1))
    out = t.maintain(spark, vacuum_keep=2)
    assert len(out["vacuumed"]) == 3
    assert t.read(spark).count() == 14


class TestUpdateWhereDv:
    """Merge-on-read UPDATE (round 10): DV positions + fresh updated
    copies in one commit; composes with pending vectors; CDF images."""

    def _tbl(self, spark, tmp_path, cdf=False):
        t = TxnTable(str(tmp_path / "t"))
        t.commit(
            spark.range(100).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).repartitionByRange(4, "k"),
            cdf=cdf,
        )
        return t

    def test_matches_cow_semantics(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        v = t.update_where_dv(
            spark, F.col("k") % 10 == 3, {"v": F.col("v") + 1000}
        )
        assert v != "v00000001"
        assert t.has_deletion_vectors()
        got = dict((r["k"], r["v"]) for r in t.read(spark).collect())
        assert len(got) == 100
        assert got[3] == 1006 and got[13] == 1026 and got[4] == 8
        # repeat update hits the FRESH copy, not the DV'd original
        t.update_where_dv(spark, F.col("k") == 3, {"v": F.lit(0)})
        got = dict((r["k"], r["v"]) for r in t.read(spark).collect())
        assert got[3] == 0 and len(got) == 100

    def test_composes_with_pending_delete_vector(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        t.delete_where_deferred(spark, F.col("k") < 10)
        # CoW update refuses; DV update proceeds
        import pytest as _pytest

        with _pytest.raises(Exception, match="deletion vectors"):
            t.update_where(spark, F.col("k") == 50, {"v": F.lit(1)})
        t.update_where_dv(spark, F.col("k") >= 95, {"v": F.lit(-1)})
        got = dict((r["k"], r["v"]) for r in t.read(spark).collect())
        assert len(got) == 90  # deletes still applied
        assert all(got[k] == -1 for k in range(95, 100))
        # materialize folds everything; reads unchanged
        t.materialize_deletes(spark)
        assert not t.has_deletion_vectors()
        got2 = dict((r["k"], r["v"]) for r in t.read(spark).collect())
        assert got2 == got

    def test_no_match_is_noop_and_cdf_images(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path, cdf=True)
        v1 = t.current_version()
        assert t.update_where_dv(
            spark, F.col("k") > 1000, {"v": F.lit(0)}
        ) == v1
        v2 = t.update_where_dv(
            spark, F.col("k") == 7, {"v": F.lit(777)}
        )
        chg = t.read_row_changes(spark, since=v1)
        rows = {
            (r["k"], r["v"], r["_change_type"]) for r in chg.collect()
        }
        assert rows == {
            (7, 14, "update_preimage"),
            (7, 777, "update_postimage"),
        }
        assert v2 != v1


def test_spawn_validation_inherits_session_tags(spark):
    """Concurrent pre-commit validation runs on the frames' session: its
    job tags reach the validation thread, with no missing-session
    warning."""
    import warnings

    df = spark.range(3)
    spark.addTag("merge-validation")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            fut = TxnTable._spawn_validation(
                lambda: (df.count(), spark.getTags()), df
            )
        assert fut is not None
        n, tags = fut.result()
    finally:
        spark.removeTag("merge-validation")
    assert n == 3
    assert "merge-validation" in tags
