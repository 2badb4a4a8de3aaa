"""SQL DML router (sql_dml.py): MERGE / UPDATE / DELETE / INSERT typed
as SQL strings must produce byte-identical tables to the TxnTable
primitives they dispatch to — and unsupported syntax must refuse
loudly, never partially apply."""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F

from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter, _tokenize, _render
from rxlan_aws_lakehouse_spark.txn import TxnTable


def _mk(spark, tmp_path, name="t", n=100):
    t = TxnTable(os.path.join(str(tmp_path), name))
    t.commit(
        spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).cast("long").alias("v"),
            F.concat(F.lit("row-"), F.col("id")).alias("tag"),
        )
    )
    return t


def _state(spark, t):
    return sorted(
        tuple(r) for r in t.read(spark).select("k", "v", "tag").collect()
    )


def test_tokenize_render_roundtrip():
    sql = "MERGE INTO a t USING (SELECT x, 'it''s' FROM b) s ON t.k = s.k"
    assert "t.k = s.k" in _render(_tokenize(sql))


class TestMerge:
    def test_sql_merge_equals_merge_upsert(self, spark, tmp_path):
        """The verdict's done-bar: SQL MERGE's resulting table equals
        merge_upsert on the same input."""
        t_sql = _mk(spark, tmp_path, "sql")
        t_api = _mk(spark, tmp_path, "api")
        updates = spark.range(90, 110).select(
            F.col("id").alias("k"),
            (F.col("id") * 100).cast("long").alias("v"),
            F.lit("upd").alias("tag"),
        )
        updates.createOrReplaceTempView("updates_src")
        r = TxnSqlRouter(spark)
        r.register("target", t_sql)
        res = r.sql(
            "MERGE INTO target t USING updates_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()[0]
        assert res["operation"] == "merge_upsert"
        t_api.merge_upsert(spark, updates, keys=["k"])
        assert _state(spark, t_sql) == _state(spark, t_api)
        # the registered view sees the NEW snapshot
        assert spark.table("target").count() == 110

    def test_dv_strategy_matches_cow(self, spark, tmp_path):
        t_cow = _mk(spark, tmp_path, "cow")
        t_dv = _mk(spark, tmp_path, "dv")
        spark.range(50, 120).select(
            F.col("id").alias("k"),
            F.lit(7).cast("long").alias("v"),
            F.lit("x").alias("tag"),
        ).createOrReplaceTempView("updates_src")
        for name, t, strat in (("c", t_cow, "cow"), ("d", t_dv, "dv")):
            r = TxnSqlRouter(spark, strategy=strat)
            r.register(name, t)
            r.sql(
                f"MERGE INTO {name} t USING updates_src s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        assert t_dv.has_deletion_vectors()
        assert _state(spark, t_cow) == _state(spark, t_dv)

    def test_explicit_sets_conditions_and_insert_values(
        self, spark, tmp_path
    ):
        """Conditional WHEN clauses, explicit SET expressions mixing
        both aliases, explicit INSERT column lists — checked against a
        hand-built expected state."""
        t = _mk(spark, tmp_path, n=10)
        spark.createDataFrame(
            [(5, 1), (7, 2), (12, 3), (14, 4)], "k long, bump long"
        ).createOrReplaceTempView("src")
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        r.sql(
            "MERGE INTO tgt t USING src s ON t.k = s.k "
            "WHEN MATCHED AND s.bump > 1 THEN "
            "  UPDATE SET v = t.v + s.bump, tag = 'bumped' "
            "WHEN NOT MATCHED AND s.bump > 3 THEN "
            "  INSERT (k, v, tag) VALUES (s.k, s.bump * 1000, 'fresh')"
        )
        got = dict(
            (r2["k"], (r2["v"], r2["tag"]))
            for r2 in t.read(spark).collect()
        )
        assert got[5] == (50, "row-5")  # matched, cond false: untouched
        assert got[7] == (72, "bumped")  # 70 + 2
        assert 12 not in got  # unmatched, cond false: not inserted
        assert got[14] == (4000, "fresh")
        assert len(got) == 11

    def test_subquery_source_and_update_star_first_match_wins(
        self, spark, tmp_path
    ):
        t = _mk(spark, tmp_path, n=6)
        spark.createDataFrame(
            [(2, 5, "a"), (3, 6, "b")], "k long, v long, tag string"
        ).createOrReplaceTempView("raw_src")
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        r.sql(
            "MERGE INTO tgt t USING "
            "(SELECT k, v * 2 AS v, tag FROM raw_src) s ON t.k = s.k "
            "WHEN MATCHED AND s.v > 10 THEN UPDATE SET tag = 'big' "
            "WHEN MATCHED THEN UPDATE SET *"
        )
        got = dict(
            (r2["k"], (r2["v"], r2["tag"]))
            for r2 in t.read(spark).collect()
        )
        assert got[2] == (10, "a")  # second clause: full replace
        assert got[3] == (30, "big")  # first clause wins: tag only
        assert len(got) == 6

    def test_not_matched_clauses_read_unmatched_rows_only(
        self, spark, tmp_path
    ):
        """A NOT MATCHED condition and insert value are evaluated on the
        source rows that found no target row only: here both would raise
        a division by zero (ANSI) on the matched rows."""
        t = _mk(spark, tmp_path, n=10)
        spark.createDataFrame(
            [(1, 0), (2, 0), (50, 2)], "k long, d long"
        ).createOrReplaceTempView("div_src")
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        saved = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            r.sql(
                "MERGE INTO tgt t USING div_src s ON t.k = s.k "
                "WHEN MATCHED AND s.k = 2 THEN UPDATE SET tag = 'u' "
                "WHEN MATCHED THEN DELETE "
                "WHEN NOT MATCHED AND 10 / s.d > 1 THEN "
                "  INSERT (k, v, tag) VALUES (s.k, 10 / s.d, 'i')"
            )
        finally:
            spark.conf.set("spark.sql.ansi.enabled", saved)
        got = dict(
            (x["k"], (x["v"], x["tag"])) for x in t.read(spark).collect()
        )
        assert got[2] == (20, "u") and 1 not in got
        assert got[50] == (5, "i") and len(got) == 10

    def test_duplicate_source_keys_refused(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        spark.createDataFrame(
            [(1, 1, "a"), (1, 2, "b")], "k long, v long, tag string"
        ).createOrReplaceTempView("dup_src")
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        with pytest.raises(Exception, match="duplicate merge keys"):
            r.sql(
                "MERGE INTO tgt t USING dup_src s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET *"
            )

    def test_unsupported_shapes_fail_loudly(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        spark.range(3).select(
            F.col("id").alias("k")
        ).createOrReplaceTempView("s3")
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        before = t.current_version()
        cases = [
            (
                "MERGE INTO tgt t USING s3 s ON t.k = s.k "
                "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0",
                "BY SOURCE supports only THEN DELETE",
            ),
            (
                # BY SOURCE DELETE outside the full-sync shape
                "MERGE INTO tgt t USING s3 s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET v = 0 "
                "WHEN NOT MATCHED BY SOURCE THEN DELETE",
                "only in the full-sync shape",
            ),
            (
                "MERGE INTO tgt t USING s3 s ON t.k > s.k "
                "WHEN MATCHED THEN UPDATE SET *",
                "conjunction of qualified equalities",
            ),
            (
                "MERGE INTO tgt t USING s3 s ON t.k = s.k",
                "at least one WHEN clause",
            ),
            (
                "MERGE INTO tgt t USING s3 s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET nosuch = 1",
                "unknown target columns",
            ),
            (
                "MERGE INTO nope t USING s3 s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET *",
                "not a registered txn table",
            ),
        ]
        for stmt, msg in cases:
            with pytest.raises(ValueError, match=msg):
                r.sql(stmt)
        assert t.current_version() == before  # nothing applied


class TestUpdateDeleteInsert:
    def test_update_matches_update_where(self, spark, tmp_path):
        t_sql = _mk(spark, tmp_path, "sql")
        t_api = _mk(spark, tmp_path, "api")
        r = TxnSqlRouter(spark)
        r.register("tgt", t_sql)
        res = r.sql(
            "UPDATE tgt SET v = v * 2, tag = concat(tag, '!') "
            "WHERE k % 10 = 3"
        ).collect()[0]
        assert res["operation"] == "update_where"
        t_api.update_where(
            spark,
            F.col("k") % 10 == 3,
            {
                "v": F.col("v") * 2,
                "tag": F.concat(F.col("tag"), F.lit("!")),
            },
        )
        assert _state(spark, t_sql) == _state(spark, t_api)

    def test_update_with_alias_qualifiers(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=5)
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        r.sql("UPDATE tgt u SET u.v = u.v + 1 WHERE u.k = 2")
        got = dict((x["k"], x["v"]) for x in t.read(spark).collect())
        assert got[2] == 21 and got[3] == 30

    def test_delete_cow_and_dv(self, spark, tmp_path):
        for strat in ("cow", "dv"):
            t = _mk(spark, tmp_path, f"d_{strat}")
            r = TxnSqlRouter(spark, strategy=strat)
            r.register("tgt", t)
            res = r.sql("DELETE FROM tgt WHERE k >= 90").collect()[0]
            assert res["operation"] == (
                "delete_where" if strat == "cow" else "delete_where_deferred"
            )
            assert t.read(spark).count() == 90
            assert spark.table("tgt").count() == 90

    def test_insert_values_select_and_overwrite(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=3)
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        r.sql("INSERT INTO tgt VALUES (100, 1, 'a'), (101, 2, 'b')")
        assert t.read(spark).count() == 5
        # column-list insert: missing column -> NULL
        r.sql("INSERT INTO tgt (k, tag) VALUES (102, 'c')")
        got = dict(
            (x["k"], (x["v"], x["tag"])) for x in t.read(spark).collect()
        )
        assert got[102] == (None, "c")
        # INSERT ... SELECT reads the (fresh) view of another table
        t2 = _mk(spark, tmp_path, "other", n=2)
        r.register("other", t2)
        r.sql(
            "INSERT INTO tgt SELECT k + 500, v, tag FROM other"
        )
        assert t.read(spark).count() == 8
        r.sql("INSERT OVERWRITE tgt SELECT * FROM other")
        assert t.read(spark).count() == 2
        with pytest.raises(ValueError, match="unknown columns"):
            r.sql("INSERT INTO tgt (k, nosuch) VALUES (1, 2)")
        with pytest.raises(ValueError, match="supplies 2 columns"):
            r.sql("INSERT INTO tgt VALUES (1, 2)")

    def test_select_passthrough(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=4)
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        assert (
            r.sql("SELECT sum(v) AS s FROM tgt").collect()[0]["s"] == 60
        )


class TestMergeDelete:
    def test_matched_delete_clause_first_match_wins(self, spark, tmp_path):
        """WHEN MATCHED ... THEN DELETE in the same atomic commit as
        updates and inserts (merge_upsert's delete_keys, round 10)."""
        t = _mk(spark, tmp_path, n=10)
        spark.createDataFrame(
            [(2, "drop"), (4, "keep"), (6, "drop"), (12, "new")],
            "k long, action string",
        ).createOrReplaceTempView("src")
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        res = r.sql(
            "MERGE INTO tgt t USING src s ON t.k = s.k "
            "WHEN MATCHED AND s.action = 'drop' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET tag = s.action "
            "WHEN NOT MATCHED AND s.action = 'new' THEN "
            "  INSERT (k, v, tag) VALUES (s.k, 0, s.action)"
        ).collect()[0]
        assert res["operation"] == "merge_upsert"
        got = dict(
            (x["k"], (x["v"], x["tag"])) for x in t.read(spark).collect()
        )
        assert 2 not in got and 6 not in got
        assert got[4] == (40, "keep")
        assert got[12] == (0, "new")
        assert len(got) == 9  # 10 - 2 deleted + 1 inserted
        # ONE commit did all of it
        assert [m["operation"] for m in t.history()][-1] == "merge_upsert"

    def test_delete_only_merge_and_dv_parity(self, spark, tmp_path):
        for strat in ("cow", "dv"):
            t = _mk(spark, tmp_path, f"m_{strat}", n=20)
            spark.range(5, 9).select(
                F.col("id").alias("k")
            ).createOrReplaceTempView("src")
            r = TxnSqlRouter(spark, strategy=strat)
            r.register("tgt", t)
            r.sql(
                "MERGE INTO tgt t USING src s ON t.k = s.k "
                "WHEN MATCHED THEN DELETE"
            )
            got = sorted(x["k"] for x in t.read(spark).collect())
            assert got == [k for k in range(20) if not (5 <= k < 9)]
        assert TxnTable(
            os.path.join(str(tmp_path), "m_dv")
        ).has_deletion_vectors()

    def test_three_clause_full_sync_shape(self, spark, tmp_path):
        """UPDATE SET * / INSERT * / NOT MATCHED BY SOURCE DELETE is the
        full-sync MERGE -> sync_full: the table converges to exactly the
        source."""
        t = _mk(spark, tmp_path, n=10)
        src = spark.createDataFrame(
            [(3, 999, "s3"), (11, 111, "s11")], "k long, v long, tag string"
        )
        src.createOrReplaceTempView("src")
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        res = r.sql(
            "MERGE INTO tgt t USING src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        ).collect()[0]
        assert res["operation"] == "sync_full"
        got = sorted(tuple(x) for x in t.read(spark).collect())
        assert got == [(3, 999, "s3"), (11, 111, "s11")]


class TestAutoPrune:
    def test_prune_triples_derivation(self):
        from rxlan_aws_lakehouse_spark.sql_dml import (
            _tokenize,
            prune_triples_from_where,
        )

        t = prune_triples_from_where(
            _tokenize("k >= 10 AND region = 'asia' AND f(x) < 3 AND 5 > j")
        )
        assert t == [("k", ">=", 10), ("region", "=", "asia"), ("j", "<", 5)]
        # any top-level OR disables pruning wholesale (over-approx rule)
        assert prune_triples_from_where(_tokenize("k > 1 OR j < 2")) == []
        # inexpressible conjuncts are skipped, expressible ones kept
        assert prune_triples_from_where(
            _tokenize("v * 2 > 10 AND (a = 1 OR b = 2) AND dt = '2024-01-01'")
        ) == [("dt", "=", "2024-01-01")]

    def test_sql_delete_prunes_files_and_stays_correct(
        self, spark, tmp_path
    ):
        """A keyed SQL DELETE on a range-clustered table must touch only
        the files its WHERE can hit (manifest triples derived from the
        parse) — and produce the same rows as the unpruned delete."""
        t = TxnTable(os.path.join(str(tmp_path), "t"))
        df = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        t.commit(df.repartitionByRange(8, "k"), sort_within=["k"])
        # the derived triple prunes to a strict subset of files
        kept, total = t.pruned_files([("k", ">=", 990)])
        assert 0 < len(kept) < total
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        r.sql("DELETE FROM tgt WHERE k >= 990")
        assert t.read(spark).count() == 990
        r.sql("UPDATE tgt SET v = 0 WHERE k >= 980 AND k < 985")
        got = dict((x["k"], x["v"]) for x in t.read(spark).collect())
        assert got[980] == 0 and got[984] == 0 and got[985] == 1970


class TestUtilityStatements:
    def test_create_insert_describe_optimize_vacuum_restore_drop(
        self, spark, tmp_path
    ):
        r = TxnSqlRouter(spark)
        root = str(tmp_path / "t")
        res = r.sql(
            "CREATE TABLE metrics (k BIGINT, v DOUBLE, tag STRING) "
            f"USING txn PARTITIONED BY (tag) LOCATION '{root}'"
        ).collect()[0]
        assert res["operation"] == "create"
        assert spark.table("metrics").count() == 0
        # IF NOT EXISTS on an existing table is a no-op
        assert (
            r.sql(
                "CREATE TABLE IF NOT EXISTS metrics (k BIGINT) "
                f"LOCATION '{root}'"
            ).collect()[0]["operation"]
            == "create_noop"
        )
        with pytest.raises(ValueError, match="already exists"):
            r.sql(f"CREATE TABLE metrics (k BIGINT) LOCATION '{root}'")
        for i in range(4):
            r.sql(
                f"INSERT INTO metrics VALUES ({i}, {i}.5, 'a'), "
                f"({i + 100}, 0.25, 'b')"
            )
        assert spark.table("metrics").count() == 8
        t = TxnTable(root)
        assert t._meta(t.current_version())["partition_by"] == ["tag"]
        hist = r.sql("DESCRIBE HISTORY metrics")
        ops = [x["operation"] for x in hist.collect()]
        assert ops.count("append") == 4 and "overwrite" in ops
        n_files = len(t.files())
        res = r.sql("OPTIMIZE metrics").collect()[0]
        assert res["operation"] == "compact"
        assert len(t.files()) < n_files
        assert spark.table("metrics").count() == 8
        # roll back past the compact+appends to the 2-row state
        r.sql("RESTORE metrics TO VERSION AS OF 2")
        assert spark.table("metrics").count() == 2
        res = r.sql("VACUUM metrics KEEP 1").collect()[0]
        assert res["operation"] == "vacuum"
        assert spark.table("metrics").count() == 2
        r.sql("DROP TABLE metrics")
        with pytest.raises(ValueError, match="not a registered"):
            r.sql("OPTIMIZE metrics")
        # data survives the drop (external-table semantics)
        assert TxnTable(root).read(spark).count() == 2


def test_sql_update_dv_strategy(spark, tmp_path):
    """strategy='dv' routes UPDATE through update_where_dv — works even
    while a deferred-delete vector is pending."""
    t = _mk(spark, tmp_path, n=30)
    r = TxnSqlRouter(spark, strategy="dv")
    r.register("tgt", t)
    r.sql("DELETE FROM tgt WHERE k < 5")
    assert t.has_deletion_vectors()
    res = r.sql("UPDATE tgt SET v = v + 1 WHERE k >= 28").collect()[0]
    assert res["operation"] == "update_where_dv"
    got = dict((x["k"], x["v"]) for x in spark.table("tgt").collect())
    assert len(got) == 25
    assert got[28] == 281 and got[29] == 291 and got[27] == 270


def test_optimize_zorder_by_prunes_boxes(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY: after the clustered rewrite, a 2D box
    predicate prunes files through the MANIFEST stats — and the rows
    are unchanged."""
    t = TxnTable(os.path.join(str(tmp_path), "t"))
    df = spark.range(20000).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 149).alias("y"),
        F.col("id").alias("payload"),
    )
    t.commit(df.repartition(16))
    r = TxnSqlRouter(spark)
    r.register("tgt", t)
    before = sorted(
        tuple(x) for x in t.read(spark).select("x", "y", "payload").collect()
    )
    res = r.sql("OPTIMIZE tgt ZORDER BY (x, y)").collect()[0]
    assert res["operation"] == "zorder"
    after = sorted(
        tuple(x) for x in t.read(spark).select("x", "y", "payload").collect()
    )
    assert before == after
    kept, total = t.pruned_files(
        [("x", ">=", 10), ("x", "<", 40), ("y", ">=", 10), ("y", "<", 40)]
    )
    assert total >= 8 and len(kept) * 2 <= total  # box touches <= half
    with pytest.raises(ValueError, match="not in table"):
        r.sql("OPTIMIZE tgt ZORDER BY (nosuch)")


def test_copy_into_and_select_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path, n=4)
    r = TxnSqlRouter(spark)
    r.register("tgt", t)
    # stage a parquet drop-folder and COPY it in
    inbound = str(tmp_path / "inbound")
    spark.range(100, 103).select(
        F.col("id").alias("k"),
        F.lit(1).cast("long").alias("v"),
        F.lit("copied").alias("tag"),
    ).write.parquet(inbound)
    res = r.sql(
        f"COPY INTO tgt FROM '{inbound}' FILEFORMAT = PARQUET"
    ).collect()[0]
    assert res["operation"] == "copy_into"
    assert spark.table("tgt").count() == 7
    # time travel back to the pre-copy snapshot inside plain SQL
    n0 = r.sql(
        "SELECT count(*) AS n FROM tgt VERSION AS OF 1"
    ).collect()[0]["n"]
    assert n0 == 4
    # json with target schema
    inbound2 = str(tmp_path / "inbound2")
    spark.range(200, 202).select(
        F.col("id").alias("k"),
        F.lit(2).cast("long").alias("v"),
        F.lit("j").alias("tag"),
    ).write.json(inbound2)
    r.sql(f"COPY INTO tgt FROM '{inbound2}' FILEFORMAT = JSON")
    assert spark.table("tgt").count() == 9
    with pytest.raises(ValueError, match="unsupported FILEFORMAT"):
        r.sql(f"COPY INTO tgt FROM '{inbound}' FILEFORMAT = AVRO")


def test_non_txn_create_table_passes_through(spark, tmp_path):
    r = TxnSqlRouter(spark)
    # Spark's own catalog DDL is not hijacked by the router
    r.sql("CREATE TABLE IF NOT EXISTS plain_cat_tbl (a INT) USING parquet")
    try:
        assert spark.table("plain_cat_tbl").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS plain_cat_tbl")


def test_timestamp_as_of_iso_string(spark, tmp_path):
    import time as _time

    t = _mk(spark, tmp_path, n=3)
    r = TxnSqlRouter(spark)
    r.register("tgt", t)
    _time.sleep(0.05)
    from datetime import datetime, timezone

    cut = datetime.now(timezone.utc).isoformat()
    _time.sleep(0.05)
    r.sql("INSERT INTO tgt VALUES (100, 1, 'x')")
    n = r.sql(
        f"SELECT count(*) AS n FROM tgt TIMESTAMP AS OF '{cut}'"
    ).collect()[0]["n"]
    assert n == 3
    assert spark.table("tgt").count() == 4


# -- round 12: namespaces, catalog rescan, MERGE schema evolution --------


class TestNamespaces:
    def test_same_name_in_two_namespaces(self, spark, tmp_path):
        r = TxnSqlRouter(spark)
        a = _mk(spark, tmp_path, "a", n=10)
        b = _mk(spark, tmp_path, "b", n=25)
        r.register("sales.fact", a)
        r.register("ops.fact", b)
        # qualified reads resolve each table independently
        assert (
            r.sql("SELECT count(*) AS n FROM sales.fact").collect()[0]["n"]
            == 10
        )
        assert (
            r.sql("SELECT count(*) AS n FROM ops.fact").collect()[0]["n"]
            == 25
        )
        # one statement can join across namespaces
        got = r.sql(
            "SELECT count(*) AS n FROM sales.fact s "
            "JOIN ops.fact o ON s.k = o.k"
        ).collect()[0]["n"]
        assert got == 10

    def test_use_switches_bare_resolution(self, spark, tmp_path):
        r = TxnSqlRouter(spark)
        r.register("sales.fact", _mk(spark, tmp_path, "a", n=10))
        r.register("ops.fact", _mk(spark, tmp_path, "b", n=25))
        res = r.sql("USE sales").collect()[0]
        assert (res["operation"], res["version"]) == (
            "use_namespace",
            "sales",
        )
        assert r.sql("SELECT count(*) AS n FROM fact").collect()[0]["n"] == 10
        # bare DML hits the current namespace's table
        r.sql("DELETE FROM fact WHERE k < 5")
        assert r.sql("SELECT count(*) AS n FROM fact").collect()[0]["n"] == 5
        r.sql("USE ops")
        assert r.sql("SELECT count(*) AS n FROM fact").collect()[0]["n"] == 25

    def test_show_tables_in_namespace(self, spark, tmp_path):
        r = TxnSqlRouter(spark)
        r.register("sales.fact", _mk(spark, tmp_path, "a", n=10))
        r.register("sales.dim", _mk(spark, tmp_path, "b", n=5))
        r.register("ops.fact", _mk(spark, tmp_path, "c", n=25))
        rows = r.sql("SHOW TABLES IN sales").collect()
        assert sorted(x["name"] for x in rows) == ["dim", "fact"]
        assert all(x["namespace"] == "sales" for x in rows)
        # bare register lands in the current (default) namespace
        r.register("solo", _mk(spark, tmp_path, "d", n=3))
        rows = r.sql("SHOW TABLES").collect()
        assert [x["name"] for x in rows] == ["solo"]

    def test_qualified_ddl_dml_and_time_travel(self, spark, tmp_path):
        r = TxnSqlRouter(spark)
        root = os.path.join(str(tmp_path), "q")
        r.sql(
            "CREATE TABLE sales.fact (k BIGINT, v BIGINT) USING txn "
            f"LOCATION '{root}'"
        )
        r.sql("INSERT INTO sales.fact VALUES (1, 10), (2, 20)")
        r.sql("UPDATE sales.fact SET v = v + 1 WHERE k = 2")
        got = sorted(
            tuple(x)
            for x in r.sql("SELECT k, v FROM sales.fact").collect()
        )
        assert got == [(1, 10), (2, 21)]
        # qualified time travel pins the pre-update snapshot
        old = sorted(
            tuple(x)
            for x in r.sql(
                "SELECT k, v FROM sales.fact VERSION AS OF 2"
            ).collect()
        )
        assert old == [(1, 10), (2, 20)]
        r.sql("DROP TABLE sales.fact")
        with pytest.raises(ValueError, match="not a registered"):
            r.sql("DELETE FROM sales.fact")

    def test_catalog_persists_qualified_names(self, spark, tmp_path):
        cat = os.path.join(str(tmp_path), "cat")
        r1 = TxnSqlRouter(spark, catalog_dir=cat)
        r1.register("sales.fact", _mk(spark, tmp_path, "a", n=10))
        r1.register("ops.fact", _mk(spark, tmp_path, "b", n=25))
        r2 = TxnSqlRouter(spark, catalog_dir=cat)
        assert (
            r2.sql("SELECT count(*) AS n FROM ops.fact").collect()[0]["n"]
            == 25
        )
        rows = r2.sql("SHOW TABLES IN sales").collect()
        assert [x["name"] for x in rows] == ["fact"]

    def test_rescan_resolves_other_sessions_tables(self, spark, tmp_path):
        """ADVICE r11: a table registered by ANOTHER session after
        attach must resolve on miss and appear in SHOW TABLES."""
        cat = os.path.join(str(tmp_path), "cat")
        r1 = TxnSqlRouter(spark, catalog_dir=cat)  # attach on empty dir
        r2 = TxnSqlRouter(spark, catalog_dir=cat)
        r2.register("late", _mk(spark, tmp_path, "a", n=7))
        # r1 attached BEFORE the registration: resolve-miss rescans
        assert (
            r1.sql("DESCRIBE DETAIL late").collect()[0]["num_rows"] == 7
        )
        assert "late" in {
            x["name"] for x in r1.sql("SHOW TABLES").collect()
        }


class TestMergeSchemaEvolution:
    def test_insert_star_evolves_target(self, spark, tmp_path):
        t = _mk(spark, tmp_path, "t")
        r = TxnSqlRouter(spark)
        r.register("target", t)
        spark.range(95, 105).select(
            F.col("id").alias("k"),
            (F.col("id") * 100).cast("long").alias("v"),
            F.lit("upd").alias("tag"),
            F.lit("fresh").alias("src_note"),  # NOT in the target
        ).createOrReplaceTempView("evo_src")
        res = r.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO target t USING evo_src s "
            "ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()[0]
        assert res["operation"] == "merge_upsert"
        got = t.read(spark)
        assert "src_note" in got.columns
        assert got.filter(F.col("src_note") == "fresh").count() == 10
        # untouched rows read the evolved column as NULL
        assert got.filter(F.col("src_note").isNull()).count() == 95
        # the evolution was metadata-additive: only matched files rewrote
        meta = t._meta(t.current_version())
        assert meta["n_files_carried"] > 0
        # time travel keeps the pre-merge 3-column schema
        assert len(t.read(spark, "v00000001").columns) == 3

    def test_without_evolution_extra_source_cols_drop(self, spark, tmp_path):
        t = _mk(spark, tmp_path, "t")
        r = TxnSqlRouter(spark)
        r.register("target", t)
        spark.range(95, 105).select(
            F.col("id").alias("k"),
            (F.col("id") * 100).cast("long").alias("v"),
            F.lit("upd").alias("tag"),
            F.lit("fresh").alias("src_note"),
        ).createOrReplaceTempView("evo_src2")
        r.sql(
            "MERGE INTO target t USING evo_src2 s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        assert "src_note" not in t.read(spark).columns

    def test_evolution_set_clause_may_name_new_column(self, spark, tmp_path):
        t = _mk(spark, tmp_path, "t", n=10)
        r = TxnSqlRouter(spark)
        r.register("target", t)
        spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("bonus")
        ).createOrReplaceTempView("evo_src3")
        r.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO target t USING evo_src3 s "
            "ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET bonus = s.bonus * 5"
        )
        got = t.read(spark)
        assert got.filter(F.col("bonus") == 5).count() == 3
        assert got.filter(F.col("bonus").isNull()).count() == 7


def test_insert_into_foreign_attachments(spark, tmp_path):
    """INSERT INTO a foreign attachment (round 14): appends commit
    against the foreign table's own log/metadata and the session view
    refreshes to the new head; pinned attachments and INSERT OVERWRITE
    refuse."""
    from rxlan_aws_lakehouse_spark.delta_export import export_delta
    from rxlan_aws_lakehouse_spark.iceberg_export import export_iceberg

    router = TxnSqlRouter(spark)
    t = TxnTable(os.path.join(str(tmp_path), "src"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k INT, s STRING"
        )
    )
    # --- Delta attachment
    ddest = os.path.join(str(tmp_path), "dmirror")
    export_delta(t, ddest)
    router.sql(f"CREATE TABLE fdel USING DELTA_IMPORT LOCATION '{ddest}'")
    res = router.sql(
        "INSERT INTO fdel VALUES (3, 'c'), (4, 'd')"
    ).collect()[0]
    assert res["operation"] == "append_foreign_delta"
    assert (
        router.sql("SELECT count(*) AS n FROM fdel").collect()[0]["n"]
        == 4
    )
    # the foreign log gained a real commit (visible to a FRESH attach)
    router.sql(
        f"CREATE TABLE fdel2 USING DELTA_IMPORT LOCATION '{ddest}'"
    )
    assert (
        router.sql("SELECT count(*) AS n FROM fdel2").collect()[0]["n"]
        == 4
    )
    # INSERT OVERWRITE replaces the content wholesale (round 16)
    out = router.sql(
        "INSERT OVERWRITE fdel VALUES (9, 'z')"
    ).collect()[0]
    assert out["operation"] == "overwrite_foreign_delta"
    assert {
        (r["k"], r["s"])
        for r in router.sql("SELECT k, s FROM fdel").collect()
    } == {(9, "z")}
    # pinned attachment refuses
    router.sql(
        f"CREATE TABLE fdel_v0 USING DELTA_IMPORT LOCATION '{ddest}' "
        "VERSION AS OF 0"
    )
    with pytest.raises(ValueError, match="pinned"):
        router.sql("INSERT INTO fdel_v0 VALUES (9, 'z')")
    # --- Iceberg attachment
    idest = os.path.join(str(tmp_path), "imirror")
    export_iceberg(t, idest)
    router.sql(
        f"CREATE TABLE fice_a USING ICEBERG_IMPORT LOCATION '{idest}'"
    )
    res = router.sql("INSERT INTO fice_a VALUES (5, 'e')").collect()[0]
    assert res["operation"] == "append_foreign_iceberg"
    assert (
        router.sql("SELECT count(*) AS n FROM fice_a").collect()[0]["n"]
        == 3
    )
    got = {
        (r["k"], r["s"])
        for r in router.sql("SELECT k, s FROM fice_a").collect()
    }
    assert got == {(1, "a"), (2, "b"), (5, "e")}
    for name in ("fdel", "fdel2", "fdel_v0", "fice_a"):
        router.sql(f"DROP TABLE {name}")


def test_foreign_attachment_copy_into_and_delete(spark, tmp_path):
    """COPY INTO and DELETE FROM on foreign attachments (round 15):
    COPY routes through append_delta/append_iceberg, DELETE through
    delete_delta (auto mode); pinned attachments and foreign-Iceberg
    DELETE refuse loudly."""
    from rxlan_aws_lakehouse_spark.delta_export import export_delta
    from rxlan_aws_lakehouse_spark.iceberg_export import export_iceberg
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path / "src"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "k INT, seg STRING"
        )
    )
    ddest, idest = str(tmp_path / "d"), str(tmp_path / "i")
    export_delta(t, ddest)
    export_iceberg(t, idest)
    spark.createDataFrame(
        [(10, "c"), (11, "c")], "k INT, seg STRING"
    ).write.parquet(str(tmp_path / "extra"))

    router = TxnSqlRouter(spark)
    router.sql(f"CREATE TABLE fd USING DELTA_IMPORT LOCATION '{ddest}'")
    router.sql(f"CREATE TABLE fi USING ICEBERG_IMPORT LOCATION '{idest}'")
    out = router.sql(
        f"COPY INTO fd FROM '{tmp_path / 'extra'}'"
    ).collect()[0]
    assert out["operation"] == "copy_into_foreign_delta"
    assert router.sql("SELECT count(*) AS n FROM fd").collect()[0]["n"] == 5
    out = router.sql(
        f"COPY INTO fi FROM '{tmp_path / 'extra'}'"
    ).collect()[0]
    assert out["operation"] == "copy_into_foreign_iceberg"
    assert router.sql("SELECT count(*) AS n FROM fi").collect()[0]["n"] == 5
    # DELETE on the Delta attachment (auto -> cow on a plain protocol)
    out = router.sql("DELETE FROM fd WHERE seg = 'c'").collect()[0]
    assert out["operation"] == "delete_foreign_cow"
    assert out["n_matched"] == 2
    assert {
        r["k"] for r in router.sql("SELECT k FROM fd").collect()
    } == {1, 2, 3}
    # DELETE on the Iceberg attachment (auto -> a v2 position delete)
    out = router.sql("DELETE FROM fi WHERE seg = 'c'").collect()[0]
    assert out["operation"] == "delete_foreign_pos"
    assert out["n_matched"] == 2
    assert {
        r["k"] for r in router.sql("SELECT k FROM fi").collect()
    } == {1, 2, 3}
    # UPDATE on both attachments (round 16, r15 verdict task 5):
    # routes through update_delta/update_iceberg in auto mode — the
    # SQL surface never upgrades a foreign protocol
    out = router.sql(
        "UPDATE fd SET k = k + 100 WHERE seg = 'a'"
    ).collect()[0]
    assert out["operation"] == "update_foreign_cow"
    assert out["n_matched"] == 2
    assert {
        r["k"] for r in router.sql("SELECT k FROM fd").collect()
    } == {101, 2, 103}
    out = router.sql(
        "UPDATE fi AS x SET x.k = x.k + 100, seg = 'z' WHERE x.seg = 'a'"
    ).collect()[0]
    assert out["operation"] == "update_foreign_pos"
    assert out["n_matched"] == 2
    assert {
        (r["k"], r["seg"])
        for r in router.sql("SELECT k, seg FROM fi").collect()
    } == {(101, "z"), (2, "b"), (103, "z")}
    router.sql("DROP TABLE fd")
    router.sql("DROP TABLE fi")


def test_foreign_attachment_update_pinned_refuses(spark, tmp_path):
    from rxlan_aws_lakehouse_spark.delta_export import export_delta
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter
    from rxlan_aws_lakehouse_spark.txn import TxnTable
    import pytest as _pytest

    t = TxnTable(str(tmp_path / "src"))
    t.commit(
        spark.createDataFrame([(1, "a")], "k INT, seg STRING")
    )
    t.commit(
        spark.createDataFrame([(2, "b")], "k INT, seg STRING"),
        operation="append",
    )
    ddest = str(tmp_path / "d")
    export_delta(t, ddest)
    router = TxnSqlRouter(spark)
    router.sql(
        f"CREATE TABLE fdp USING DELTA_IMPORT LOCATION '{ddest}' "
        "VERSION AS OF 0"
    )
    with _pytest.raises(ValueError, match="pinned"):
        router.sql("UPDATE fdp SET k = 1 WHERE k = 1")
    router.sql("DROP TABLE fdp")


def test_foreign_attachment_merge(spark, tmp_path):
    """MERGE INTO a foreign attachment (round 16): the ANSI result-set
    plan dispatches to merge_delta/merge_iceberg in auto mode; pinned
    attachments and schema evolution refuse loudly."""
    from rxlan_aws_lakehouse_spark.delta_export import export_delta
    from rxlan_aws_lakehouse_spark.iceberg_export import export_iceberg
    from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter
    from rxlan_aws_lakehouse_spark.txn import TxnTable
    import pytest as _pytest

    t = TxnTable(str(tmp_path / "src"))
    t.commit(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k INT, v INT"
        )
    )
    ddest, idest = str(tmp_path / "d"), str(tmp_path / "i")
    export_delta(t, ddest)
    export_iceberg(t, idest)
    router = TxnSqlRouter(spark)
    router.sql(f"CREATE TABLE fd USING DELTA_IMPORT LOCATION '{ddest}'")
    router.sql(f"CREATE TABLE fi USING ICEBERG_IMPORT LOCATION '{idest}'")
    spark.createDataFrame(
        [(2, -2), (9, -9), (3, 0)], "k INT, v INT"
    ).createOrReplaceTempView("ups")
    stmt = (
        "MERGE INTO {tbl} t USING ups s ON t.k = s.k "
        "WHEN MATCHED AND s.v = 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    expect = {(1, 10), (2, -2), (9, -9)}
    out = router.sql(stmt.format(tbl="fd")).collect()[0]
    assert out["operation"].startswith("merge_foreign_")
    assert out["n_matched"] == 2
    assert {
        (r["k"], r["v"])
        for r in router.sql("SELECT k, v FROM fd").collect()
    } == expect
    out = router.sql(stmt.format(tbl="fi")).collect()[0]
    assert out["operation"] == "merge_foreign_pos"
    assert out["n_matched"] == 2
    assert {
        (r["k"], r["v"])
        for r in router.sql("SELECT k, v FROM fi").collect()
    } == expect
    with _pytest.raises(ValueError, match="evolve"):
        router.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO fd t USING ups s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET *"
        )
    router.sql("DROP TABLE fd")
    router.sql("DROP TABLE fi")


# -- router reads plan on TxnTable.read (native parquet scans) ----------


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestNativeReadPath:
    """Every registered-table read the router plans — session views,
    time-travel views, the MERGE target and a registered MERGE source —
    is the engine's own parquet snapshot scan, never the Python
    ``format("txn")`` source."""

    def test_select_and_merge_plan_parquet_scans(
        self, spark, tmp_path, monkeypatch
    ):
        t = _mk(spark, tmp_path, "tgt", n=50)
        src = _mk(spark, tmp_path, "src", n=60)
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        r.register("src", src)
        plan = _executed_plan(r.sql("SELECT k, v FROM tgt WHERE k = 7"))
        assert "FileScan parquet" in plan
        assert "(Python)" not in plan
        captured = []
        orig = TxnTable._merge_cow

        def spy(self, spark_, expect, schema, touched, updates, *a, **kw):
            captured.append(updates)
            return orig(
                self, spark_, expect, schema, touched, updates, *a, **kw
            )

        monkeypatch.setattr(TxnTable, "_merge_cow", spy)
        r.sql(
            "MERGE INTO tgt t USING src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v + 1 "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        (updates,) = captured
        plan = _executed_plan(updates)
        assert "FileScan parquet" in plan
        assert "(Python)" not in plan
        got = dict(
            (x["k"], x["v"]) for x in spark.table("tgt").collect()
        )
        assert len(got) == 60
        assert got[3] == 31 and got[55] == 550

    def test_dv_router_select_and_merge_skip_deleted_rows(
        self, spark, tmp_path
    ):
        t = _mk(spark, tmp_path, n=40)
        r = TxnSqlRouter(spark, strategy="dv")
        r.register("tgt", t)
        r.sql("DELETE FROM tgt WHERE k < 10")
        assert t.has_deletion_vectors()
        assert r.sql(
            "SELECT count(*) AS n, min(k) AS lo FROM tgt"
        ).collect()[0].asDict() == {"n": 30, "lo": 10}
        spark.range(0, 20).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("long").alias("v"),
            F.lit("upd").alias("tag"),
        ).createOrReplaceTempView("dv_ups")
        res = r.sql(
            "MERGE INTO tgt t USING dv_ups s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET *"
        ).collect()[0]
        assert res["operation"] == "merge_upsert_dv"
        got = dict(
            (x["k"], x["v"]) for x in spark.table("tgt").collect()
        )
        # deleted keys 0-9 are not resurrected by the matched update
        assert sorted(got) == list(range(10, 40))
        assert all(got[k] == -1 for k in range(10, 20))
        assert got[20] == 200

    def test_select_over_mixed_partition_specs(self, spark, tmp_path):
        t = TxnTable(str(tmp_path / "evo"))
        rows = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("part"),
            (F.col("id") % 3).cast("string").alias("yr"),
        )
        t.commit(rows(0, 100), partition_by=["part"])
        t.append(rows(100, 150), partition_by=["yr"])
        assert len(t._spec_groups(t.current_version())) == 2
        r = TxnSqlRouter(spark)
        r.register("evo", t)
        got = r.sql("SELECT k, part, yr FROM evo").collect()
        assert sorted(x["k"] for x in got) == list(range(150))
        assert all(
            x["part"] == str(x["k"] % 4) and x["yr"] == str(x["k"] % 3)
            for x in got
        )

    def test_version_as_of_missing_version_raises(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=3)
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        with pytest.raises(FileNotFoundError, match="v00000099"):
            r.sql("SELECT * FROM tgt VERSION AS OF 99")
        n = r.sql("SELECT count(*) AS n FROM tgt VERSION AS OF 1")
        assert n.collect()[0]["n"] == 3

    def test_views_follow_commits_made_outside_the_router(
        self, spark, tmp_path
    ):
        t = _mk(spark, tmp_path, "tgt", n=10)
        src = _mk(spark, tmp_path, "src", n=3)
        r = TxnSqlRouter(spark)
        r.register("tgt", t)
        r.register("src", src)

        def count(ref):
            return r.sql(
                f"SELECT count(*) AS n, min(k) AS lo FROM {ref}"
            ).collect()[0].asDict()

        assert count("tgt") == {"n": 10, "lo": 0}
        t.append(
            spark.range(10, 15).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).cast("long").alias("v"),
                F.lit("late").alias("tag"),
            )
        )
        assert count("tgt") == {"n": 15, "lo": 0}
        assert count("default.tgt") == {"n": 15, "lo": 0}
        t.delete_where_deferred(spark, F.col("k") < 3)
        assert count("tgt") == {"n": 12, "lo": 3}
        assert count("default.tgt") == {"n": 12, "lo": 3}
        # the version the views were first built on is gone: they read
        # the live snapshot, not the vacuumed one
        assert t.vacuum(keep=1)
        assert count("tgt") == {"n": 12, "lo": 3}
        # a MERGE source subquery over a registered table sees its
        # outside commit too
        src.append(
            spark.range(3, 4).select(
                F.col("id").alias("k"),
                F.lit(7).cast("long").alias("v"),
                F.lit("src").alias("tag"),
            )
        )
        r.sql(
            "MERGE INTO tgt t USING (SELECT k, v, tag FROM src) s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v",
            strategy="dv",
        )
        got = dict(
            (x["k"], x["v"]) for x in r.sql("SELECT k, v FROM tgt").collect()
        )
        assert got[3] == 7 and got[4] == 40 and len(got) == 12

    def test_single_table_select_skips_files_by_manifest(
        self, spark, tmp_path
    ):
        t = TxnTable(str(tmp_path / "wide"))
        t.commit(
            spark.range(2000)
            .repartitionByRange(8, "id")
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 7).alias("v"),
            )
        )
        assert len(t.files()) == 8
        r = TxnSqlRouter(spark)
        r.register("wide", t)

        def run(sql):
            df = r.sql(sql)
            return len(df.inputFiles()), [tuple(x) for x in df.collect()]

        assert run("SELECT k, v FROM wide WHERE k = 1234") == (
            1, [(1234, 1234 % 7)]
        )
        assert run(
            "SELECT x.k FROM wide x WHERE k >= 1997 AND x.v >= 0 "
            "ORDER BY x.k DESC LIMIT 2"
        ) == (1, [(1999,), (1998,)])
        assert run(
            "SELECT wide.k FROM default.wide WHERE k < 2 ORDER BY k"
        ) == (1, [(0,), (1,)])
        # shapes the manifest cannot bound scan every file
        assert run("SELECT k FROM wide WHERE k = 1 OR k = 1999")[0] == 8
        assert run(
            "SELECT count(*) FROM wide a JOIN wide b ON a.k = b.k "
            "WHERE a.k = 3"
        ) == (8, [(1,)])
        # a partition column keeps the view's position (last) under *
        pt = TxnTable(str(tmp_path / "parted"))
        pt.commit(
            spark.range(400)
            .repartitionByRange(4, "id")
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("p"),
                (F.col("id") * 2).alias("v"),
            ),
            partition_by=["p"],
        )
        r.register("parted", pt)
        assert spark.table("parted").columns == ["k", "v", "p"]
        df = r.sql("SELECT * FROM parted WHERE k = 5")
        assert df.columns == ["k", "v", "p"]
        assert [tuple(x) for x in df.collect()] == [(5, 10, "2")]
        assert len(df.inputFiles()) < len(pt.files())
        # the pruned scan still applies pending deletion vectors
        t.delete_where_deferred(spark, F.col("k") == 1234)
        assert r.sql("SELECT k FROM wide WHERE k = 1234").collect() == []
        assert r.sql(
            "SELECT count(*) AS n FROM wide WHERE k >= 1230 AND k < 1240"
        ).collect()[0]["n"] == 9


@pytest.mark.parametrize(
    "route", ["update_where", "update_where_dv", "sql-cow", "sql-dv"]
)
def test_update_casts_set_values_to_column_type(spark, tmp_path, route):
    """Every UPDATE path writes a SET value in its column's recorded
    type: 7.9 into an INT column lands as 7, the recorded schema keeps
    ``v:int``, and the change feed's post-image agrees — whether the
    value comes from a Column (``F.lit(7.9)``, double) or from SQL
    (``7.9``, decimal), under copy-on-write or deletion vectors."""
    t = TxnTable(os.path.join(str(tmp_path), "t"))
    t.commit(spark.createDataFrame([(1, 1), (2, 2)], "k int, v int"))
    t.set_change_feed(spark, True)
    since = t.current_version()
    if route.startswith("sql-"):
        r = TxnSqlRouter(spark, strategy=route.removeprefix("sql-"))
        r.register("t", t)
        r.sql("UPDATE t SET v = 7.9 WHERE k = 1").collect()
    else:
        getattr(t, route)(spark, F.col("k") == 1, {"v": F.lit(7.9)})
    df = t.read(spark)
    assert dict(df.dtypes) == {"k": "int", "v": "int"}
    assert sorted(tuple(r) for r in df.collect()) == [(1, 7), (2, 2)]
    feed = t.read_row_changes(spark, since)
    assert sorted(
        (r["_change_type"], r["v"]) for r in feed.collect()
    ) == [("update_postimage", 7), ("update_preimage", 1)]


# -- jobs per statement: only the statement's own work runs --------------

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"test-sql-dml-{os.getpid()}-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    # the status store is fed by the listener bus; drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_router_statements_run_only_their_own_jobs(spark, tmp_path):
    """On a partitioned table of 9 files: INSERT is its write (1 job);
    a keyed UPDATE or DELETE is touched-file discovery plus the rewrite
    (2); OPTIMIZE is its compaction write (1); a MERGE stays within 10;
    and collecting any statement's result frame runs none."""
    t = TxnTable(os.path.join(str(tmp_path), "t"))
    t.commit(
        spark.range(900)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            (F.col("id") % 3).cast("int").alias("p"),
        )
        .repartition(3),
        partition_by=["p"],
    )
    assert len(t.files()) >= 9
    spark.createDataFrame(
        [(k, -k, k % 3) for k in (5, 6, 7, 1000, 1001)],
        "k long, v long, p int",
    ).createOrReplaceTempView("job_src")
    r = TxnSqlRouter(spark)
    r.register("t", t)
    statements = [
        ("INSERT INTO t VALUES (2000, 1, 2)", 1),
        ("UPDATE t SET v = v + 1 WHERE k = 11", 2),
        ("DELETE FROM t WHERE k = 12", 2),
        (
            "MERGE INTO t s0 USING job_src s ON s0.k = s.k AND s0.p = s.p "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *",
            None,
        ),
        ("OPTIMIZE t", 1),
    ]
    for stmt, want in statements:
        df, n_stmt = _jobs(spark, lambda: r.sql(stmt))
        (res,), n_collect = _jobs(spark, df.collect)
        assert n_collect == 0, stmt
        if want is None:
            assert res["operation"] == "merge_upsert"
            assert 1 <= n_stmt <= 10, stmt
        else:
            assert n_stmt == want, stmt
    got = {x["k"]: x["v"] for x in t.read(spark).collect()}
    assert len(got) == 900 + 1 - 1 + 2
    assert (got[11], got[5], got[1001], got[2000]) == (111, -5, -1001, 1)
    assert 12 not in got


def test_describe_history_is_served_on_the_driver(spark, tmp_path):
    """``DESCRIBE HISTORY`` returns the rows of the ``format("txn")``
    history metadata table — after an append, a MERGE, additive schema
    evolution and a vacuum — and collecting them runs no Spark job."""
    t = _mk(spark, tmp_path, n=10)
    r = TxnSqlRouter(spark)
    r.register("tgt", t)
    r.sql("INSERT INTO tgt VALUES (100, 1, 'a')")
    spark.createDataFrame(
        [(1, 7, "m", 0.5), (200, 8, "n", 1.5)],
        "k long, v long, tag string, w double",
    ).createOrReplaceTempView("hist_src")
    r.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO tgt t USING hist_src s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    t.add_columns(spark, "note string")
    t.vacuum(keep=3, force=True)
    df = r.sql("DESCRIBE HISTORY tgt")
    got, n = _jobs(spark, df.collect)
    assert n == 0
    want = (
        spark.read.format("txn").option("metadata", "history").load(t.root)
    )
    assert df.schema == want.schema
    assert [tuple(x) for x in got] == [tuple(x) for x in want.collect()]
    ops = [x["operation"] for x in got]
    assert ops[-2:] == ["merge_upsert", "add_columns"] and len(ops) == 3
    assert got[-2]["added_columns"] == "w"
    assert got[-1]["added_columns"] == "note"
