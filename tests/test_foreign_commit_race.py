"""Lost commit races on the foreign Delta and Iceberg write verbs.

Each case lets ONE competing commit land while the verb publishes: the
first ``put_if_absent`` of a Delta log entry (or the first
``_publish_metadata`` of an Iceberg metadata version) runs the racer
before passing through, so the verb's own publish finds its slot taken.

* Verbs that retry land at the next version, on top of the racer, with
  the racer's rows intact; an overwrite tombstones the racer's file too.
* Verbs that refuse raise, and the racer stays the table's head.

The second half pins the Delta commit rule: every attempt re-checks the
writer gates (protocol, writer features, CHECK constraints, and a
``dataChange`` remove on an ``appendOnly`` table) on the state it
commits over, and refuses a schema change under any verb.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import rxlan_aws_lakehouse_spark.delta_export as dx
import rxlan_aws_lakehouse_spark.iceberg_export as ie
from rxlan_aws_lakehouse_spark.iceberg_import import (
    import_iceberg,
    load_table_metadata_versioned,
)
from rxlan_aws_lakehouse_spark.txn import TxnTable

SCHEMA = "k LONG, v LONG"


def _source(spark, tmp_path) -> TxnTable:
    t = TxnTable(str(tmp_path / "src"))
    t.commit(
        spark.range(20)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartition(2)
    )
    return t


def _hook(monkeypatch, owner, name, racer):
    """Run ``racer`` inside the first call of ``owner.name``, then pass
    that call (and every later one) through."""
    real = getattr(owner, name)
    armed = {"on": True}

    def hooked(*args):
        if armed["on"]:
            armed["on"] = False
            racer()
        return real(*args)

    monkeypatch.setattr(owner, name, hooked)


# ---------------------------------------------------------------- Delta


def _delta(spark, tmp_path):
    dest = str(tmp_path / "delta")
    dx.export_delta(_source(spark, tmp_path), dest)
    return dest


def _delta_keys(spark, dest) -> set:
    return {r["k"] for r in dx.import_delta(spark, dest).collect()}


def _delta_head(dest) -> int:
    return dx.replay_delta_log(dest)["n_commits"] - 1


def _delta_commit(dest, actions) -> None:
    """Publish one raw commit at the head's next slot, bypassing any
    hook (the racer's own publish)."""
    n = dx.replay_delta_log(dest)["n_commits"]
    with open(
        os.path.join(dest, "_delta_log", f"{n:020d}.json"), "x"
    ) as fh:
        fh.write("".join(json.dumps(a) + "\n" for a in actions))


def _metadata_commit(dest, configuration=None, add_field=None) -> None:
    """A ``metaData`` commit that keeps the table's id and partitioning
    and changes its configuration or appends one schema field."""
    st = dx.replay_delta_log(dest)
    schema = dict(st["schema"])
    if add_field:
        schema["fields"] = list(schema["fields"]) + [
            {"name": add_field, "type": "long", "nullable": True,
             "metadata": {}}
        ]
    _delta_commit(
        dest,
        [
            {
                "metaData": {
                    "id": st["meta_id"],
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": st["partition_columns"],
                    "configuration": {
                        **st["configuration"],
                        **(configuration or {}),
                    },
                }
            }
        ],
    )


_DELTA_VERBS = {
    "append": lambda spark, d: dx.append_delta(
        spark, d, spark.createDataFrame([(50, 500)], SCHEMA)
    ),
    "overwrite": lambda spark, d: dx.overwrite_delta(
        spark, d, spark.createDataFrame([(60, 600)], SCHEMA)
    ),
    "delete": lambda spark, d: dx.delete_delta(spark, d, "k < 5"),
    "update": lambda spark, d: dx.update_delta(
        spark, d, {"v": "-v"}, "k < 5"
    ),
    "merge": lambda spark, d: dx.merge_delta(
        spark, d, spark.createDataFrame([(1, -1), (70, 700)], SCHEMA),
        ["k"],
    ),
    "restore": lambda spark, d: dx.restore_delta(spark, d, 0),
    "optimize": lambda spark, d: dx.optimize_delta(spark, d),
}


def _delta_racer(spark, dest, kind):
    if kind == "append":  # touches no file the verb reads
        return lambda: dx.append_delta(
            spark, dest, spark.createDataFrame([(100, 1000)], SCHEMA)
        )
    # rewrites the file holding k = 1, which every touching verb reads
    return lambda: dx.delete_delta(spark, dest, "k = 1", mode="cow")


@pytest.mark.parametrize(
    "verb,racer,outcome",
    [
        ("append", "append", "retry"),
        ("overwrite", "append", "retry"),
        ("delete", "append", "retry"),
        ("delete", "touch", "refuse"),
        ("update", "append", "retry"),
        ("merge", "append", "retry"),
        ("restore", "append", "refuse"),
        ("optimize", "append", "retry"),
        ("optimize", "touch", "refuse"),
    ],
)
def test_delta_lost_race(spark, tmp_path, monkeypatch, verb, racer, outcome):
    dest = _delta(spark, tmp_path)
    if verb == "restore":  # something to restore away from
        dx.append_delta(
            spark, dest, spark.createDataFrame([(40, 400)], SCHEMA)
        )
    head0 = _delta_head(dest)
    _hook(
        monkeypatch, dx.LOCAL, "put_if_absent",
        _delta_racer(spark, dest, racer),
    )
    if outcome == "refuse":
        with pytest.raises(ValueError, match="concurrent"):
            _DELTA_VERBS[verb](spark, dest)
        assert _delta_head(dest) == head0 + 1  # the racer's commit
        if racer == "touch":
            assert 1 not in _delta_keys(spark, dest)
        return
    out = _DELTA_VERBS[verb](spark, dest)
    assert out["version"] == head0 + 2 == _delta_head(dest)
    keys = _delta_keys(spark, dest)
    if verb == "overwrite":
        assert keys == {60}
        raced = dx.replay_delta_log(dest, up_to=head0 + 1)["files"]
        racer_files = set(raced) - set(
            dx.replay_delta_log(dest, up_to=head0)["files"]
        )
        with open(
            os.path.join(dest, "_delta_log", f"{out['version']:020d}.json")
        ) as fh:
            removed = {
                json.loads(line)["remove"]["path"]
                for line in fh
                if '"remove"' in line
            }
        assert racer_files and racer_files <= removed
        assert out["n_files_removed"] == len(raced)
    else:
        assert 100 in keys  # the racer's row


def test_delta_delete_refuses_after_append_only_lands(
    spark, tmp_path, monkeypatch
):
    """A DELETE that loses its slot to a commit setting
    ``delta.appendOnly=true`` refuses: its removes carry dataChange."""
    dest = _delta(spark, tmp_path)
    _hook(
        monkeypatch, dx.LOCAL, "put_if_absent",
        lambda: _metadata_commit(dest, {"delta.appendOnly": "true"}),
    )
    with pytest.raises(ValueError, match="appendOnly"):
        dx.delete_delta(spark, dest, "k < 5")
    assert _delta_head(dest) == 1
    assert _delta_keys(spark, dest) == set(range(20))


def test_delta_append_refuses_after_constraint_lands(
    spark, tmp_path, monkeypatch
):
    """An append that loses its slot to a commit adding a CHECK
    constraint refuses rather than landing a row the constraint
    forbids."""
    dest = _delta(spark, tmp_path)
    _hook(
        monkeypatch, dx.LOCAL, "put_if_absent",
        lambda: _metadata_commit(
            dest, {"delta.constraints.vpos": "v >= 0"}
        ),
    )
    with pytest.raises(ValueError, match="CHECK constraints"):
        dx.append_delta(
            spark, dest, spark.createDataFrame([(7, -5)], SCHEMA)
        )
    assert _delta_head(dest) == 1
    assert -5 not in {
        r["v"] for r in dx.import_delta(spark, dest).collect()
    }


def test_delta_restore_refuses_to_remove_from_append_only(spark, tmp_path):
    """RESTORE to a version before an append removes that append's file
    with dataChange=true, which an appendOnly table forbids."""
    dest = _delta(spark, tmp_path)
    dx.append_delta(spark, dest, spark.createDataFrame([(40, 400)], SCHEMA))
    _metadata_commit(dest, {"delta.appendOnly": "true"})
    with pytest.raises(ValueError, match="appendOnly"):
        dx.restore_delta(spark, dest, 0)
    assert _delta_head(dest) == 2
    assert 40 in _delta_keys(spark, dest)


def test_delta_optimize_refuses_after_schema_change(
    spark, tmp_path, monkeypatch
):
    """OPTIMIZE rewrites files under the schema it read; a racing
    schema change makes it refuse, not land files missing the new
    column under the new schema."""
    dest = _delta(spark, tmp_path)
    _hook(
        monkeypatch, dx.LOCAL, "put_if_absent",
        lambda: _metadata_commit(dest, add_field="w"),
    )
    with pytest.raises(ValueError, match="concurrent"):
        dx.optimize_delta(spark, dest)
    assert _delta_head(dest) == 1


# -------------------------------------------------------------- Iceberg


def _iceberg(spark, tmp_path):
    dest = str(tmp_path / "ice")
    ie.export_iceberg(_source(spark, tmp_path), dest)
    return dest


def _ice_keys(spark, dest) -> set:
    return {r["k"] for r in import_iceberg(spark, dest).collect()}


def _ice_head(dest) -> int:
    return load_table_metadata_versioned(dest)[1]


_ICE_VERBS = {
    "append": lambda spark, d, ctx: ie.append_iceberg(
        spark, d, spark.createDataFrame([(50, 500)], SCHEMA)
    ),
    "overwrite": lambda spark, d, ctx: ie.overwrite_iceberg(
        spark, d, spark.createDataFrame([(60, 600)], SCHEMA)
    ),
    "delete": lambda spark, d, ctx: ie.delete_iceberg(spark, d, "k < 5"),
    "update": lambda spark, d, ctx: ie.update_iceberg(
        spark, d, {"v": "-v"}, "k < 5"
    ),
    "merge": lambda spark, d, ctx: ie.merge_iceberg(
        spark, d, spark.createDataFrame([(1, -1), (70, 700)], SCHEMA),
        ["k"],
    ),
    "restore": lambda spark, d, ctx: ie.restore_iceberg(
        spark, d, ctx["first_snapshot"]
    ),
    "rewrite_manifests": lambda spark, d, ctx: (
        ie.rewrite_manifests_iceberg(spark, d)
    ),
    "compact": lambda spark, d, ctx: ie.compact_data_files_iceberg(
        spark, d
    ),
    "expire": lambda spark, d, ctx: ie.expire_snapshots_iceberg(
        spark, d, older_than_ms=1 << 62
    ),
}


def _ice_racer(spark, dest, kind):
    if kind == "append":  # touches no file the verb reads
        return lambda: ie.append_iceberg(
            spark, dest, spark.createDataFrame([(100, 1000)], SCHEMA)
        )
    # replaces every data file, so each file the verb touches is gone
    return lambda: ie.overwrite_iceberg(
        spark, dest, spark.createDataFrame([(100, 1000)], SCHEMA)
    )


@pytest.mark.parametrize(
    "verb,racer,outcome",
    [
        ("append", "append", "retry"),
        ("overwrite", "append", "retry"),
        ("delete", "append", "retry"),
        ("delete", "touch", "refuse"),
        ("update", "append", "retry"),
        ("merge", "append", "retry"),
        ("restore", "append", "retry"),
        ("rewrite_manifests", "append", "refuse"),
        ("compact", "append", "refuse"),
        ("expire", "append", "refuse"),
    ],
)
def test_iceberg_lost_race(
    spark, tmp_path, monkeypatch, verb, racer, outcome
):
    dest = _iceberg(spark, tmp_path)
    ctx = {"first_snapshot": load_table_metadata_versioned(dest)[0][
        "current-snapshot-id"
    ]}
    if verb in ("restore", "rewrite_manifests", "expire"):
        # a second snapshot (and data manifest) to act on
        ie.append_iceberg(
            spark, dest, spark.createDataFrame([(40, 400)], SCHEMA)
        )
    head0 = _ice_head(dest)
    _hook(monkeypatch, ie, "_publish_metadata", _ice_racer(spark, dest, racer))
    if outcome == "refuse":
        with pytest.raises(ValueError, match="concurrent|race"):
            _ICE_VERBS[verb](spark, dest, ctx)
        assert _ice_head(dest) == head0 + 1  # the racer's commit
        assert 100 in _ice_keys(spark, dest)
        return
    out = _ICE_VERBS[verb](spark, dest, ctx)
    meta, head = load_table_metadata_versioned(dest)
    assert head == head0 + 2
    keys = _ice_keys(spark, dest)
    if verb == "restore":
        assert meta["current-snapshot-id"] == ctx["first_snapshot"]
        assert keys == set(range(20))
        return
    assert meta["current-snapshot-id"] == out["snapshot_id"]
    if verb == "overwrite":
        assert keys == {60}
        assert out["n_files_removed"] == 3  # two exported + the racer's
    else:
        assert 100 in keys  # the racer's row
