"""Property-based tests (hypothesis): operator invariants that must hold on
arbitrary inputs, checked against naive Python reference implementations."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rxlan_aws_lakehouse_spark.ops import dedup as dd
from rxlan_aws_lakehouse_spark.ops.asof import asof_join

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.text(
    alphabet=st.sampled_from("ab c"),  # tiny alphabet -> frequent collisions
    min_size=0,
    max_size=40,
)


@SLOW
@given(st.lists(texts, min_size=1, max_size=8))
def test_minhash_containment(spark, docs):
    """Identical docs always share signatures; signatures are permutation
    minima so each element is <= the sentinel and deterministic."""
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    staged = df.select(
        "doc_id", dd.tokens(F.col("text")).alias("toks")
    ).select("doc_id", dd.shingle_hashes_from(F.col("toks")).alias("sh"))
    sig = dd.minhash_signature_from(F.col("sh"), k=4)
    rows = {
        r["doc_id"]: tuple(r[f"m{i}"] for i in range(4))
        for r in staged.select(
            "doc_id", *[s.alias(f"m{i}") for i, s in enumerate(sig)]
        ).collect()
    }
    by_text = {}
    for i, t in enumerate(docs):
        by_text.setdefault(t, []).append(i)
    for ids in by_text.values():
        sigs = {rows[i] for i in ids}
        assert len(sigs) == 1  # same text -> same signature
    for s in rows.values():
        assert all(0 <= v <= dd.MINHASH_P for v in s)


@SLOW
@given(
    st.lists(st.integers(0, 5), min_size=0, max_size=12),
    st.lists(st.integers(0, 5), min_size=0, max_size=12),
)
def test_jaccard_against_python_sets(spark, a, b):
    sa, sb = set(a), set(b)
    expected = len(sa & sb) / len(sa | sb) if (sa | sb) else 0.0
    df = spark.createDataFrame(
        [(list(sa), list(sb))], "a array<long>, b array<long>"
    )
    got = df.select(dd.jaccard(F.col("a"), F.col("b")).alias("j")).head()["j"]
    assert abs(got - expected) < 1e-12


@SLOW
@given(
    st.lists(st.integers(0, 100), min_size=1, max_size=10),
    st.lists(st.integers(0, 100), min_size=0, max_size=10),
)
def test_asof_against_naive(spark, left_ts, right_ts):
    """asof_join == the naive per-row max(right.ts <= left.ts) lookup."""
    left = spark.createDataFrame(
        [("k", int(t), i) for i, t in enumerate(left_ts)],
        "key string, lts long, lid int",
    )
    right = spark.createDataFrame(
        [("k", int(t), f"r{t}") for t in sorted(set(right_ts))] or [("zzz", 0, "never")],
        "key string, rts long, rval string",
    )
    out = {
        r["lid"]: r["rval_right"]
        for r in asof_join(left, right, on=["key"], left_ts="lts", right_ts="rts").collect()
    }
    rset = sorted(set(right_ts))
    for i, t in enumerate(left_ts):
        prior = [r for r in rset if r <= t]
        expected = f"r{max(prior)}" if prior else None
        assert out[i] == expected, f"left ts {t}: {out[i]} != {expected}"


@SLOW
@given(st.lists(st.integers(0, 1000), min_size=1, max_size=30, unique=True))
def test_bucket_pairs_complete(spark, ids):
    """bucket_pairs emits exactly C(n,2) ordered pairs, each a < b."""
    df = spark.createDataFrame([(sorted(ids),)], "ids array<long>")
    rows = df.select(F.explode(dd.bucket_pairs(F.col("ids"))).alias("p")).select(
        "p.a", "p.b"
    ).collect()
    n = len(ids)
    assert len(rows) == n * (n - 1) // 2
    assert all(r["a"] < r["b"] for r in rows)
    assert len({(r["a"], r["b"]) for r in rows}) == len(rows)


def _rows_and_feed(spark, t, since):
    """A table's logical rows and its row-level change feed since
    ``since``, both as sorted tuples (commit versions left out: the two
    strategies' tables commit in lockstep, but a no-op commits nothing)."""
    rows = sorted(tuple(r) for r in t.read(spark).select("k", "v").collect())
    feed = sorted(
        tuple(r)
        for r in t.read_row_changes(spark, since)
        .select("k", "v", "_change_type")
        .collect()
    )
    return rows, feed


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base_keys=st.sets(st.integers(0, 30), min_size=1, max_size=20),
    upd_keys=st.sets(st.integers(0, 40), min_size=1, max_size=10),
    del_keys=st.sets(st.integers(0, 40), max_size=5),
    set_keys=st.sets(st.integers(0, 40), max_size=8),
    gone_keys=st.sets(st.integers(0, 40), max_size=8),
    pre_delete=st.sets(st.integers(0, 30), max_size=5),
)
def test_merge_dv_equals_cow_on_arbitrary_inputs(
    spark, tmp_path_factory, base_keys, upd_keys, del_keys, set_keys,
    gone_keys, pre_delete,
):
    """PROPERTY: for any base table and any statement sequence — an
    optional DELETE, then MERGE (with ``delete_keys``), UPDATE and
    DELETE — the deletion-vector verbs (``delete_where_deferred``,
    ``merge_upsert_dv``, ``update_where_dv``) and their copy-on-write
    twins (``delete_where``, ``merge_upsert``, ``update_where``) leave
    the same logical table and the same ``read_row_changes`` feed after
    every statement. The DV table's later statements run over a
    pending vector whenever an earlier one matched; materializing it
    changes nothing. The naive reference: dict-apply in Python."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    work = tmp_path_factory.mktemp("mdvprop")
    base = [(k, f"b{k}") for k in sorted(base_keys)]
    upd = [(k, f"u{k}") for k in sorted(upd_keys)]
    dels = sorted(del_keys - upd_keys)  # one MERGE action per key

    cow, dv = TxnTable(str(work / "cow")), TxnTable(str(work / "mor"))
    for t in (cow, dv):
        t.commit(
            spark.createDataFrame(base, "k long, v string").repartition(
                3, "k"
            )
        )
        t.set_change_feed(spark, True)
    since = cow.current_version()

    def isin(keys):
        return F.col("k").isin(*[int(k) for k in sorted(keys)] or [-1])

    def both(run_cow, run_dv, ref):
        run_cow(cow)
        run_dv(dv)
        rows, feed = _rows_and_feed(spark, cow, since)
        assert rows == sorted(ref.items())
        assert (rows, feed) == _rows_and_feed(spark, dv, since)

    # python reference: delete, upsert + delete, update, delete
    ref = {k: v for k, v in base if k not in pre_delete}
    both(
        lambda t: t.delete_where(spark, isin(pre_delete)),
        lambda t: t.delete_where_deferred(spark, isin(pre_delete)),
        ref,
    )
    ref.update(upd)
    for k in dels:
        ref.pop(k, None)
    upd_df = spark.createDataFrame(upd, "k long, v string")
    del_df = spark.createDataFrame([(k,) for k in dels], "k long")
    both(
        lambda t: t.merge_upsert(spark, upd_df, ["k"], delete_keys=del_df),
        lambda t: t.merge_upsert_dv(
            spark, upd_df, ["k"], delete_keys=del_df
        ),
        ref,
    )
    for k in set_keys & set(ref):
        ref[k] += "x"
    setv = {"v": F.concat(F.col("v"), F.lit("x"))}
    both(
        lambda t: t.update_where(spark, isin(set_keys), setv),
        lambda t: t.update_where_dv(spark, isin(set_keys), setv),
        ref,
    )
    for k in gone_keys:
        ref.pop(k, None)
    both(
        lambda t: t.delete_where(spark, isin(gone_keys)),
        lambda t: t.delete_where_deferred(spark, isin(gone_keys)),
        ref,
    )
    dv.materialize_deletes(spark)
    assert _rows_and_feed(spark, dv, since) == _rows_and_feed(
        spark, cow, since
    )


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base_keys=st.sets(st.integers(0, 30), min_size=1, max_size=20),
    ops=st.dictionaries(
        st.integers(0, 40), st.sampled_from("IUD"), min_size=1, max_size=12
    ),
)
def test_apply_cdc_equals_merge_with_delete_keys(
    spark, tmp_path_factory, base_keys, ops
):
    """PROPERTY: a CDC batch (one op per key) through ``apply_cdc``
    leaves the same rows and the same ``read_row_changes`` feed as
    ``merge_upsert`` with its I/U rows as the update set and its D keys
    as ``delete_keys``."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    work = tmp_path_factory.mktemp("cdcprop")
    base = [(k, f"b{k}") for k in sorted(base_keys)]
    batch = [(k, f"c{k}", op) for k, op in sorted(ops.items())]
    cdc, merge = TxnTable(str(work / "cdc")), TxnTable(str(work / "merge"))
    for t in (cdc, merge):
        t.commit(spark.createDataFrame(base, "k long, v string"))
        t.set_change_feed(spark, True)
    since = cdc.current_version()
    changes = spark.createDataFrame(batch, "k long, v string, op string")
    cdc.apply_cdc(spark, changes, keys=["k"])
    merge.merge_upsert(
        spark,
        changes.filter(F.col("op") != "D").drop("op"),
        keys=["k"],
        delete_keys=changes.filter(F.col("op") == "D").select("k"),
    )
    ref = dict(base)
    for k, v, op in batch:
        if op == "D":
            ref.pop(k, None)
        else:
            ref[k] = v
    rows, feed = _rows_and_feed(spark, cdc, since)
    assert rows == sorted(ref.items())
    assert (rows, feed) == _rows_and_feed(spark, merge, since)


# ---------------------------------------------------------------------------
# Auto-prune over-approximation (round 10): for ANY conjunction of
# simple comparisons, the manifest prune must keep a SUPERSET of the
# files that contain a matching row — the safety property the SQL
# router's WHERE-derived triples (sql_dml.prune_triples_from_where)
# rest on. One table built once; each example is pure metadata + pandas.

_PRUNE_STATE: dict = {}


def _prune_table(spark, tmp_path_factory):
    if _PRUNE_STATE:
        return _PRUNE_STATE
    import os

    import pandas as pd

    from rxlan_aws_lakehouse_spark.txn import TxnTable, _VERSIONS

    root = str(tmp_path_factory.mktemp("prune_prop") / "t")
    t = TxnTable(root)
    df = spark.range(1100).select(
        F.col("id").alias("k"),  # clustered: tight per-file ranges
        ((F.col("id") * 7919) % 1100).alias("v"),  # scattered
    )
    t.commit(df.repartitionByRange(8, "k"), sort_within=["k"])
    v = t.current_version()
    data_root = os.path.join(root, _VERSIONS, v)
    rows_by_file = {
        rel: pd.read_parquet(os.path.join(data_root, rel))
        for rel in t.files(v)
    }
    _PRUNE_STATE.update(table=t, rows=rows_by_file)
    return _PRUNE_STATE


_OPS = {
    "=": lambda a, b: a == b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}

_triple = st.tuples(
    st.sampled_from(["k", "v"]),
    st.sampled_from(sorted(_OPS)),
    st.integers(-5, 1105),
)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_triple, min_size=1, max_size=4))
def test_pruned_files_over_approximate_any_conjunction(
    spark, tmp_path_factory, triples
):
    state = _prune_table(spark, tmp_path_factory)
    t, rows_by_file = state["table"], state["rows"]
    kept, _total = t.pruned_files(list(triples))
    kept_set = set(kept)
    for rel, pdf in rows_by_file.items():
        mask = None
        for col, op, val in triples:
            m = _OPS[op](pdf[col], val)
            mask = m if mask is None else (mask & m)
        if bool(mask.any()):
            assert rel in kept_set, (
                f"file {rel} holds a matching row but was pruned "
                f"under {triples}"
            )


@pytest.fixture(scope="module")
def touched_table(spark, tmp_path_factory):
    """A two-spec table whose partition values need URL decoding: 200
    rows partitioned by ``p`` (a space, ``=``, ``%`` and a plain value),
    then 60 more partitioned by ``q`` (partition evolution)."""
    from rxlan_aws_lakehouse_spark.txn import TxnTable

    t = TxnTable(str(tmp_path_factory.mktemp("touched") / "t"))
    vals = F.array(*(F.lit(v) for v in ("a b", "x=y", "p%q", "plain")))

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.element_at(vals, (F.col("id") % 4 + 1).cast("int")).alias("p"),
            (F.col("id") % 3).cast("string").alias("q"),
        )

    t.commit(rows(0, 200).repartition(3), partition_by=["p"])
    t.append(rows(200, 260).repartition(2), partition_by=["q"])
    return t


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    kind=st.sampled_from(["point", "range", "broad", "none", "partition"]),
    k=st.integers(0, 259),
    width=st.integers(1, 120),
)
def test_touched_equals_distinct_file_collect(
    spark, touched_table, kind, k, width
):
    """PROPERTY: ``TxnTable._touched`` (one observed job) returns the
    sorted relpaths a ``select("_f").distinct().collect()`` over the same
    scan does, for point, range, broad, no-match and partition-value
    predicates over a file list mixing two partition specs."""
    import os

    from rxlan_aws_lakehouse_spark.txn import _VERSIONS, _local_path

    t = touched_table
    v, schema = t._snapshot()
    assert len(t._spec_groups(v)) == 2
    cond = {
        "point": F.col("k") == k,
        "range": F.col("k").between(k, k + width),
        "broad": F.col("k") >= 0,
        "none": F.col("k") < 0,
        "partition": F.col("p") == ["a b", "x=y", "p%q", "plain"][k % 4],
    }[kind]
    hits = t._scan_files(spark, v, t.files(v), schema, file_col="_f").filter(
        cond
    )
    root = os.path.join(t.root, _VERSIONS, v)
    want = sorted(
        os.path.relpath(_local_path(r["_f"]), root)
        for r in hits.select("_f").distinct().collect()
    )
    got = t._touched(v, hits)
    assert got == want
    assert set(got) <= set(t.files(v))
    if kind == "none":
        assert got == []
