"""Tests of the benchmark itself: generators, report shape, tiny smoke runs.

    python3 -m pytest lakebench -q

The smoke runs share one Spark session and use tiny inputs; each workload
must pass, and must fail once its expectation is deliberately wrong.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import pytest

from lakebench import gen, harness, run

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


# -- generators ----------------------------------------------------------------


def test_cdc_hours_are_deterministic():
    a, b = gen.CdcHours(7, 400), gen.CdcHours(7, 400)
    for h in range(3):
        x, y = a.hour(h), b.hour(h)
        assert x.payload == y.payload
        assert (x.gold_rows, x.quarantine_rows, x.cdc_rows) == (
            y.gold_rows, y.quarantine_rows, y.cdc_rows)
    assert gen.CdcHours(8, 400).hour(1).payload != a.hour(1).payload


def test_cdc_expectations_match_a_recount_of_the_file():
    """Recount the landing file with the pipeline's rules (INSERT filter,
    (city, ts) dedup, event hour, range validation) in plain Python."""
    g = gen.CdcHours(3, 600)
    g.hour(0)
    b = g.hour(1)
    seen, gold, bad, late = set(), 0, 0, 0
    for line in gzip.decompress(b.payload).decode().splitlines():
        rec = json.loads(line)
        img = rec["dynamodb"].get("NewImage")
        if rec["eventName"] != "INSERT" or img is None:
            continue
        key = (img["city"]["S"], img["fetched_at_utc"]["S"])
        if key in seen:
            continue
        seen.add(key)
        if key[1][11:13] != b.hour:
            late += 1
            continue
        t, hum, p = (float(img["temp_c"]["N"]), int(img["humidity"]["N"]),
                     int(img["pressure"]["N"]))
        ok = -90 <= t <= 60 and 0 <= hum <= 100 and p > 0
        gold += ok
        bad += not ok
    assert (gold, bad, late) == (b.gold_rows, b.quarantine_rows, b.late_rows)
    assert b.cdc_rows == gold + bad + late
    assert b.envelopes > b.cdc_rows  # duplicates and MODIFY/REMOVE on top


def _bytes(path):
    with open(path, "rb") as f:
        return f.read()


def test_tables_are_deterministic():
    root = os.path.join(REPO, ".lakebench", "test-tables")
    try:
        counts = gen.write_tables(5, os.path.join(root, "a"), 0.001)
        gen.write_tables(5, os.path.join(root, "b"), 0.001)
        orders = gen.write_orders(5, os.path.join(root, "c"), 0.001)
        for t in counts:
            a = _bytes(os.path.join(root, "a", f"{t}.parquet"))
            assert a == _bytes(os.path.join(root, "b", f"{t}.parquet")), t
        assert _bytes(orders) == _bytes(os.path.join(root, "a", "orders.parquet"))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_statement_stream_and_query_order_are_deterministic():
    import numpy as np

    dates = np.datetime64("1995-01-01", "us") + np.arange(0, 2400, 2).astype("timedelta64[D]")

    def sqls(seed):
        s = gen.DmlStream(seed, dates, merge_rows=20)
        out = [s.make(k).sql for k in gen.WARMUP]
        for _ in range(2):
            out += [st.sql for st in s.round()]
        return out

    assert sqls(1) == sqls(1) != sqls(2)
    kinds = [st.kind for st in gen.DmlStream(1, dates, 20).round()]
    assert sorted(kinds) == sorted(gen.HALF_A + gen.HALF_B + ("optimize", "optimize"))
    assert gen.query_order(4, 2) == gen.query_order(4, 2)
    assert sorted(gen.query_order(4, 2)) == sorted(gen.MIX)


def test_result_comparison_accepts_only_rounding_ties():
    import pandas as pd

    from lakebench import analytics

    norm = analytics._check_oracle_module()
    assert analytics._one_rounding_apart(7383812.85, 7383812.86)
    assert analytics._one_rounding_apart(7383812.8, 7383812.79)
    assert not analytics._one_rounding_apart(7383812.85, 7383812.87)
    assert not analytics._one_rounding_apart(5.0, 6.0)  # a count one off
    want = pd.DataFrame({"n_name": ["A", "B", "C"], "revenue": [1.25, 7383812.85, 3.5]})
    tie = pd.DataFrame({"revenue": [3.5, 7383812.86, 1.25], "n_name": ["C", "B", "A"]})
    assert analytics._mismatches(tie, want, norm) == []
    wrong = tie.assign(revenue=[3.5, 7383812.86, 1.26 + 1])
    assert analytics._mismatches(wrong, want, norm) == [("revenue", 2.26, 1.25)]


def test_tail_percentile():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    v, pct, n = harness.tail([float(i) for i in range(1, 41)])
    assert (v, pct, n) == (30.0, 75.0, 40)
    v, pct, n = harness.tail([float(i) for i in range(1, 201)])
    assert (v, pct, n) == (190.0, 95.0, 200)


def test_gated_rate_weighs_each_kind_by_its_median():
    from lakebench import report

    ops = [harness.Op(k, t, True, False, 0.0, 0.0) for k, t in
           [("hour", 3.0), ("hour", 5.0), ("hour", 30.0), ("merge", 4.0), ("read", 0.5)]]
    ctx = harness.Ctx(None, 1, 0, "", None, ops=ops)
    mix = {"hour": 2, "merge": 1, "read": 2}
    m = report.e2e_metrics(ctx, {"setup_s": 9.0}, mix)
    # hour's median is 5 s whatever its outlier; a cycle is 2 hours, 1 merge, 2 reads
    assert m["ops_per_s"]["value"] == pytest.approx(5 / (2 * 5.0 + 4.0 + 2 * 0.5))
    assert m["setup_s"]["value"] == 9.0
    assert report.per_kind(ctx, mix)[1] == pytest.approx((5.0 * 4.0 * 0.5) ** (1 / 3))


def test_benchmark_json_matches_the_report():
    from lakebench import report

    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == report.E2E
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == report.LAYERS
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)


# -- smoke runs ------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    root = os.path.join(REPO, ".lakebench", "test-session")
    run.pin_environment(root)
    from rxlan_aws_lakehouse_spark.session import get_spark

    s = get_spark("lakebench-tests")
    yield s
    run.stop_spark(s)
    shutil.rmtree(root, ignore_errors=True)


def _tiny(name):
    from lakebench.analytics import Analytics
    from lakebench.dml import Dml
    from lakebench.ingest_dml import IngestDml
    from lakebench.medallion import Medallion

    return {
        "ingest_dml": lambda: IngestDml(Medallion(events_per_hour=300, warmup_hours=1),
                                        Dml(scale=0.002, merge_rows=10)),
        "medallion_hourly": lambda: Medallion(events_per_hour=300),
        "analytics_mix": lambda: Analytics(
            scale=0.002, lanes=("tpch_q1", "ref_dup_detect", "window_topk")),
        "txn_dml": lambda: Dml(scale=0.002, merge_rows=10),
    }[name]()


def _check_shape(final, trace):
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert final["attempted"] >= 1
    assert set(final["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = final["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and got["value"] > 0, m["name"]


@pytest.mark.parametrize("name", run.WORKLOADS + run.PARTS)
@pytest.mark.parametrize("trace", [False, True])
def test_smoke_run_passes(spark, name, trace):
    res = run.run_one(name, 1, 0, trace, workload=_tiny(name), spark=spark)
    final = res["final"]
    assert final["correct"] and final["failed"] == 0, res["lines"]
    _check_shape(final, trace)
    json.dumps(final)  # the printed line is plain JSON


@pytest.mark.parametrize("name", ["medallion_hourly", "ingest_dml"])
def test_wrong_gold_count_fails(spark, monkeypatch, name):
    orig = gen.CdcHours.hour

    def off_by_one(self, h):
        b = orig(self, h)
        b.gold_rows += 1
        return b

    monkeypatch.setattr(gen.CdcHours, "hour", off_by_one)
    final = run.run_one(name, 1, 0, False, workload=_tiny(name), spark=spark)["final"]
    assert not final["correct"] and final["failed"] >= 1


def test_wrong_oracle_row_count_fails(spark, monkeypatch):
    from lakebench.analytics import Analytics

    orig = Analytics.oracles

    def one_row_short(self):
        return {lane: df.iloc[1:] for lane, df in orig(self).items()}

    monkeypatch.setattr(Analytics, "oracles", one_row_short)
    final = run.run_one("analytics_mix", 1, 0, False,
                        workload=_tiny("analytics_mix"), spark=spark)["final"]
    assert not final["correct"] and final["failed"] >= 1


def test_wrong_replica_fails(spark, monkeypatch):
    from lakebench.dml import Dml

    orig = Dml.finish

    def drop_one_row(self, ctx):
        self.duck.execute(
            "DELETE FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)")
        orig(self, ctx)

    monkeypatch.setattr(Dml, "finish", drop_one_row)
    final = run.run_one("txn_dml", 1, 0, False, workload=_tiny("txn_dml"), spark=spark)["final"]
    assert not final["correct"] and final["failed"] >= 1
