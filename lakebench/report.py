"""Turn one run's raw figures into printed metrics.

The last stdout line carries the metrics ``BENCHMARK.json`` names: with
``--trace 0`` the end-to-end set (``E2E``), with ``--trace 1`` the per-layer
set (``LAYERS``). Both sets are defined for every workload, so each run
prints all of them. The lines before it carry the workload's own metrics
under the names the workload doc uses (``# workload_metrics``) and, when
traced, the full per-layer breakdown (``# layers``).
"""

from __future__ import annotations

import json
import math
import statistics

from .harness import median, tail

E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
}
LAYERS = {
    "session.start_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "py4j.roundtrips_per_op": "count",
    "py4j.wait_s_per_op": "s",
    "driver.python_s_per_op": "s",
    "process.cpu_s_per_op": "s",
    "trace.overhead_ratio": "ratio",
}
_READS = ("select_point", "select_range")


def _mean(xs):
    return statistics.fmean(xs) if xs else None


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _latency(into: dict, p50: str, tail_name: str, xs: list[float]) -> None:
    """Median and tail, the tail with its percentile and sample count."""
    if xs:
        into[p50] = _m(median(xs), "s")
        v, pct, n = tail(xs)
        into[tail_name] = {**_m(v, "s"), "percentile": pct, "samples": n}


def workload_metrics(name: str, ctx, loop: dict, peak: float, mix: dict) -> dict:
    """The run's metrics under the names the workload doc uses, on raw
    wall times."""
    ops = [o for o in ctx.ops if o.ok and not o.traced]
    hours = [o.seconds for o in ops if o.kind == "hour"]
    stmts = [o for o in ops if o.kind != "hour"]
    out = {
        "setup_s": _m(loop["setup_s"], "s"),
        "failed_ops_ratio": _m(len(ctx.errors) / max(1, ctx.attempted), "ratio"),
        "peak_rss_mb": _m(peak, "MiB"),
    }
    if name in ("medallion_hourly", "ingest_dml"):
        _latency(out, "etl.freshness_p50_s", "etl.freshness_tail_s", hours)
    if name == "analytics_mix":
        xs = [o.seconds for o in ops]
        out["query.per_s"] = _m(len(xs) / sum(xs) if xs else None, "queries/s")
        _latency(out, "query.p50_s", "query.tail_s", xs)
    if name in ("txn_dml", "ingest_dml"):
        xs = [o.seconds for o in stmts]
        out["dml.stmts_per_s"] = _m(len(xs) / sum(xs) if xs else None, "stmts/s")
        _latency(out, "dml.write_p50_s", "dml.write_tail_s",
                 [o.seconds for o in stmts if o.kind not in _READS])
        _latency(out, "dml.read_p50_s", "dml.read_tail_s",
                 [o.seconds for o in stmts if o.kind in _READS])
    out.update({k: _m(v, u) for k, (v, u) in ctx.report.items()})
    out["kind_p50_geomean_s"] = _m(per_kind(ctx, mix)[1], "s")
    out["host.steal_share"] = _m(_mean([o.steal for o in ops]), "ratio")
    return out


def kind_medians(ops) -> dict[str, float]:
    """Op kind -> median latency of its ops."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.seconds)
    return {k: median(v) for k, v in by_kind.items()}


def per_kind(ctx, mix: dict) -> tuple[float | None, float | None]:
    """(ops per second over one whole cycle of the workload's op mix, each
    op at its kind's median latency; geometric mean of the kinds' medians).

    ``mix`` maps each op kind to its ops per cycle, so a run's count of
    rounds does not change the mix the rate is taken over, and one stalled
    op moves neither figure. In the geometric mean every kind weighs the
    same, a CDC hour as much as a point lookup."""
    med = kind_medians(o for o in ctx.ops if o.ok and not o.traced)
    kinds = [k for k in mix if k in med]
    if not kinds:  # every op failed: the run is refused anyway
        return None, None
    rate = sum(mix[k] for k in kinds) / sum(mix[k] * med[k] for k in kinds)
    return rate, math.exp(statistics.fmean(math.log(med[k]) for k in kinds))


def e2e_metrics(ctx, loop: dict, mix: dict) -> dict:
    """The gated metrics, on wall times, under names shared by the
    workloads (see the README). Tails are not among them: a run holds 14 ops
    of ten kinds or 20 queries of ten lanes, too few for a percentile with
    ten samples beyond it, so they are printed on ``# workload_metrics``."""
    return {
        "setup_s": _m(loop["setup_s"], "s"),
        "ops_per_s": _m(per_kind(ctx, mix)[0], "1/s"),
    }


def layer_report(ctx, setup: dict) -> tuple[dict, dict]:
    """(per-layer metrics named in BENCHMARK.json, full breakdown)."""
    tr = ctx.tracer
    spans = tr.span_table()
    st = tr.op_stats
    traced = [o.seconds for o in ctx.ops if o.ok and o.traced]
    plain = [o.seconds for o in ctx.ops if o.ok and not o.traced]
    overhead = median(traced) / median(plain)
    layers = {
        **{k: _m(v, "s") for k, v in setup.items()},
        "spark.jobs_per_op": _m(_mean([s["jobs"] for s in st]), "count"),
        "spark.stages_per_op": _m(_mean([s["stages"] for s in st]), "count"),
        "spark.tasks_per_op": _m(_mean([s["tasks"] for s in st]), "count"),
        "py4j.roundtrips_per_op": _m(_mean([s["py4j_roundtrips"] for s in st]), "count"),
        "py4j.wait_s_per_op": _m(_mean([s["py4j_wait_s"] for s in st]), "s"),
        "driver.python_s_per_op": _m(_mean([s["wall_s"] - s["py4j_wait_s"] for s in st]), "s"),
        "process.cpu_s_per_op": _m(_mean([o.cpu_s for o in ctx.ops if o.traced]), "s"),
        "trace.overhead_ratio": _m(overhead, "ratio"),
    }

    full: dict = {"spans": spans, "trace.overhead": {
        "traced_op_p50_s": median(traced), "untraced_op_p50_s": median(plain),
        "ratio": overhead, "traced_ops": len(traced), "untraced_ops": len(plain)}}

    def span_mean(name, key="mean_s"):
        return spans[name][key] if name in spans else None

    named = {
        "streaming.cdc.forward_s": span_mean("streaming.cdc.forward"),
        "pipeline.batch.run_s": span_mean("pipeline.batch.run_batch"),
        "pipeline.gold.write_s": span_mean("pipeline.gold.write_gold"),
        "sql_dml.sql_self_s": span_mean("sql_dml.sql", "self_mean_s"),
        "catalog.load_s": span_mean("catalog.load"),
    }
    if named["pipeline.batch.run_s"] is not None:
        named["pipeline.batch.self_s"] = named["pipeline.batch.run_s"] - (
            named["pipeline.gold.write_s"] or 0.0
        )
    for name in spans:
        if name.startswith(("txn.", "queries.", "ops.")):
            named[f"{name}_s"] = spans[name]["mean_s"]
    for name, xs in tr.samples.items():
        named[name] = _mean(xs)
    if tr.commits:
        for key, metric in (("files_added", "txn.files_added_per_commit"),
                            ("bytes_written", "txn.bytes_written_per_commit"),
                            ("manifest_bytes", "txn.manifest_bytes_per_commit"),
                            ("live_files", "txn.live_files")):
            named[metric] = _mean([c[key] for c in tr.commits])
    by_kind: dict[str, list[dict]] = {}
    for s in st:
        by_kind.setdefault(s["kind"], []).append(s)
    full["per_op_class"] = {
        k: {f: _mean([s[f] for s in v]) for f in
            ("wall_s", "jobs", "stages", "tasks", "py4j_roundtrips", "py4j_wait_s")}
        | {"ops": len(v)}
        for k, v in sorted(by_kind.items())
    }
    full["named"] = {k: v for k, v in named.items() if v is not None}
    return layers, full


def build(name: str, ctx, loop: dict, peak: float, setup: dict, trace_path: str,
          mix: dict) -> dict:
    """Everything ``run.py`` prints for one workload run."""
    failed = len(ctx.errors)
    wm = workload_metrics(name, ctx, loop, peak, mix)
    lines = [
        f"# {name} seed={ctx.seed} rounds={loop['rounds']} timed_ops={len(ctx.ops)} "
        f"attempted={ctx.attempted} failed={failed}",
        "# workload_metrics " + json.dumps(wm),
        "# ops [kind, seconds, steal share, ok, traced] "
        + json.dumps([[o.kind, round(o.seconds, 4), round(o.steal, 4), o.ok, o.traced]
                      for o in ctx.ops]),
    ]
    if ctx.tracer.enabled:
        metrics, full = layer_report(ctx, setup)
        ctx.tracer.write(trace_path, {"workload": name, "seed": ctx.seed, "report": full})
        lines += ["# layers " + json.dumps(full["named"]),
                  "# per_op_class " + json.dumps(full["per_op_class"]),
                  "# trace.overhead " + json.dumps(full["trace.overhead"]),
                  f"# spans {trace_path}"]
    else:
        metrics = e2e_metrics(ctx, loop, mix)
    final = {"correct": failed == 0, "attempted": ctx.attempted, "failed": failed,
             "metrics": metrics}
    return {"lines": lines, "final": final}


def combine(results: dict) -> dict:
    """``--workload all``: workload -> (workload metrics, final line) of the
    two runs, together as the 15 named metrics. Set-up time and memory
    are the worse of the two; failures add up; each run's steal share and
    kind geomean stay on its own ``# workload_metrics`` line."""
    metrics: dict = {}
    attempted = sum(final["attempted"] for _wm, final in results.values())
    failed = sum(final["failed"] for _wm, final in results.values())
    for wm, _final in results.values():
        for k, v in wm.items():
            if k in ("setup_s", "peak_rss_mb"):
                if k not in metrics or v["value"] > metrics[k]["value"]:
                    metrics[k] = v
            elif not k.startswith("host.") and k not in ("failed_ops_ratio",
                                                         "kind_p50_geomean_s"):
                metrics[k] = v
    metrics["failed_ops_ratio"] = _m(failed / max(1, attempted), "ratio")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
