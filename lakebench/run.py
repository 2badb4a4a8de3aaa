"""Lakehouse benchmark: one seeded, closed-loop workload per process.

    python3 lakebench/run.py --workload ingest_dml --seed 1 --seconds 10 --trace 0

Workloads: ``ingest_dml`` (hourly CDC -> gold beside SQL DML on a
transactional table) and ``analytics_mix`` (the analyst query mix) are the
benchmark's two (``BENCHMARK.json``); ``medallion_hourly`` and ``txn_dml``
run the two halves of ``ingest_dml`` alone. ``--workload all`` runs the
benchmark's two, one process each, and prints the per-workload metrics by
name. See ``lakebench/README.md``.

The launcher pins its own environment before the JVM starts: Spark on half
the CPUs this process may use, a driver heap below physical RAM, a fresh
data root (Spark local dirs, temp files, tables) under ``.lakebench/`` in
the checkout that is removed at exit, and the repo root on ``PYTHONPATH`` so
Spark's Python workers can import the engine.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Any failed op or check makes the exit
code nonzero.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_dml", "analytics_mix")  # the benchmark's, as in BENCHMARK.json
PARTS = ("medallion_hourly", "txn_dml")  # the two halves of ingest_dml, alone



def pin_environment(data_root: str) -> None:
    """Environment for the engine and its JVM, set before either starts."""
    # Spark's task threads get half the CPUs. The other half runs what every
    # op also needs: the Python driver, Spark's Python workers and the JVM's
    # GC and JIT threads. With one task thread per CPU, those queue behind
    # the tasks and a run measures the guest's scheduler: on four CPUs, a
    # CDC hour took 2.8 s at local[4] and 2.5 s at local[2].
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        mem_gib = int(next(x for x in f if x.startswith("MemTotal")).split()[1]) / 2**20
    heap_gib = max(1, min(3, int(mem_gib / 4)))
    tmp = os.path.join(data_root, "tmp")
    local = os.path.join(data_root, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    py_path = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(py_path),
        "TMPDIR": tmp,
        "TZ": "UTC",
        # the launcher JVM spark-submit runs first; no hsperfdata file for it
        # either (the JVM writes that under /tmp whatever java.io.tmpdir is)
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(data_root, 'warehouse')}"),
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    time.tzset()


def make_workload(name: str):
    from lakebench.analytics import Analytics
    from lakebench.dml import Dml
    from lakebench.ingest_dml import IngestDml
    from lakebench.medallion import Medallion

    return {"ingest_dml": IngestDml, "analytics_mix": Analytics,
            "medallion_hourly": Medallion, "txn_dml": Dml}[name]()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_one(name: str, seed: int, seconds: float, trace: bool, workload=None,
            spark=None) -> dict:
    """Run one workload in this process; returns the lines to print and the
    final result. With ``spark`` given (tests), that session is used and
    left running, and set-up counts from this call."""
    from lakebench import harness, report
    from lakebench.tracing import Tracer

    own_session = spark is None
    t_start = harness.process_start_wall() if own_session else time.time()
    data_root = os.path.join(REPO, ".lakebench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(data_root)
    try:
        if own_session:
            pin_environment(data_root)
        workload = workload or make_workload(name)
        tracer = Tracer(trace)
        ctx = harness.Ctx(spark=spark, seed=seed, seconds=seconds, data_root=data_root,
                          tracer=tracer)

        def make_inputs() -> float:
            t0 = time.perf_counter()
            workload.inputs(ctx)
            return time.perf_counter() - t0

        # the inputs need no Spark: they are generated while the JVM starts
        with ThreadPoolExecutor(1, thread_name_prefix="lakebench-inputs") as pool:
            inputs = pool.submit(make_inputs)
            t0 = time.perf_counter()
            if own_session:
                from rxlan_aws_lakehouse_spark import session

                spark = ctx.spark = session.get_spark(f"lakebench-{name}")
            start_s = time.perf_counter() - t0
            inputs_s = inputs.result()
        tracer.install(spark)
        try:
            t0 = time.perf_counter()
            workload.warmup(ctx)
            warmup_s = time.perf_counter() - t0
            loop = harness.run_workload(workload, ctx, t_start)
        finally:
            tracer.uninstall()
        return report.build(
            name, ctx, loop, harness.peak_rss_mb(harness.jvm_pid()),
            setup={"session.start_s": start_s, "setup.inputs_s": inputs_s,
                   "setup.warmup_s": warmup_s},
            trace_path=os.path.join(REPO, ".lakebench", "traces", f"{name}-seed{seed}.json"),
            mix=workload.mix,
        )
    finally:
        try:
            if own_session and spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(data_root, ignore_errors=True)


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """``--workload all``: one child process per workload, then the
    per-workload metrics together."""
    from lakebench import report

    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
               str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
        lines = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                               check=False).stdout.splitlines()
        for line in lines[:-1]:
            print(line)
        tag = "# workload_metrics "
        metrics = [json.loads(ln[len(tag):]) for ln in lines if ln.startswith(tag)]
        try:
            final = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            final = {"correct": False, "attempted": 1, "failed": 1}  # the child crashed
        results[name] = (metrics[0] if metrics else {}, final)
    combined = report.combine(results)
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + PARTS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM (a caller's timeout) unwinds through the finally blocks, which
    # stop the JVM and remove the data root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(REPO, "rxlan_aws_lakehouse_spark")):
        print(f"lakebench: engine package not found under {REPO}", file=sys.stderr)
        return 2
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    for line in result["lines"]:
        print(line)
    print(json.dumps(result["final"]))
    return 0 if result["final"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
