"""Closed-loop measurement core shared by the workloads.

A workload exposes ``inputs(ctx)`` (generate, no Spark), ``warmup(ctx)``
(seed tables, cold pass, first checks), ``round(ctx, i)``, ``finish(ctx)``
and ``min_rounds``. ``run_workload`` calls ``round`` until ``seconds`` have
passed and at least ``min_rounds`` times, always finishing the round in
progress, so every run measures whole hours / passes / statement cycles;
then it runs the final checks. Inside a round each operation goes through
``ctx.op``: only the callable it wraps is timed; correctness checks run
after it, outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    traced: bool
    steal: float  # share of this guest's CPU demand the host gave to other guests
    cpu_s: float  # CPU time of the driver, its JVM and Spark's Python workers (traced runs)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    data_root: str
    tracer: object  # tracing.Tracer (disabled in untraced runs)
    ops: list[Op] = field(default_factory=list)
    attempted: int = 0  # ops (warm-up and timed) plus standalone checks
    errors: list[str] = field(default_factory=list)  # one per failed op or check
    timed: bool = False  # False while setting up / warming up
    report: dict = field(default_factory=dict)  # workload-specific metrics

    def path(self, *parts: str) -> str:
        p = os.path.join(self.data_root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fail(self, what: str) -> None:
        """Record a failed op or check and keep going."""
        self.errors.append(what)
        print(f"# check failed: {what}", file=sys.stderr)

    def verify(self, ok: bool, what: str) -> None:
        """A standalone check, outside any op (oracle match, final hash)."""
        self.attempted += 1
        if not ok:
            self.fail(what)

    def op(self, kind: str, fn, check=None):
        """Run one operation. ``fn()`` is timed; ``check(result)`` is not,
        and returns an error string (or None). Returns ``fn``'s result, or
        None if it raised."""
        traced = self.tracer.begin_op(kind, self.timed)
        c0 = tree_cpu_s() if traced else 0.0
        s0 = steal_ticks()
        t0 = time.perf_counter()
        error = None
        try:
            result = fn()
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            result, error = None, traceback.format_exc()
        dt = time.perf_counter() - t0
        steal = steal_share(s0, steal_ticks())
        cpu = tree_cpu_s() - c0 if traced else 0.0
        self.tracer.end_op()
        ok = error is None
        if not ok:
            self.fail(f"{kind} raised:\n{error}")
        if ok and check is not None:
            msg = check(result)
            if msg:
                ok = False
                self.fail(f"{kind}: {msg}")
        self.attempted += 1
        if self.timed:
            self.ops.append(Op(kind, dt, ok, traced, steal, cpu))
        return result


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that leaves
    ``min(10, n // 4)`` samples above it: p90 once a run has 100 samples,
    never below p75 for the short runs this benchmark makes, the maximum
    below four samples."""
    xs = sorted(values)
    n = len(xs)
    rank = n - min(10, n // 4)  # 1-based nearest rank
    return xs[rank - 1], 100.0 * rank / n, n


def median(values: list[float]) -> float:
    return statistics.median(values)


# --------------------------------------------------------------------------
# process memory
# --------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    with contextlib.suppress(OSError):
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    return kids


def tree_cpu_s(pid: int | None = None) -> float:
    """User + system CPU seconds of a process and all its descendants,
    including reaped children (Spark's forked Python workers)."""
    ticks = 0
    stack = [pid or os.getpid()]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stack.extend(_children(p))
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(stolen, stolen + busy) CPU ticks of this guest since boot. On a
    shared host the hypervisor withholds a varying share of the CPU time a
    runnable guest asks for; it shows here as steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]  # user nice system irq softirq
    return v[7], v[7] + busy


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Stolen share of the guest's CPU demand between two readings."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def jvm_pid() -> int | None:
    """The JVM the py4j gateway launched: a direct child running java."""
    for pid in _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")[0]
        except OSError:
            continue
        if cmd.endswith(b"java"):
            return pid
    return None


def peak_rss_mb(jvm: int | None) -> float:
    """Peak RSS (VmHWM) of this Python driver plus its JVM, in MiB."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm is not None:
        kb += _status_kb(jvm, "VmHWM")
    return kb / 1024.0


def process_start_wall() -> float:
    """Wall-clock time this process started (from /proc), for set-up time."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 overall: starttime
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# the loop
# --------------------------------------------------------------------------


def run_workload(workload, ctx: Ctx, t_process: float) -> dict:
    """Run whole rounds for ``ctx.seconds`` and at least
    ``workload.min_rounds`` (twice that when traced, so every op kind runs
    traced and untraced), then the final checks. Set-up
    (``inputs`` and ``warmup``) has run already; ``setup_s`` runs from
    ``t_process`` to the first timed op."""
    min_rounds = workload.min_rounds * (2 if ctx.tracer.enabled else 1)
    setup_s = time.time() - t_process
    ctx.timed = True
    t0 = time.perf_counter()
    rounds = 0
    while rounds < min_rounds or time.perf_counter() - t0 < ctx.seconds:
        workload.round(ctx, rounds)
        rounds += 1
    ctx.timed = False
    ctx.tracer.active = False  # the final checks belong to no traced op
    workload.finish(ctx)
    return {"setup_s": setup_s, "rounds": rounds}
