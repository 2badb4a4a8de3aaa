"""Per-lane Spark job/stage/task counts via the status tracker.

Usage: python tools/job_stats.py <lane> [lane ...]   (env PLAN_SF_DIR)

Runs each lane once warm, then once more with its two phases in their own
job groups: the build (the lane's callable, which returns a DataFrame) and
the execution (``toPandas()``, as lakebench's ``analytics_mix`` times an op;
a ``.count()`` would let Catalyst prune the aggregate columns away). It
reports the wall, jobs, stages and tasks of each phase and their sum, which
is what lakebench's traced ``# per_op_class`` counts per op. A lane whose
wall is dominated by DOZENS of tiny jobs is fixed-overhead-bound (guide
§1.2: remove passes), not compute-bound — the number that tells the two
apart. Not part of the bench contract.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from rxlan_aws_lakehouse_spark.session import get_spark  # noqa: E402


def _in_group(sc, group: str, fn):
    """``fn()``'s result, its wall, and the jobs/stages/tasks it ran."""
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
    # the status store is fed by the listener bus; drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    n_stages = n_tasks = 0
    for jid in job_ids:
        ji = st.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                n_stages += 1
                n_tasks += si.numTasks
    return out, (wall, len(job_ids), n_stages, n_tasks)


def main() -> None:
    lanes = sys.argv[1:]
    sf_dir = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job-stats")
    # optional conf overrides: JOBSTATS_CONFS="k1=v1,k2=v2"
    for kv in os.environ.get("JOBSTATS_CONFS", "").split(","):
        if kv:
            k, v = kv.split("=", 1)
            spark.conf.set(k, v)
    sc = spark.sparkContext
    qs = entrymod.queries()
    cols = ("wall_s", "jobs", "stages", "tasks")
    print(f"{'lane':32s} {'phase':6s} " + " ".join(f"{c:>7s}" for c in cols))
    for name in lanes:
        fn = qs[name]
        fn(spark, sf_dir).toPandas()  # warm
        spark.catalog.clearCache()
        df, build = _in_group(sc, f"jobstats-{name}-build", lambda: fn(spark, sf_dir))
        _, execute = _in_group(sc, f"jobstats-{name}-exec", df.toPandas)
        total = tuple(b + e for b, e in zip(build, execute))
        for phase, (wall, jobs, stages, tasks) in (
            ("build", build), ("exec", execute), ("op", total)
        ):
            print(
                f"{name:32s} {phase:6s} {wall:7.3f} {jobs:7d} {stages:7d} "
                f"{tasks:7d}"
            )


if __name__ == "__main__":
    main()
