"""SparkSession factory with lakehouse-friendly defaults.

The reference delegates session setup to AWS Glue (GlueContext over SparkContext,
/root/reference/glue/bronze_to_silver_openweather.py:28-31). Here the session is
first-class: AQE on (runtime re-planning, skew-join handling, small-partition
coalescing), UTC pinned (oracle comparability + deterministic dt/hour derivation),
Arrow on (fast pandas interchange for the vectorized UDF path), and dynamic
partition overwrite (idempotent hour-scoped reloads, README.md:217-219).

At 100 TB these defaults matter: AQE coalesces the post-shuffle partition count to
data size instead of a static number, and dynamic partition overwrite keeps
re-runs scoped to the partitions actually written.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe (and desirable) to apply to an externally-created
# session at runtime. Everything here is a runtime-settable SQL conf.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet pushdown is on by default; keep explicit so a misconfigured
    # upstream session can't silently disable scan pruning.
    "spark.sql.parquet.filterPushdown": "true",
    # dt/hour partition values stay strings (reference DDL: VARCHAR(10)/
    # VARCHAR(2)); inference would read hour=09 back as 9.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # The driver's events table stores TIMESTAMP(NANOS), which Spark's parquet
    # reader rejects natively; read as long and convert in the catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _install_worker_shim() -> None:
    """Route worker interpreters through ``pyworker_shim.sh`` (guide §4).

    PySpark spawns helper interpreters with pyspark.zip FIRST on
    PYTHONPATH; zipimport recompiles the .py sources on EVERY spawn
    (measured 1.18 s vs 0.45 s from the pyc-cached site install) — and
    the per-stream-start python_streaming_source_runner is hardcoded
    non-daemon (StreamingPythonRunner -> createSimpleWorker(false)), so
    every Python-data-source stream start pays it. The shim strips the
    redundant zip entries. Guards: never override a caller-chosen
    PYSPARK_PYTHON, and only engage when this driver's own pyspark AND
    py4j already resolve OUTSIDE any zip in the interpreter the workers
    will run (the same ``sys.executable``), and there report this
    driver's own ``pyspark.__version__``: the shim must never swap in a
    site-packages pyspark that does not match the JVM. The probe runs
    with the ``PYTHONPATH`` the shim leaves (zip entries removed, every
    other entry kept), so an entry that shadows pyspark is probed too.
    Must run before the JVM launches; a no-op afterwards."""
    import fnmatch
    import shutil
    import subprocess
    import sys

    import pyspark

    if os.environ.get("SPARK_GRAFT_NO_WORKER_SHIM"):
        return
    shim = os.path.join(os.path.dirname(__file__), "pyworker_shim.sh")
    if not os.access(shim, os.X_OK):
        return
    current = os.environ.get("PYSPARK_PYTHON", "")
    if current.endswith("pyworker_shim.sh"):
        return  # already installed
    # resolve the interpreter the workers would have used, and verify
    # THAT interpreter imports this pyspark+py4j outside any zip when
    # the zip entries are gone (one ~0.5 s probe per driver process)
    if current:
        real = shutil.which(current)
        if real is None:
            return  # caller-chosen interpreter we cannot probe: keep it
    else:
        real = sys.executable
    env = dict(os.environ)
    # keep what pyworker_shim.sh keeps (an empty PYTHONPATH is ignored)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if os.path.basename(p) != "pyspark.zip"
        and not fnmatch.fnmatch(os.path.basename(p), "py4j-*-src.zip")
    )
    try:
        probe = subprocess.run(
            [
                real,
                "-c",
                "import pyspark, py4j; import sys; "
                "sys.exit(1 if ('.zip' in (pyspark.__file__ or '') or "
                "'.zip' in (py4j.__file__ or '')) else "
                "print(pyspark.__version__))",
            ],
            env=env,
            capture_output=True,
            text=True,
            timeout=60,
        )
    except Exception:
        return
    if probe.returncode != 0 or probe.stdout.strip() != pyspark.__version__:
        return
    os.environ["PYSPARK_PYTHON"] = shim
    os.environ["SPARK_GRAFT_REAL_PYTHON"] = real
    os.environ["SPARK_GRAFT_SITE_OK"] = "1"


def get_spark(app_name: str = "rxlan_aws_lakehouse_spark") -> SparkSession:
    """Create (or fetch) a SparkSession tuned for local-mode testing.

    Local mode is a stand-in for a multi-executor cluster: parallelism and
    shuffle-partition counts are sized to cores, and all plan-shaping configs
    (AQE, pushdown, overwrite mode) are the ones a cluster deployment would use.
    """
    cpus = default_parallelism()
    _install_worker_shim()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # In local mode every task IS process-local; the default 3 s
        # locality wait only stalls tasks whose preferred locations can't
        # match (e.g. a coalesce(1) over a parallelized collection waits
        # the full delay before scheduling — measured 4.5 s for a 1-row
        # write). On a real cluster this stays at its default.
        .config("spark.locality.wait", "0s")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from .py4j_hotpath import install_py4j_reflection_cache

    install_py4j_reflection_cache()
    return spark


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we did not create.

    The correctness driver passes its own SparkSession into ``queries()``
    callables; timezone and AQE behavior must not depend on how that session
    was built.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; defaults are acceptable there
    from .py4j_hotpath import install_py4j_reflection_cache

    install_py4j_reflection_cache()
    return spark
