"""Table catalog over the driver's parquet star schema.

The reference's catalog is implicit (a single Redshift table created by DDL,
/root/reference/init.sql:1-17). Ours is a thin loader over partition-friendly
parquet: explicit table list, column-pruned scans (callers select what they
need; Catalyst prunes the parquet read), temp-view registration for the SQL
surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Single-partition DataFrame over driver-local rows.

    ``spark.createDataFrame(list)`` parallelizes over
    ``spark.default.parallelism`` slices, so EVERY later action on the
    frame schedules that many near-empty tasks (32 here) — lanes
    materialize their (small, already-collected) result this way, and
    protocol lanes build fixture frames this way dozens of times.
    One slice = one task per action (guide §1.2: remove work you don't
    need; measured 3x cheaper per action at 1000 rows). Only for
    driver-resident row lists, which are small by construction —
    anything bigger arrives as a distributed plan, never a list."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one star-schema table. Parquet scan: pushdown + pruning are free."""
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; known: {TABLES}")
    ensure_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    if table == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # TIMESTAMP(NANOS) read as long via nanosAsLong; truncate to micros
        # (matches DuckDB's NS->US cast semantics).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# (sf_dir, table) -> row-group count; the star-schema inputs are immutable
# for a process lifetime, so one footer read per table is enough.
_SCAN_UNITS_CACHE: dict[tuple[str, str], int | None] = {}


def scan_units(sf_dir: str, table: str) -> int | None:
    """Max EFFECTIVE scan parallelism for a star-schema table: total
    parquet row groups across its files. Parquet cannot split below a
    row group, so a single-row-group file caps its scan stage at one
    busy task no matter how many byte-range splits Spark creates.
    Returns None when the layout can't be inspected (caller must then
    assume the scan parallelizes fine)."""
    key = (sf_dir, table)
    if key not in _SCAN_UNITS_CACHE:
        units: int | None
        try:
            import pyarrow.parquet as pq  # deferred: keeps worker spawn light

            path = os.path.join(sf_dir, f"{table}.parquet")
            if os.path.isfile(path):
                files = [path]
            else:
                # partitioned layouts nest files under key=value dirs
                files = [
                    os.path.join(d, f)
                    for d, _dirs, names in os.walk(path)
                    for f in names
                    if f.endswith(".parquet")
                ]
            units = sum(
                pq.ParquetFile(f).metadata.num_row_groups for f in files
            ) or None
        except Exception:
            units = None
        _SCAN_UNITS_CACHE[key] = units
    return _SCAN_UNITS_CACHE[key]


def spread(spark: SparkSession, df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """Round-robin repartition AFTER a scan whose input cannot fill the
    cluster, for plans that hang heavy per-row compute off the scan
    stage (guide §2.5: unsplittable input — "repartition immediately
    after the read"). Conditional on the table's ACTUAL structure: only
    when its row-group count is under half the session parallelism does
    the exchange appear, so a production layout (row groups every
    ~128 MB, many files) never pays the shuffle while a single-row-group
    file stops serializing its whole downstream pipeline onto one task.
    Row-preserving; callers must be order-insensitive (aggregations)."""
    cores = spark.sparkContext.defaultParallelism
    units = scan_units(sf_dir, table)
    if units is not None and units < max(2, cores // 2):
        return df.repartition(cores)
    return df


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works directly."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
