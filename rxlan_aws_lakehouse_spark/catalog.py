"""Table catalog over the driver's parquet star schema.

The reference's catalog is implicit (a single Redshift table created by DDL,
/root/reference/init.sql:1-17). Ours is a thin loader over partition-friendly
parquet: explicit table list, column-pruned scans (callers select what they
need; Catalyst prunes the parquet read), temp-view registration for the SQL
surface.

Schema cache: ``spark.read.parquet(path)`` runs one Spark job to read a
footer and infer the schema, on every call. ``load`` infers each input's
schema once per process and reads with ``spark.read.schema(s)`` after that,
which launches no job. An entry is keyed by the input's path and stores,
next to the schema, the input's signature: ``(size, mtime_ns, inode)`` of
the file, or of every file under a partitioned directory. An input
rewritten in place changes its signature and is inferred again; one entry
per path bounds the cache by the number of tables. Inputs that cannot be
stat'ed (a missing path, a non-local URI) are inferred on every load, as
before.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
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
    """DataFrame over driver-local ``rows`` (a list of tuples or Rows,
    possibly empty) under ``schema`` (a ``StructType`` or a DDL string),
    planned as a ``LocalRelation``.

    The rows travel to the JVM as one Arrow table and stay in the plan:
    collecting the frame runs no Spark job, and a plan that joins, unions
    or writes it reads the rows on the driver. Values convert as
    ``createDataFrame`` converts a row list: naive datetimes are local
    wall-clock time, decimals are rounded to the column's scale. Only for
    driver-resident row lists, which are small by construction; a list
    above ``spark.sql.execution.arrow.localRelationThreshold`` bytes is
    not planned as a ``LocalRelation``."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    rows = list(rows)
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one star-schema table. Parquet scan: pushdown + pruning are free.

    The schema comes from the process's schema cache when the input's
    signature (``(size, mtime_ns, inode)`` of each of its files) matches
    the cached one; otherwise it is inferred, as ``spark.read.parquet``
    does, and the entry for the path replaced. ``ensure_runtime_confs``
    runs first on both paths, so ``nanosAsLong`` has the same value at
    inference and at read time."""
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; known: {TABLES}")
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{table}.parquet")
    sig = _signature(path)
    cached = _SCHEMA_CACHE.get(path)
    if cached is not None and cached[0] == sig:
        schema = cached[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        if sig is not None:
            _SCHEMA_CACHE[path] = (sig, schema)
    if table == "events" and isinstance(schema["ts"].dataType, T.LongType):
        # TIMESTAMP(NANOS) read as long via nanosAsLong; truncate to micros
        # (matches DuckDB's NS->US cast semantics).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# input path -> (signature, schema Spark inferred for it); see the module
# docstring.
_SCHEMA_CACHE: dict[str, tuple[tuple, T.StructType]] = {}


def _input_files(path: str) -> list[str]:
    """The files of one table input: the file itself, or every file under a
    partitioned directory (``key=value`` dirs nest them), sorted."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f) for d, _dirs, names in os.walk(path) for f in names
    )


def _signature(path: str) -> tuple | None:
    """``(file, size, mtime_ns, inode)`` of every file of the input, or None
    when it has none or one cannot be stat'ed."""
    try:
        sig = []
        for f in _input_files(path):
            st = os.stat(f)
            sig.append((f, st.st_size, st.st_mtime_ns, st.st_ino))
    except OSError:
        return None
    return tuple(sig) or None


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
            files = [f for f in _input_files(path) if f.endswith(".parquet")]
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
