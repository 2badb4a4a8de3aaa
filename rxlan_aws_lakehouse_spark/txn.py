"""Transactional table commits: manifest-pointer snapshot isolation.

The reference's gold load is transactional — Redshift stages the COPY and
commits it atomically (/root/reference/glue/bronze_to_silver_openweather.py:
134-148), so a concurrent BI query never sees half a load. Plain
``mode("overwrite")`` parquet gives up that property: the directory is
deleted, then refilled, and a reader in between sees a torn (or empty)
table. This module restores the Redshift guarantee with the mechanism
Delta/Iceberg use — immutable data files + an atomically published pointer:

    <root>/
      _versions/v00000001/        immutable parquet snapshot (+ _meta.json)
      _versions/v00000002/
      _log/_root                  names v00000001 (first commit)
      _log/v00000001              names v00000002 (its child)
      _LATEST                     hint: names the newest version

Writers build the NEXT version directory in full (data + metadata manifest),
then publish it with one put-if-absent of ``_log/<parent>`` naming it, as
Delta's commit log does. The store (``store.py``: local disk, or any
object store with a create-only PUT) refuses an existing name, so each
parent gets at most one child and a second writer on the same parent
loses with ``ConcurrentCommitError``. Readers take the version ``_LATEST``
names and follow ``_log`` forward until there is no entry; they resolve
either the old snapshot or the new one, never a mixture. Old snapshots
stay on disk until ``vacuum`` (readers that already resolved them keep
working: their files are never mutated).

``_LATEST`` is only a hint, replaced after each publish. Log entries are
never deleted, not even by ``vacuum`` (Delta keeps its log past VACUUM
too), so a hint that lags (its writer died after the entry landed) or
that a stalled writer moves back still walks forward to the head, and a
writer whose parent was superseded hits the winner's entry. The head is
checked before the put: an entry for a stale or never-published parent
would be one no reader reaches. A ``_LATEST`` written as a hard link to
its entry, or as a plain file with no ``_log/``, reads the same way, and
a leftover ``_LATEST.lock`` is ignored. Everything else — immutable
version dirs, manifest metadata, optimistic concurrency on the expected
parent version — is plain immutable-object IO, which is why the
upsert/compact logic below is written against snapshots, not paths.

Each snapshot's ``_meta.json`` records the partition spec, so operations
that rewrite the table (``merge_upsert``, ``compact``) re-apply it — a gold
table partitioned by dt/hour stays partitioned through every upsert.

Manifest metadata is SHARDED: ``_meta.json`` holds only O(1 + changed
files) core state (schema, lineage, shard index with per-shard fresh-file
lists), while per-file stats live in per-top-level-partition
``_shard-<key>.json`` fragments that unchanged commits carry by hard link.
Every operation derives its file sets from this manifest — committed data
directories are never listed — so commit cost scales with the change, not
the table (measured flat 200 -> 5000 files, tools/meta_probe.py).
"""

from __future__ import annotations

import base64
import datetime as _dt
import functools
import hashlib
import json
import os
import re
import shutil
import time
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .catalog import local_df
from .store import LOCAL, InMemoryStore, LocalStore

_VERSIONS = "_versions"
_DV_DIR = "_dv"  # per-version deletion-vector parquet dir (rel, row_index)
_CDF_DIR = "_cdf"  # per-version row-level change payload (Delta CDF shape)
_CHANGE_TYPE = "_change_type"  # insert | update_preimage | update_postimage | delete
_COMMIT_VERSION = "_commit_version"
_LATEST = "_LATEST"  # hint: names the newest version
_LOG = "_log"  # put-if-absent commit log: _log/<parent> names its child
_LOG_ROOT = "_root"  # the _log entry naming an empty table's first version
# commit(expect_parent=...) sentinel: "resolve the head at commit time"
# (None is a real value meaning "expect an empty table")
_CURRENT = object()
# extra_meta keys that are WATERMARKS, not per-commit annotations: each
# commit folds the parent's value forward when it doesn't set its own, so
# the live snapshot always carries the newest value and vacuuming old
# snapshots can never lose it (the exactly-once guards of the streaming
# sink and the incremental aggregate both depend on this surviving).
_WATERMARK_KEYS = ("streaming_epoch_id", "source_cursor")
# Fresh-file footer stats move from serial driver reads to a distributed
# Spark job once a commit writes at least this many files. Below it, one
# driver-side footer read per file is cheaper than a job round-trip.
_DIST_STATS_MIN_FILES = 64
_ROOT_SHARD = "root"
# A shard fragment growing past this many files splits into hash
# sub-shards, so commit IO stays ~changed-files even for tables with no
# (or giant) top-level partitions — the degeneracy round 4 left open:
# an unpartitioned table mapped everything to ONE "root" fragment that
# every commit rewrote in full. Splits are recorded in the snapshot meta
# (``split_shards``) so carried files keep a stable fragment assignment.
_SUBSHARD_MAX = 512
_SUBSHARD_BUCKETS = 64


def _link_or_copy(src: str, dst: str) -> None:
    """Carry a data file to ``dst`` by hard link, making its directory,
    with a copy fallback for EXDEV/EPERM. The carry paths that can cross
    TABLE roots (clone/convert/writer publish, the Delta mirror) may
    legitimately cross filesystems — e.g. a foreign table on disk
    converted into a TxnTable under tmpfs scratch — where a bare hard
    link fails outright. Intra-table links never take the fallback."""
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _stat_value(v):
    """Parquet-footer min/max -> (type_tag, JSON value), or None if the
    type is one we will not prune on. ISO-8601 strings order the same as
    the timestamps/dates they encode, so range compares stay lexical."""
    if isinstance(v, bool) or v is None:
        return None  # boolean ranges prune nothing useful
    if isinstance(v, (int, float)):
        return ("num", v)
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, bytes):
        try:
            return ("str", v.decode("utf-8"))
        except UnicodeDecodeError:
            return None
    if isinstance(v, _dt.datetime):
        return ("ts", v.isoformat(sep=" "))
    if isinstance(v, _dt.date):
        return ("date", v.isoformat())
    return None


def _coerce_literal(tag: str, lit):
    """A user predicate literal -> the stats domain for ``tag`` (None if
    incomparable, which disables pruning on that conjunct for the file)."""
    try:
        if tag == "num":
            return float(lit) if not isinstance(lit, bool) else None
        if tag == "str":
            return lit if isinstance(lit, str) else None
        if tag == "ts":
            if isinstance(lit, _dt.datetime):
                return lit.isoformat(sep=" ")
            if isinstance(lit, _dt.date):
                return _dt.datetime.combine(lit, _dt.time()).isoformat(sep=" ")
            return str(lit) if isinstance(lit, str) else None
        if tag == "date":
            if isinstance(lit, _dt.datetime):
                return lit.date().isoformat()
            if isinstance(lit, _dt.date):
                return lit.isoformat()
            return str(lit) if isinstance(lit, str) else None
    except (TypeError, ValueError):
        return None
    return None


def _file_column_stats(path: str) -> dict:
    """Footer-only per-file stats: rows + per-top-level-column min/max/nulls.

    The same metadata Iceberg manifests and Delta's stats JSON carry; read
    from the parquet footer (a few KB) rather than the data pages, so commit
    cost stays proportional to file COUNT. Columns whose footer lacks
    min/max in any row group are omitted (never pruned on).
    """
    # pyarrow.parquet is imported lazily (here and in the two sibling
    # sites): it costs ~200 ms cold, and this module is imported inside
    # every freshly spawned Python data-source worker, whose connect-back
    # deadline is a hard 10 s (guide §4 — keep spawn-time imports light)
    import pyarrow.parquet as _pq

    md = _pq.ParquetFile(path).metadata
    cols: dict[str, dict] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name or name in bad:
                continue
            st = c.statistics
            nulls = st.null_count if st is not None else None
            all_null = (
                st is not None and nulls is not None and nulls == g.num_rows
            )
            if st is None or nulls is None or not (st.has_min_max or all_null):
                bad.add(name)
                cols.pop(name, None)
                continue
            lo = _stat_value(st.min) if st.has_min_max else None
            hi = _stat_value(st.max) if st.has_min_max else None
            if not all_null and (lo is None or hi is None or lo[0] != hi[0]):
                bad.add(name)
                cols.pop(name, None)
                continue
            e = cols.setdefault(
                name, {"t": lo[0] if lo else None, "min": None, "max": None,
                       "nulls": 0}
            )
            e["nulls"] += nulls
            if lo is not None:
                if e["t"] is None:
                    e["t"] = lo[0]
                e["min"] = lo[1] if e["min"] is None else min(e["min"], lo[1])
                e["max"] = hi[1] if e["max"] is None else max(e["max"], hi[1])
    return {"rows": md.num_rows, "columns": cols}


_BLOOM_BITS_PER = 16  # bits per distinct value (~0.24% fpp at k=4)
_BLOOM_K = 4
_BLOOM_MAX_DISTINCT = 200_000  # per-file cap: above this, skip the bloom


def _bloom_canon(v) -> str | None:
    """Canonical hash key for a bloom-indexed value — int/str only (the
    merge/point-lookup key types); other types return None and are never
    bloom-pruned (conservative)."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, str):
        return f"s:{v}"
    return None


def _bloom_build(values) -> dict | None:
    """Per-file bloom over a column's distinct values. Sized at
    ``_BLOOM_BITS_PER`` bits/value (power-of-two m); md5-derived double
    hashing, engine/runtime-stable."""
    keys = set()
    for v in values:
        c = _bloom_canon(v)
        if c is not None:
            keys.add(c)
            if len(keys) > _BLOOM_MAX_DISTINCT:
                return None
    if not keys:
        return None
    tags = {c[0] for c in keys}  # canon prefix: "i" (int) or "s" (str)
    m = max(64, 1 << (len(keys) * _BLOOM_BITS_PER).bit_length())
    bits = bytearray(m // 8)
    for c in keys:
        d = hashlib.md5(c.encode("utf-8")).digest()
        h1 = int.from_bytes(d[:8], "big")
        h2 = int.from_bytes(d[8:], "big") | 1
        for j in range(_BLOOM_K):
            pos = (h1 + j * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)
    out = {
        "m": m,
        "k": _BLOOM_K,
        "b64": base64.b64encode(bytes(bits)).decode("ascii"),
    }
    # Key-type tag, stored IN the bloom at build time (round 8, ADVICE):
    # lets _bloom_literal_ok gate the probe even when the file has no
    # range stats for the column (previously such files could never be
    # bloom-pruned). Mixed-tag key sets (can't occur for a single parquet
    # column type) omit the tag -> probe stays disabled, conservative.
    if len(tags) == 1:
        out["t"] = "num" if tags == {"i"} else "str"
    return out


def _bloom_probe(bits: bytes, m: int, k: int, v) -> bool:
    """False ONLY when the bloom proves the value absent."""
    c = _bloom_canon(v)
    if c is None:
        return True
    d = hashlib.md5(c.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    for j in range(k):
        pos = (h1 + j * h2) % m
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _bloom_maybe_contains(bloom: dict, v) -> bool:
    return _bloom_probe(
        base64.b64decode(bloom["b64"]), bloom["m"], bloom["k"], v
    )


def _bloom_literal_ok(bloom: dict | None, st: dict | None, lit) -> bool:
    """Bloom keys are type-tagged (``i:``/``s:``), but Spark's equality
    casts across types — ``int_col = '7'`` matches rows whose bloom key is
    ``i:7``. Probe only when the literal's Python type agrees with the
    bloom's own key-type tag (stored at build time); blooms persisted
    before the tag existed fall back to the column's range-stats tag. Any
    mismatch or missing tag keeps the file (conservative). The range-stats
    path is already safe via ``_coerce_literal``."""
    if bloom is None or isinstance(lit, bool):
        return False
    t = bloom.get("t")
    if t is None and st is not None:
        t = st.get("t")
    if isinstance(lit, int):
        return t == "num"
    if isinstance(lit, str):
        return t == "str"
    return False


def _local_path(file_uri: str) -> str:
    """file:/... URI (as returned by input_file_name) -> local filesystem path."""
    p = urlparse(file_uri)
    return unquote(p.path) if p.scheme in ("file", "") else file_uri


def _shard_key(rel: str) -> str:
    """Base manifest shard for a file: its top-level partition directory,
    or the ``root`` shard for unpartitioned layouts. One shard per
    first-level partition keeps each manifest fragment proportional to ONE
    partition's file count, and lets partition predicates skip whole
    fragments unread. Shards past ``_SUBSHARD_MAX`` files split further by
    file-name hash (``_subshard_suffix``)."""
    head, _sep, tail = rel.partition(os.sep)
    return head if tail else _ROOT_SHARD


def _subshard_suffix(rel: str) -> str:
    """Deterministic hash bucket for a file within a split shard. Keyed on
    the file's relative path so the assignment is stable across commits —
    a carried file lands in the same sub-fragment its parent entry lives
    in, which is what lets unchanged sub-fragments carry by hard link."""
    h = int(hashlib.md5(rel.encode("utf-8")).hexdigest()[:8], 16)
    return f"{h % _SUBSHARD_BUCKETS:02x}"


def _file_entry(path: str, bloom_cols: tuple[str, ...] = ()) -> dict:
    """Per-file manifest entry: footer stats + on-disk size, plus a bloom
    filter per configured column (Delta bloom index / Iceberg bloom
    analogue). Blooms cost ONE column read per fresh file at commit —
    carried files keep theirs through the manifest — and buy point-lookup
    pruning that min/max cannot give on unclustered keys (a uniformly
    distributed key overlaps every file's range)."""
    e = _file_column_stats(path)
    e["bytes"] = os.path.getsize(path)
    if bloom_cols:
        import pyarrow.parquet as _pq

        pf = _pq.ParquetFile(path)
        present = [c for c in bloom_cols if c in pf.schema_arrow.names]
        blooms = {}
        for c in present:
            # Stream row-group batches: peak memory is one batch + the
            # distinct-key set (bounded by _BLOOM_MAX_DISTINCT inside
            # _bloom_build, which bails early once the cap is crossed) —
            # never the whole materialized column.
            values = (
                v
                for batch in pf.iter_batches(columns=[c])
                for v in batch.column(0).to_pylist()
            )
            bl = _bloom_build(values)
            if bl is not None:
                blooms[c] = bl
        if blooms:
            e["bloom"] = blooms
    return e


def _entries_for(
    paths: list[str],
    spark: SparkSession | None,
    bloom_cols: tuple[str, ...] = (),
) -> dict[str, dict]:
    """Manifest entries for freshly written files, keyed by absolute path.

    Small commits read footers serially in the driver (one ~KB read each);
    commits writing >= _DIST_STATS_MIN_FILES files fan the footer reads out
    as a Spark job (mapInPandas over the path list) so commit metadata cost
    stays flat in wall-clock as file count grows — the executor-side
    analogue of Iceberg collecting manifests from its write tasks.
    """
    # Footer-only stats are ~KB reads — serial is fine below 64 files.
    # With bloom_cols each entry READS A COLUMN and md5-hashes every
    # distinct value, so the distributed path pays off almost immediately
    # (measured: 32-file/2M-row commit 5.5s serial -> sub-second fanned).
    min_files = 4 if bloom_cols else _DIST_STATS_MIN_FILES
    if spark is not None and len(paths) >= min_files:
        import pandas as pd

        def compute(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "path": pdf["path"],
                        "entry": [
                            json.dumps(_file_entry(p, bloom_cols))
                            for p in pdf["path"]
                        ],
                    }
                )

        # footer-only: batch ~8 files per task (each is a KB read);
        # bloom builds: one file per task — the column read + hashing IS
        # the work, so parallelism should match file count
        n_slices = (
            min(256, len(paths))
            if bloom_cols
            else max(1, min(64, len(paths) // 8))
        )
        rows = (
            spark.createDataFrame([(p,) for p in paths], "path string")
            .repartition(n_slices)
            .mapInPandas(compute, "path string, entry string")
            .collect()
        )
        return {r["path"]: json.loads(r["entry"]) for r in rows}
    return {p: _file_entry(p, bloom_cols) for p in paths}


def _evolved_columns(
    parent: StructType, df: DataFrame, merge_schema: bool, op: str,
    generated: dict | None = None,
) -> list[str]:
    """Schema guard for operations that CARRY existing files: the snapshot
    schema a commit records is what every reader resolves, so a df missing
    a table column would silently hide that column for carried rows too.
    Validates df against the recorded table schema and returns the output
    column order (table columns first, then additive extras).

    GENERATED partition columns are exempt from the missing check —
    ``commit`` always re-derives them from their source column, so a
    caller supplying only the source is complete."""
    by_name = {f.name: f for f in df.schema.fields}
    gen = set(generated or ())
    missing = [
        f.name
        for f in parent.fields
        if f.name not in by_name and f.name not in gen
    ]
    if missing:
        raise ValueError(
            f"{op} is missing table columns {missing}; carried rows would"
            " silently lose them — supply every existing column"
        )
    changed = [
        f.name
        for f in parent.fields
        if f.name in by_name and by_name[f.name].dataType != f.dataType
    ]
    if changed:
        raise ValueError(
            f"{op} changes column types for {changed}; only additive"
            " evolution is supported"
        )
    have = {f.name for f in parent.fields}
    extra = [c for c in df.columns if c not in have]
    if extra and not merge_schema:
        raise ValueError(
            f"{op} has new columns {extra}; pass merge_schema=True to"
            " evolve the table schema additively"
        )
    # absent generated columns stay absent from the output order — commit
    # re-derives them for EVERY row, so carrying a stale copy from one
    # input branch while another lacks it would only invite divergence
    return [
        f.name
        for f in parent.fields
        if f.name in by_name or f.name not in gen
    ] + extra


def validate_merge_keys(
    rows: DataFrame,
    keys: list[str],
    delete_keys: DataFrame | None = None,
    name: str = "updates",
) -> None:
    """The MERGE input guard of every merge path — ``TxnTable``'s keyed
    verbs and the Delta and Iceberg mirrors' ``merge_delta`` /
    ``merge_iceberg`` — raised the way Delta raises it. Two ``rows`` with
    one key would BOTH land, silently duplicating the key, and a key in
    both ``rows`` and ``delete_keys`` has no single action. One skinny
    aggregate and one semi-join, each stopping at its first offender."""
    dup = (
        rows.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"cannot merge: duplicate merge keys in {name}, e.g. "
            f"{[dup[0][k] for k in keys]}; dedupe the {name} first"
        )
    if delete_keys is not None:
        both = (
            rows.select(*keys)
            .join(delete_keys.select(*keys), keys, "leftsemi")
            .limit(1)
            .collect()
        )
        if both:
            raise ValueError(
                f"cannot merge: key {[both[0][k] for k in keys]} appears "
                f"in both {name} and delete_keys; MERGE clauses must "
                "decide one action per row"
            )


def bind_foreign_dml(schema, set_map: dict = None, merge: dict = None):
    """Bind a foreign UPDATE's SET map or MERGE's inputs to a Delta or
    Iceberg table's logical ``schema``: the front half the mirrors'
    row-level verbs share. SET names resolve case-insensitively, each
    value becoming a Column. A MERGE (``updates``, ``keys``,
    ``delete_keys``) must name known keys, pass
    ``validate_merge_keys`` and carry exactly the table's columns; its
    updates are cast to the table types. Returns ``(set_exprs, mkeys,
    upd_src, dels_src, all_keys)``, the last four None/empty without a
    MERGE; ``all_keys`` is every distinct key the MERGE matches."""
    by_lower = {f.name.lower(): f for f in schema.fields}
    set_exprs = {}
    for k, v in (set_map or {}).items():
        fld = by_lower.get(str(k).lower())
        if fld is None:
            raise ValueError(f"cannot update: unknown column {k!r} in SET")
        set_exprs[fld.name] = F.expr(v) if isinstance(v, str) else v
    if merge is None:
        return set_exprs, [], None, None, None
    if not merge["keys"]:
        raise ValueError("cannot merge: empty key list")
    updates, delete_keys = merge["updates"], merge.get("delete_keys")
    up_cols = {c.lower() for c in updates.columns}
    mkeys = []
    for k in merge["keys"]:
        fld = by_lower.get(str(k).lower())
        if fld is None or fld.name.lower() not in up_cols:
            raise ValueError(f"cannot merge: unknown key column {k!r}")
        mkeys.append(fld.name)
    validate_merge_keys(updates, mkeys, delete_keys)
    missing = [f.name for f in schema.fields if f.name.lower() not in up_cols]
    extra = [c for c in updates.columns if c.lower() not in by_lower]
    if missing or extra:
        raise ValueError(
            "cannot merge: updates columns do not match the table schema "
            f"(missing {missing}, unexpected {extra}); merges do not "
            "evolve a foreign schema"
        )
    upd_src = updates.select(
        *(F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields)
    )
    dels_src = (
        None if delete_keys is None else delete_keys.select(*mkeys).distinct()
    )
    all_keys = upd_src.select(*mkeys)
    if dels_src is not None:
        all_keys = all_keys.unionByName(dels_src)
    return set_exprs, mkeys, upd_src, dels_src, all_keys.distinct()


def _conform(rows: DataFrame, cols: list[str], like: DataFrame) -> DataFrame:
    """Target ``rows`` in a merge's output ``cols``: a column only the
    update set ``like`` has (additive ``merge_schema`` evolution) reads
    as typed NULLs."""
    have = set(rows.columns)
    return rows.select(
        *[
            c if c in have else F.lit(None).cast(like.schema[c].dataType).alias(c)
            for c in cols
        ]
    )


def _changes(*parts: tuple[DataFrame, str]) -> DataFrame:
    """One row-level change payload (Delta CDF) from ``(rows, change
    type)`` parts, unioned in order."""
    return functools.reduce(
        DataFrame.unionByName,
        (rows.withColumn(_CHANGE_TYPE, F.lit(kind)) for rows, kind in parts),
    )


def _keyed_changes(
    keys: list[str],
    fresh: DataFrame,
    pre: DataFrame,
    gone: DataFrame | None = None,
) -> DataFrame:
    """The change payload of a keyed merge (copy-on-write, deletion
    vector, CDC): ``pre`` — the live target rows of updated keys — are
    the update pre-images; the rows of ``fresh`` whose key ``pre`` holds
    are the post-images, the rest inserts; ``gone`` — the live target
    rows of deleted keys — the deletes. Built from frames the merge
    already has in hand, so IO ∝ touched files, never the table."""
    matched = pre.select(*keys).distinct()
    parts = [
        (pre, "update_preimage"),
        (fresh.join(matched, keys, "leftsemi"), "update_postimage"),
        (fresh.join(matched, keys, "left_anti"), "insert"),
    ]
    if gone is not None:
        parts.append((gone, "delete"))
    return _changes(*parts)


def _set_image(schema: StructType, set_: dict, op: str, hit=None) -> list:
    """UPDATE's post-image: every column of ``schema``, each one ``set_``
    names replaced by its expression CAST TO THE COLUMN'S RECORDED TYPE —
    only on the rows ``hit`` holds for, when given. An UPDATE never
    changes a column's type, so the copy-on-write rewrite, the
    deletion-vector copies and both change-feed post-images agree. A
    column the schema lacks raises: new columns are schema evolution."""
    names = schema.fieldNames()
    bad = [c for c in set_ if c not in names]
    if bad:
        raise ValueError(
            f"{op} sets unknown columns {bad}; UPDATE cannot add columns — "
            "use merge_upsert(merge_schema=True) for additive evolution"
        )

    def image(c: str):
        value = set_[c].cast(schema[c].dataType)
        if hit is not None:
            value = F.when(hit, value).otherwise(F.col(c))
        return value.alias(c)

    return [image(c) if c in set_ else F.col(c) for c in names]

def _relax_added(schema: StructType, parent: StructType) -> StructType:
    """Relax columns ADDED relative to ``parent`` to nullable in the
    RECORDED schema, regardless of the df's own nullability (e.g. a
    lit() default is non-null): a carrying commit's old files read an
    added column as NULL — that is the additive-evolution contract — and
    a reader that honors the recorded schema verbatim
    (sources/txn_source.py) would otherwise emit NULLs under a
    non-nullable field, a codegen NullPointerException. Metadata-only:
    the fresh parquet files keep their tight nullability."""
    have = {f.name for f in parent.fields}
    return StructType(
        [
            f
            if f.name in have
            else StructField(f.name, f.dataType, True, f.metadata)
            for f in schema.fields
        ]
    )


# ---------------------------------------------------------------------
# Id-based column mapping (Delta ``columnMapping.mode=name`` / Iceberg
# field ids): the manifest's recorded schema keeps LOGICAL names; a
# ``column_mapping`` table property maps each logical field to a stable
# field id and the FROZEN physical name its data carries in parquet
# footers, directory names, stats keys and blooms. Activated lazily by
# the first metadata-only RENAME/DROP COLUMN; before that, nothing on
# disk or in manifests changes. With the mapping active:
#   * writers rename logical -> physical just before the parquet write;
#   * readers scan under the PHYSICAL schema and alias back to logical;
#   * prune predicates and bloom keys translate at the manifest boundary;
#   * RENAME COLUMN / DROP COLUMN become pure metadata commits — on a
#     100 TB table, the difference between a rename being available and
#     a full-table rewrite (r11 verdict task 1; the reference's fixed
#     Redshift DDL, /root/reference/init.sql:1-17, is the analogue).
# ``used_phys`` records every physical name EVER assigned, so a column
# re-added after a drop gets a fresh physical name and the dropped
# column's bytes in carried files can never resurrect.


def _cm_fields(cm: dict | None) -> dict:
    """Column-mapping field map: lowercase logical name -> entry dict
    ``{"id": int, "physical": str}``. Empty when mapping is inactive."""
    return (cm or {}).get("fields") or {}


def _cm_divergent(cm: dict | None) -> bool:
    """True when any live field's physical name differs from its logical
    name — the state in which by-name readers/writers would be wrong."""
    return any(
        k != f["physical"].lower() for k, f in _cm_fields(cm).items()
    )


def _cm_phys(cm: dict | None, name: str) -> str:
    """Logical column name -> its on-disk physical name (identity for
    unmapped names: pre-activation columns, pseudo-columns, CDF cols)."""
    f = _cm_fields(cm).get(name.lower())
    return f["physical"] if f else name


def _cm_phys_schema(schema: StructType, cm: dict | None) -> StructType:
    """Recorded (logical) schema -> the physical schema parquet scans
    must use. Types, nullability, order and field metadata unchanged."""
    if not _cm_fields(cm):
        return schema
    return StructType(
        [
            StructField(
                _cm_phys(cm, f.name), f.dataType, f.nullable, f.metadata
            )
            for f in schema.fields
        ]
    )


_ALIAS_COL_CACHE: dict = {}


def _alias_cols(pairs: tuple) -> list:
    """``(physical, logical) -> [F.col(phys).alias(logical), ...]``,
    cached per SparkContext (guide §4 — the py4j boundary): unresolved
    Column expressions are immutable and plan-independent, and every
    ``F.col``/``alias`` costs a py4j roundtrip — the txn read path
    rebuilds the SAME projection for every scan of a table (measured
    324 roundtrips/pass at the _scan_files site alone on txn_sql_dml).
    Keyed on the live SparkContext so a restarted JVM never serves
    stale handles."""
    from pyspark import SparkContext

    ctx = SparkContext._active_spark_context
    if ctx is None:
        return [F.col(p).alias(c) for p, c in pairs]
    if len(_ALIAS_COL_CACHE) > 1024:  # distinct projections: bounded
        _ALIAS_COL_CACHE.clear()
    key = (id(ctx), pairs)
    cols = _ALIAS_COL_CACHE.get(key)
    if cols is None:
        cols = [F.col(p).alias(c) for p, c in pairs]
        _ALIAS_COL_CACHE[key] = cols
    return cols


def _cm_to_logical(
    df: DataFrame, schema: StructType, cm: dict | None
) -> DataFrame:
    """Alias a physical-named scan back to logical names — a pure
    projection, free in the plan. No-op when mapping is inactive."""
    if not _cm_divergent(cm):
        return df
    return df.select(
        *_alias_cols(
            tuple((_cm_phys(cm, f.name), f.name) for f in schema.fields)
        )
    )


def _cm_assign(cm: dict, logical: str) -> None:
    """Assign a NEW field id + collision-free physical name for a column
    appearing for the first time under an active mapping (ADD COLUMNS,
    additive merge_schema evolution). Mutates ``cm`` in place — callers
    pass a copy. The physical name reuses the logical spelling when that
    spelling was never a physical name before; otherwise it gets a
    ``__cm<id>`` suffix so bytes of a same-named DROPPED column in
    carried files stay invisible (Delta's col-<uuid> analogue)."""
    used = {p.lower() for p in cm.get("used_phys", ())}
    cm["max_id"] = int(cm.get("max_id", 0)) + 1
    fid = cm["max_id"]
    phys = logical
    while phys.lower() in used:
        phys = f"{logical}__cm{fid}"
        fid += 1
    cm.setdefault("fields", {})[logical.lower()] = {
        "id": cm["max_id"],
        "physical": phys,
    }
    cm.setdefault("used_phys", []).append(phys)


def _cm_copy(cm: dict | None) -> dict | None:
    """Deep-enough copy of a mapping dict (entries are flat)."""
    if not cm:
        return None
    return {
        "mode": cm.get("mode", "name"),
        "max_id": int(cm.get("max_id", 0)),
        "fields": {k: dict(v) for k, v in (cm.get("fields") or {}).items()},
        "used_phys": list(cm.get("used_phys") or []),
    }


def _cm_activate(schema: StructType) -> dict:
    """Fresh identity mapping over the current schema: every field keeps
    its spelling as the physical name, ids 1..n in field order — exactly
    Delta's ``columnMapping.mode=name`` upgrade of an existing table."""
    cm: dict = {"mode": "name", "max_id": 0, "fields": {}, "used_phys": []}
    for f in schema.fields:
        _cm_assign(cm, f.name)
    return cm


# ---------------------------------------------------------------------
# Generated partition columns (Delta generated columns / Iceberg hidden-
# partitioning transforms): a partition column DERIVED from a data column
# at write time, with predicate derivation at prune time so queries that
# filter the SOURCE column skip partitions without ever mentioning the
# derived one. Kinds: "day" / "month" (ISO strings — lexical order equals
# time order), "truncate[N]" (string prefix, monotonic), "bucket[N]"
# (crc32(str(v)) % N — equality-only). Both the write-side expression and
# the prune-side literal transform are implemented from the same spec, in
# Spark SQL and plain Python respectively, and pinned equal in tests.


def _gen_expr(kind: str, src: str):
    if kind == "day":
        return F.date_format(F.col(src), "yyyy-MM-dd")
    if kind == "month":
        return F.date_format(F.col(src), "yyyy-MM")
    if kind.startswith("truncate[") and kind.endswith("]"):
        n = int(kind[9:-1])
        return F.substring(F.col(src).cast("string"), 1, n)
    if kind.startswith("bucket[") and kind.endswith("]"):
        n = int(kind[7:-1])
        return F.pmod(
            F.crc32(F.col(src).cast("string")), F.lit(n)
        ).cast("string")
    raise ValueError(f"unknown generated-partition kind: {kind}")


def _gen_literal(kind: str, lit):
    """The prune-side twin of ``_gen_expr``: transform a predicate
    literal on the SOURCE column into the derived column's path-string
    domain. Returns None when the literal can't be transformed safely
    (conservative: no derived predicate, no pruning lost rows)."""
    import datetime as _dt
    import zlib

    if kind in ("day", "month"):
        width = 10 if kind == "day" else 7
        if isinstance(lit, (_dt.datetime, _dt.date)):
            s = lit.isoformat()
        elif isinstance(lit, str):
            s = lit
        else:
            return None
        s = s[:width]
        # must be a full ISO prefix for lexical order to equal time order
        return s if len(s) == width else None
    if kind.startswith("truncate[") and kind.endswith("]"):
        n = int(kind[9:-1])
        return str(lit)[:n] if isinstance(lit, (str, int)) else None
    if kind.startswith("bucket[") and kind.endswith("]"):
        n = int(kind[7:-1])
        if isinstance(lit, (str, int)) and not isinstance(lit, bool):
            return str(zlib.crc32(str(lit).encode("utf-8")) % n)
        return None
    return None


def _derive_generated_preds(generated: dict, predicates) -> list:
    """Expand a conjunctive triple list with the partition predicates the
    generated-column specs imply. day/month/truncate are monotonic
    (non-strict), so ranges carry with <,> RELAXED to <=,>= (two source
    values in one bucket straddle the strict bound); bucket carries
    equality only."""
    extra = []
    for name, spec in (generated or {}).items():
        kind, src = spec[0], spec[1]
        mono = kind in ("day", "month") or kind.startswith("truncate[")
        for col, op, lit in predicates:
            if col != src:
                continue
            if kind.startswith("bucket[") and op != "=":
                continue
            g = _gen_literal(kind, lit)
            if g is None:
                continue
            gop = op
            if mono and op == "<":
                gop = "<="
            elif mono and op == ">":
                gop = ">="
            extra.append((name, gop, g))
    return list(predicates) + extra


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this transaction's read and write."""


class VacuumProtectionError(RuntimeError):
    """Vacuum would remove snapshots an incremental consumer still needs."""


class ConstraintViolationError(RuntimeError):
    """Incoming rows violate a table CHECK constraint; the staged write
    was discarded before publish — the table is unchanged."""


class ChangeFeedUnavailableError(RuntimeError):
    """The requested version range contains a commit whose exact
    row-level changes were not recorded (the change feed was disabled
    when it ran, or the operation — overwrite/restore — rewrites
    arbitrary rows and records no change payload). The file-level
    ``read_changes`` feed remains available for the range."""


class PendingDeleteVectorsError(RuntimeError):
    """The operation reads data files directly (file-granular merge/CDC/
    compaction/point reads) and would resurrect rows a deletion vector
    suppresses. Call ``materialize_deletes()`` first."""


class TxnTable:
    """A parquet table with atomic commits and snapshot reads."""

    def __init__(
        self, root: str, store: LocalStore | InMemoryStore | None = None
    ):
        """``store`` holds the commit log and its hint (``store.py``);
        snapshots are read and written on disk under ``root``."""
        self.root = root
        self.store = store or LOCAL
        os.makedirs(os.path.join(root, _VERSIONS), exist_ok=True)

    # -- the commit log ---------------------------------------------------
    def _read_name(self, *parts: str) -> str | None:
        data = self.store.get(os.path.join(self.root, *parts))
        return None if data is None else data.decode().strip() or None

    def current_version(self) -> str | None:
        """The head: from the ``_LATEST`` hint, follow ``_log/<v>``
        until there is no entry."""
        head = self._read_name(_LATEST)
        while (nxt := self._read_name(_LOG, head or _LOG_ROOT)) is not None:
            head = nxt
        return head

    def _swap_pointer(self, version: str, expect: str | None) -> None:
        """Publish ``version`` as the child of ``expect`` (``None``: the
        first version): put-if-absent ``_log/<expect>``, then replace the
        hint. Raises ``ConcurrentCommitError`` when ``expect`` is not the
        head or another writer's entry on it landed first."""
        if self.current_version() != expect:
            raise ConcurrentCommitError(
                f"table advanced past {expect!r}; retry on the new snapshot"
            )
        try:
            self.store.put_if_absent(
                os.path.join(self.root, _LOG, expect or _LOG_ROOT), version
            )
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"another commit on {expect!r} landed first; retry on the "
                "new snapshot"
            ) from e
        self.store.put(os.path.join(self.root, _LATEST), version)

    def _next_version(self) -> str:
        # Max over the pointer AND existing version dirs: an orphaned slot
        # from a crashed commit must not permanently collide with the next
        # writer's rename.
        cur = self.current_version()
        n = int(cur[1:]) if cur else 0
        for v in os.listdir(os.path.join(self.root, _VERSIONS)):
            if v.startswith("v") and v[1:].isdigit():
                n = max(n, int(v[1:]))
        return f"v{n + 1:08d}"

    # -- metadata ---------------------------------------------------------
    # Manifest layout (sharded, Iceberg-style): the core ``_meta.json`` is
    # O(1 + changed files) — schema, lineage, and a shard index mapping each
    # top-level partition to its ``_shard-<key>.json`` fragment plus the
    # rels freshly written there this commit. Each fragment holds that
    # partition's full per-file stats. A commit touching 1 of N partitions
    # rewrites 1 fragment and hard-links the other N-1 — manifest IO scales
    # with the CHANGE, not the table.
    def _meta(self, version: str) -> dict:
        with open(os.path.join(self.root, _VERSIONS, version, "_meta.json")) as f:
            return json.load(f)

    def _shard_file(self, version: str, key: str) -> str:
        return os.path.join(
            self.root, _VERSIONS, version, f"_shard-{key}.json"
        )

    def _load_shard(self, version: str, key: str) -> dict[str, dict]:
        """One shard's ``{rel: {rows, bytes, columns}}`` manifest entries."""
        with open(self._shard_file(version, key)) as f:
            return json.load(f)["files"]

    def files(self, version: str | None = None) -> list[str]:
        """All data files (relative paths) in a snapshot, from the manifest
        alone — the data directory is never listed."""
        return sorted(self.file_entries(version))

    def file_entries(self, version: str | None = None) -> dict[str, dict]:
        """rel -> per-file manifest entry (rows/bytes/column stats) for a
        snapshot, merged across shards."""
        v = version or self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        out: dict[str, dict] = {}
        for key in self._meta(v)["shards"]:
            out.update(self._load_shard(v, key))
        return out

    def history(self) -> list[dict]:
        """Every renamed version slot, oldest first — INCLUDING staged
        WAP snapshots (``commit(publish=False)``) and slots orphaned by a
        lost pointer race, which were never live. Consumers that must see
        only what readers could ever have observed (e.g. the streaming
        epoch guard) walk ``lineage()`` instead."""
        vdir = os.path.join(self.root, _VERSIONS)
        out = []
        for v in sorted(os.listdir(vdir)):
            # skip in-flight .tmp-* staging dirs — only renamed slots count
            if not (v.startswith("v") and v[1:].isdigit()):
                continue
            meta_path = os.path.join(vdir, v, "_meta.json")
            if os.path.exists(meta_path):
                out.append(self._meta(v))
        return out

    def lineage(self) -> list[dict]:
        """The PUBLISHED ancestry: metas from the live pointer back to the
        root via parent links, newest first. Staged/orphaned slots are by
        construction unreachable — a snapshot appears here iff a reader
        could at some point have resolved it (or one of its descendants).
        Empty when the table has no live version. The walk stops where
        ``vacuum`` truncated history — watermark fold-forward keeps
        anything that matters (epoch ids, cursors) on the live head, so
        consumers never need the vacuumed tail."""
        out: list[dict] = []
        v = self.current_version()
        while v is not None:
            try:
                meta = self._meta(v)
            except FileNotFoundError:
                break  # ancestor vacuumed away
            out.append(meta)
            v = meta.get("parent")
        return out

    def version_at(self, ts_unix: float) -> str:
        """Version live AT wall-clock time ``ts_unix`` — the newest
        PUBLISHED snapshot whose commit time is <= the bound (Delta
        ``TIMESTAMP AS OF`` / Iceberg snapshot-at-timestamp semantics).
        Walks ``lineage()`` (published ancestry only: a staged WAP
        snapshot or lost-race orphan was never readable at ANY time, so
        it can't be the as-of answer). Raises if the bound predates the
        oldest retained snapshot — vacuumed history can't be travelled
        to, same contract as ``read(version=...)`` on a vacuumed id."""
        for meta in self.lineage():  # newest first
            if meta.get("committed_at_unix", float("inf")) <= ts_unix:
                return meta["version"]
        raise FileNotFoundError(
            f"no snapshot at or before unix time {ts_unix} "
            f"(history may be vacuumed) at {self.root}"
        )

    def read_at(self, spark: SparkSession, ts_unix: float) -> DataFrame:
        """Snapshot read AS OF a wall-clock timestamp: resolve
        ``version_at`` once, then the ordinary immutable-directory read."""
        return self.read(spark, self.version_at(ts_unix))

    # -- deletion vectors (round 8) ---------------------------------------
    def _dv_dir(self, version: str) -> str:
        return os.path.join(self.root, _VERSIONS, version, _DV_DIR)

    def _read_dv(self, spark: SparkSession, version: str) -> DataFrame:
        """The snapshot's deletion vector (``rel``, ``row_index``), read
        by its explicit file list: Spark skips a path whose name starts
        with ``_``, so reading the ``_dv`` directory itself logs "All
        paths were ignored" on every read."""
        d = self._dv_dir(version)
        return spark.read.parquet(
            *(
                os.path.join(d, n)
                for n in sorted(os.listdir(d))
                if n.endswith(".parquet")
            )
        )

    # -- CHECK constraints ------------------------------------------------
    def constraints(self, version: str | None = None) -> dict[str, str]:
        """name -> SQL boolean expression recorded on the snapshot."""
        v = version or self.current_version()
        if v is None:
            return {}
        return dict(self._meta(v).get("constraints") or {})

    def add_check_constraint(
        self,
        spark: SparkSession,
        name: str,
        expr: str,
        max_retries: int = 2,
    ) -> str:
        """Record a CHECK constraint as a table property (Delta
        ``ALTER TABLE ADD CONSTRAINT`` semantics): EXISTING data is
        validated first — one scan, the same one-time cost Delta pays —
        and every subsequent write is then enforced in-flight by
        ``commit``'s observe() counters at zero extra passes. The
        constraint lands as a metadata-only commit (files carried by
        reference), so it is itself transactional, versioned, and
        revertible via ``restore``. ANSI semantics: NULL passes."""

        def attempt() -> str:
            expect, schema = self._snapshot()
            cur = self.constraints(expect)
            if cur.get(name) == expr:
                return expect  # idempotent re-add
            pred = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
            bad = self.read(spark, expect).filter(~pred).limit(1).count()
            if bad:
                raise ConstraintViolationError(
                    f"existing rows violate CHECK {name} ({expr!r}); "
                    "constraint not added"
                )
            cur[name] = expr
            return self._commit_over(
                expect, local_df(spark, [], schema), "set_constraint",
                {"constraint_added": name}, metadata_only=True,
                constraints=cur,
            )

        return self._with_retries(attempt, max_retries)

    def drop_constraint(
        self, spark: SparkSession, name: str, max_retries: int = 2
    ) -> str:
        """Remove a CHECK constraint via a metadata-only commit."""

        def attempt() -> str:
            expect, schema = self._snapshot()
            cur = self.constraints(expect)
            if name not in cur:
                return expect
            del cur[name]
            return self._commit_over(
                expect, local_df(spark, [], schema), "set_constraint",
                {"constraint_dropped": name}, metadata_only=True,
                constraints=cur,
            )

        return self._with_retries(attempt, max_retries)

    # -- row-level change data feed (Delta CDF semantics) -----------------
    def _cdf_dir(self, version: str) -> str:
        return os.path.join(self.root, _VERSIONS, version, _CDF_DIR)

    def cdf_enabled(self, version: str | None = None) -> bool:
        v = version or self.current_version()
        return v is not None and bool(self._meta(v).get("cdf", False))

    def set_change_feed(
        self, spark: SparkSession, enabled: bool = True, max_retries: int = 2
    ) -> str:
        """Toggle the row-level change feed as a table property (Delta's
        ``delta.enableChangeDataFeed``): a metadata-only commit, files
        carried by reference. Once enabled, every merge/delete commit
        writes its EXACT row-level changes — pre/post images and deletes —
        as a ``_cdf`` payload beside the data; appends and initial commits
        record nothing (their inserts are derived from the fresh data
        files at read time, Delta's own zero-write-amplification
        contract). ``read_row_changes`` consumes the feed."""

        def attempt() -> str:
            expect, schema = self._snapshot()
            if bool(self._meta(expect).get("cdf", False)) == enabled:
                return expect  # idempotent
            return self._commit_over(
                expect, local_df(spark, [], schema), "set_cdf",
                metadata_only=True, cdf=enabled,
            )

        return self._with_retries(attempt, max_retries)

    def read_row_changes(
        self, spark: SparkSession, since: str | None, until: str | None = None
    ) -> DataFrame:
        """EXACT row-level changes between two snapshots (Delta
        ``table_changes`` shape): each row carries ``_change_type`` in
        {insert, update_preimage, update_postimage, delete} and
        ``_commit_version``. Unlike the file-grain ``read_changes``,
        rewritten-but-unchanged rows never appear and deletes DO — the
        feed a downstream CDC consumer can replay verbatim.

        IO is proportional to the CHANGE, never the table: merge/delete
        commits read their recorded ``_cdf`` payload (written once, by
        the job that already had the rows in hand — no second scan);
        appends derive inserts from their fresh data files (zero write
        amplification, Delta's insert-only contract); the initial
        snapshot reads as one batch of inserts; compaction /
        materialization / metadata commits contribute nothing (physical
        re-homes, no logical change). A changeful commit in the range
        that recorded no payload (feed disabled at the time, or an
        overwrite/restore, which rewrites arbitrary rows) raises
        ``ChangeFeedUnavailableError`` rather than guessing.

        SCHEMA EVOLUTION across the range reads under the RANGE-END
        version's schema (Delta CDF's contract): additive columns
        null-fill for earlier commits; a metadata-only RENAME between
        commits is resolved through the column mapping's PHYSICAL
        identity, so a payload written under the old logical name
        surfaces under the new one; columns dropped by the end version
        disappear from the feed. The schema-evolution commits
        themselves (add/rename/drop/widen) contribute no rows — no
        logical row changed.

        Same vacuum contract as ``read_changes``: consume before
        vacuuming past the range.
        """
        until = until or self.current_version()
        if until is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        lo = int(since[1:]) if since else 0
        hi = int(until[1:])
        end_meta = self._meta(until)
        end_cm = end_meta.get("column_mapping")
        end_schema = (
            StructType.fromJson(end_meta["schema"])
            if end_meta.get("schema")
            else None
        )
        phys_to_end = {
            _cm_phys(end_cm, f.name).lower(): f.name
            for f in (end_schema.fields if end_schema else [])
        }

        def to_end_names(b: DataFrame, vmeta: dict) -> DataFrame:
            """Normalize one branch to the RANGE-END schema: columns
            remap to the end logical names via physical identity,
            columns the end version dropped leave the feed, columns it
            added later null-fill — so the feed's shape is always
            end-schema + change metadata (identity projection when the
            schema never evolved — unchanged plans for ordinary
            tables)."""
            if end_schema is None:
                return b
            vcm = vmeta.get("column_mapping")
            have = {
                phys_to_end[p]: c
                for c in b.columns
                if c != _CHANGE_TYPE
                and (p := _cm_phys(vcm, c).lower()) in phys_to_end
            }
            if (
                len(have) == len(end_schema.fields)
                and set(have) == set(b.columns) - {_CHANGE_TYPE}
                and all(k == v for k, v in have.items())
            ):
                return b  # nothing renamed/dropped/added
            cols = [
                F.col(have[f.name]).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in end_schema.fields
            ]
            if _CHANGE_TYPE in b.columns:
                cols.append(F.col(_CHANGE_TYPE))
            return b.select(*cols)

        branches: list[DataFrame] = []
        for meta in self.history():
            v = meta["version"]
            if not (lo < int(v[1:]) <= hi):
                continue
            op = meta.get("operation")
            root = os.path.join(self.root, _VERSIONS, v)
            cdf_dir = os.path.join(root, _CDF_DIR)
            if os.path.isdir(cdf_dir):
                b = to_end_names(spark.read.parquet(cdf_dir), meta)
            elif op in (
                "compact",
                "materialize_deletes",
                "rewrite_layout",
                "set_constraint",
                "set_cdf",
                # schema evolution: metadata-only, no logical row change
                "add_columns",
                "widen_type",
                "rename_column",
                "drop_column",
            ):
                continue  # physical/metadata only: no logical change
            elif meta.get("parent") is None:
                # first snapshot (initial commit or clone): the whole
                # logical content, DV-applied, is one insert batch
                b = to_end_names(
                    self.read(spark, v).withColumn(
                        _CHANGE_TYPE, F.lit("insert")
                    ),
                    meta,
                )
            elif op == "append" or (
                # insert-only merge/CDC batch under an ENABLED feed: a
                # touching merge always writes a payload, so its absence
                # proves every fresh file holds only inserts — derive them
                bool(meta.get("cdf"))
                and op in (
                    "merge_upsert", "merge_upsert_dv", "apply_cdc",
                    "sync_full",
                )
            ):
                fresh = [
                    os.path.join(root, rel)
                    for info in meta["shards"].values()
                    for rel in info["fresh"]
                ]
                if not fresh:
                    continue
                vschema = StructType.fromJson(meta["schema"])
                vcm = meta.get("column_mapping")
                b = to_end_names(
                    _cm_to_logical(
                        spark.read.option("basePath", root)
                        .schema(_cm_phys_schema(vschema, vcm))
                        .parquet(*fresh),
                        vschema,
                        vcm,
                    ).withColumn(_CHANGE_TYPE, F.lit("insert")),
                    meta,
                )
            else:
                raise ChangeFeedUnavailableError(
                    f"{v} ({op}) recorded no row-level change payload; "
                    "enable the feed with set_change_feed() before such "
                    "commits, or consume the file-level read_changes feed"
                )
            branches.append(b.withColumn(_COMMIT_VERSION, F.lit(v)))
        if not branches:
            schema = (
                self.read(spark, until)
                .withColumn(_CHANGE_TYPE, F.lit(""))
                .withColumn(_COMMIT_VERSION, F.lit(""))
                .schema
            )
            return local_df(spark, [], schema)
        df = branches[0]
        for b in branches[1:]:
            # schema evolution across the range: earlier commits surface
            # later-added columns as typed NULLs
            df = df.unionByName(b, allowMissingColumns=True)
        return df

    def has_deletion_vectors(self, version: str | None = None) -> bool:
        v = version or self.current_version()
        return v is not None and os.path.isdir(self._dv_dir(v))

    def _require_no_dv(self, version: str, op: str) -> None:
        if os.path.isdir(self._dv_dir(version)):
            raise PendingDeleteVectorsError(
                f"{op} reads data files directly and the snapshot carries "
                "deletion vectors; run materialize_deletes() first"
            )

    @staticmethod
    def _rel_col(version: str):
        """File-relative path of each scanned row, derived from the hidden
        ``_metadata.file_path`` — strips everything through the version
        directory (first occurrence; version ids are ``v%08d``, never a
        partition value)."""
        return F.regexp_replace(
            F.col("_metadata.file_path"), f"^.*?/{version}/", ""
        )

    def _apply_dv(self, spark: SparkSession, df: DataFrame, version: str) -> DataFrame:
        """Merge-on-read: anti-join the scan against the snapshot's
        deletion vector on (file rel path, in-file row index). Costs one
        join only on DV-carrying snapshots; the DV is usually tiny
        relative to data (it holds keys of DELETED rows, not data), and
        AQE broadcasts it while it fits."""
        if not self.has_deletion_vectors(version):
            return df
        dv = self._read_dv(spark, version)
        cols = df.columns
        keyed = df.select(
            *cols,
            self._rel_col(version).alias("__dv_rel"),
            F.col("_metadata.row_index").alias("__dv_ri"),
        )
        return keyed.join(
            dv,
            (keyed["__dv_rel"] == dv["rel"])
            & (keyed["__dv_ri"] == dv["row_index"]),
            "left_anti",
        ).select(*cols)

    # -- read -------------------------------------------------------------
    def read(self, spark: SparkSession, version: str | None = None) -> DataFrame:
        """Snapshot read: resolve the pointer ONCE, then scan an immutable
        directory — later commits cannot tear this DataFrame.

        The scan uses the schema RECORDED AT COMMIT, not footer inference:
        planning never opens data files, each snapshot keeps exactly the
        schema it was committed with (time travel across schema evolution),
        and files written before a column was added read as typed NULLs for
        it — the additive-evolution contract of Delta's mergeSchema.

        Snapshots carrying deletion vectors (``delete_where_deferred``)
        apply them here via one anti-join — merge-on-read, Delta DV /
        Iceberg positional-delete semantics.
        """
        v = version or self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        data = os.path.join(self.root, _VERSIONS, v)
        try:
            meta = self._meta(v)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"version {v} not found at {self.root}"
            ) from None
        schema_json = meta.get("schema")
        schema = StructType.fromJson(schema_json) if schema_json else None
        cm = meta.get("column_mapping")

        # PARTITION EVOLUTION (Iceberg's spec-evolution, Hive-style): a
        # commit may change partition_by going forward; carried files keep
        # their old directory layout, so a snapshot can hold several
        # specs. Single-spec snapshots keep the whole-dir fast path;
        # mixed ones go through the grouped scan (see ``_scan_rels``).
        if len(self._spec_groups(v)) <= 1:
            reader = spark.read.option("basePath", data)
            if schema is not None:
                # scan under the PHYSICAL schema (what the footers and
                # partition dirs actually carry), alias back to logical
                # after the DV anti-join — a free projection
                reader = reader.schema(_cm_phys_schema(schema, cm))
            df = self._apply_dv(spark, reader.parquet(data), v)
            return (
                _cm_to_logical(df, schema, cm)
                if schema is not None
                else df
            )
        return self._scan_rels(spark, v, self.files(v), schema)

    @staticmethod
    def _spec_sig(rel: str) -> tuple[str, ...]:
        """Partition-spec signature of a data file: the ordered column
        names encoded in its directory path (empty for unpartitioned)."""
        return tuple(
            part.split("=", 1)[0]
            for part in rel.split("/")[:-1]
            if "=" in part
        )

    def _spec_groups(
        self, version: str
    ) -> dict[tuple[str, ...], list[str]]:
        groups: dict[tuple[str, ...], list[str]] = {}
        for rel in self.files(version):
            groups.setdefault(self._spec_sig(rel), []).append(rel)
        return groups

    def _scan_files(
        self,
        spark: SparkSession,
        version: str,
        rels: list[str],
        schema: StructType | None,
        file_col: str | None = None,
        meta_cols: bool = False,
    ) -> DataFrame:
        """Spec-evolution-safe RAW scan of an explicit file list: one scan
        per partition-spec group (that group's partition columns come from
        the path; every other column is in the data — the write path only
        ever omits a file's OWN spec columns from its data), unioned by
        name under the recorded schema. Grouping costs zero IO — it reads
        the manifest rel paths already in hand; single-spec lists collapse
        to one ordinary scan. No deletion-vector application (writers
        manage deletes themselves; readers use ``_scan_rels``).

        ``file_col``: bind ``input_file_name()`` under that alias.
        ``meta_cols``: bind ``__rel`` (file-relative path) and ``__ri``
        (in-file row index) from ``_metadata``. Both are bound INSIDE each
        group scan — ``_metadata`` is a per-scan pseudo-column that does
        not survive a union."""
        data = os.path.join(self.root, _VERSIONS, version)
        cm = self._meta(version).get("column_mapping")
        groups: dict[tuple[str, ...], list[str]] = {}
        for rel in rels:
            groups.setdefault(self._spec_sig(rel), []).append(rel)
        base_cols = list(schema.fieldNames()) if schema is not None else None
        scans = []
        for grels in groups.values():
            reader = spark.read.option("basePath", data)
            if schema is not None:
                reader = reader.schema(_cm_phys_schema(schema, cm))
            scan = reader.parquet(*(os.path.join(data, r) for r in grels))
            extra = []
            if file_col:
                extra.append(F.input_file_name().alias(file_col))
            if meta_cols:
                extra.append(self._rel_col(version).alias("__rel"))
                extra.append(F.col("_metadata.row_index").alias("__ri"))
            if base_cols is not None:
                # physical -> logical aliasing rides the same projection
                # that binds the _metadata extras (mapping-inactive: a
                # plain column select, unchanged); Column handles cached
                # per projection (guide §4, see _alias_cols)
                scan = scan.select(
                    *_alias_cols(
                        tuple((_cm_phys(cm, c), c) for c in base_cols)
                    ),
                    *extra,
                )
            elif extra:
                scan = scan.select("*", *extra)
            scans.append(scan)
        out = scans[0]
        for s in scans[1:]:
            out = out.unionByName(s)
        return out

    def _scan_rels(
        self,
        spark: SparkSession,
        version: str,
        rels: list[str],
        schema: StructType | None,
    ) -> DataFrame:
        """Reader-side grouped scan: ``_scan_files`` plus the snapshot's
        deletion vector, anti-joined ONCE post-union on the per-group
        ``__rel``/``__ri`` bindings. This is what makes spec evolution a
        metadata-only commit at 100 TB: history keeps its layout, new
        data gets the new one, and predicates on a new spec column still
        prune old files through their column stats."""
        if not self.has_deletion_vectors(version):
            return self._scan_files(spark, version, rels, schema)
        return self._live_scan(spark, version, rels, schema).drop(
            "__rel", "__ri"
        )

    def register(
        self,
        spark: SparkSession,
        name: str,
        version: str | None = None,
        analyze_columns: tuple[str, ...] = (),
    ) -> DataFrame:
        """Register a snapshot as a catalog table WITH CBO statistics, so
        Catalyst's cost-based optimizer sees real row counts (and, for
        ``analyze_columns``, min/max/ndv) instead of riding the 10 MB
        ``autoBroadcastJoinThreshold`` default at every scale (r7 verdict
        task 4 — the Delta/Iceberg "table statistics surface" analogue).

        Mechanics: an external parquet table pinned to the IMMUTABLE
        version directory (snapshot isolation survives registration —
        later commits write new dirs and never touch this one), created
        with the schema RECORDED AT COMMIT (evolved snapshots read old
        files as typed NULLs, same as ``read``), then ``ANALYZE TABLE``:

          * ``COMPUTE STATISTICS`` — rowCount + sizeInBytes. Parquet
            answers the count from footers, so cost stays proportional
            to file COUNT, not data size.
          * ``FOR COLUMNS`` on ``analyze_columns`` — min/max/ndv/nulls,
            what FilterEstimation needs to shrink a post-filter size
            estimate below the broadcast threshold. This DOES scan the
            named columns: spend it on dimension-scale tables (the side
            a broadcast decision is about), never the fact.

        The catalog rowCount is cross-checked against the manifest's own
        per-file row totals — a free integrity gate that also catches
        misregistration (e.g. a hive-partitioned snapshot whose files an
        unpartitioned external table would silently miss).
        """
        v = version or self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        # an external table scans the raw files: it cannot apply a
        # pending deletion vector and would expose suppressed rows
        self._require_no_dv(v, "register")
        if _cm_divergent(self._meta(v).get("column_mapping")):
            # a flat external parquet table binds the files' PHYSICAL
            # names; after a metadata-only rename those differ from the
            # logical schema — query via read()/format('txn'), which
            # resolve the mapping
            raise ValueError(
                "register() cannot expose a column-mapped snapshot whose "
                "physical names diverge (a rename happened); query via "
                "read()/format('txn'), or rewrite_layout() to materialize"
            )
        if len(self._spec_groups(v)) > 1:
            # Hive partition discovery over one directory cannot mix
            # layouts; every other path (read/read_pruned/merge/delete/
            # format("txn")) handles evolved snapshots natively
            raise ValueError(
                "register() needs a single partition spec; the snapshot "
                "mixes specs after partition evolution — run compact() or "
                "rewrite_layout() to migrate history, or query via "
                "read()/format('txn')"
            )
        entries = self.file_entries(v)
        data = os.path.join(self.root, _VERSIONS, v)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        schema_json = self._meta(v).get("schema")
        kwargs = {"path": data, "source": "parquet"}
        if schema_json:
            kwargs["schema"] = StructType.fromJson(schema_json)
        spark.catalog.createTable(name, **kwargs)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        if analyze_columns:
            cols = ", ".join(f"`{c}`" for c in analyze_columns)
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
        manifest_rows = sum(e.get("rows", 0) for e in entries.values())
        stats_line = next(
            (
                r.data_type
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
                if r.col_name == "Statistics"
            ),
            "",
        )
        m = re.search(r"(\d+)\s+rows", stats_line)
        catalog_rows = int(m.group(1)) if m else -1
        if catalog_rows != manifest_rows:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            raise ValueError(
                f"registered rowCount {catalog_rows} != manifest total "
                f"{manifest_rows} for {self.root}@{v} — snapshot layout "
                "not representable as a flat external table"
            )
        return spark.table(name)

    # -- stats-based file skipping ---------------------------------------
    @staticmethod
    def _file_prunable(entry: dict, rel: str, predicates) -> bool:
        """True if the manifest PROVES no row of this file can satisfy the
        conjunction. Conservative: unknown columns/types never prune."""
        cols = entry.get("columns", {})
        rows = entry.get("rows", 0)
        if predicates and entry.get("rows") == 0:
            # empty file (writer artifact): no predicate can match.
            # Keyed on the RECORDED rows being exactly 0 — the shard-
            # level probe passes {} (no stats at all) and must never
            # prune on absence alone.
            return True
        parts = dict(
            seg.split("=", 1) for seg in rel.split(os.sep)[:-1] if "=" in seg
        )
        for col, op, lit in predicates:
            if col in parts:
                v = unquote(parts[col])
                if v == "__HIVE_DEFAULT_PARTITION__":
                    return True  # null partition: comparisons match nothing

                def empty(a, b):
                    return (
                        (op == "=" and a != b)
                        or (op == "<" and a >= b)
                        or (op == "<=" and a > b)
                        or (op == ">" and a <= b)
                        or (op == ">=" and a < b)
                    )

                # Partition-type inference is global (over dirs this file
                # can't see), so the comparison semantics are ambiguous
                # from one path alone. Prune only when EVERY plausible
                # semantic proves the file empty: lexical for string
                # literals, numeric whenever both sides parse. A numeric
                # literal against a non-numeric dir value casts to null in
                # Spark -> no row matches -> prunable.
                if isinstance(lit, str):
                    verdicts = [empty(v, lit)]
                    try:
                        verdicts.append(empty(float(v), float(lit)))
                    except (TypeError, ValueError):
                        pass
                    if all(verdicts):
                        return True
                elif isinstance(lit, (int, float)) and not isinstance(
                    lit, bool
                ):
                    try:
                        if empty(float(v), float(lit)):
                            return True
                    except (TypeError, ValueError):
                        return True
                continue
            st = cols.get(col)
            if op == "=" and _bloom_literal_ok(
                entry.get("bloom", {}).get(col), st, lit
            ):
                # Probe BEFORE the range-stats gates (round 8): a file
                # with a bloom but no usable min/max is still prunable.
                # Probe with the RAW literal: blooms hash the column's
                # native Python values (int/str); the float-coerced stats
                # literal would canon to None and disable the probe. The
                # type gate (bloom's own key-type tag) keeps cross-typed
                # equality (int literal on a string column and vice versa
                # — Spark casts, bloom keys don't) from falsely proving
                # files absent.
                if not _bloom_maybe_contains(
                    entry["bloom"][col], lit
                ):
                    return True  # bloom PROVES the value absent
            if st is None:
                continue
            if st["nulls"] == rows and rows > 0:
                return True  # all-null file: no comparison can match
            if st["min"] is None or st["max"] is None:
                continue
            lo, hi = st["min"], st["max"]
            cl = _coerce_literal(st["t"], lit)
            if cl is None:
                continue
            if (
                (op == "=" and (cl < lo or cl > hi))
                or (op == "<" and lo >= cl)
                or (op == "<=" and lo > cl)
                or (op == ">" and hi <= cl)
                or (op == ">=" and hi < cl)
            ):
                return True
        return False

    @staticmethod
    def _file_matches_any(entry: dict, col: str, values) -> bool:
        """Disjunctive point probe: may this file contain ANY of
        ``values`` in ``col``? Range stats first, bloom second; unknown
        stats or non-bloomable values keep the file (conservative)."""
        st = entry.get("columns", {}).get(col)
        bl = entry.get("bloom", {}).get(col)
        rows = entry.get("rows", 0)
        if rows == 0:
            return False  # empty file (writer artifact): nothing matches
        if st is not None and st["nulls"] == rows:
            return False  # all-null file: equality never matches
        # decode the bitset ONCE per file, probe per value — an IN-list
        # of 128 keys against a 10^5-file manifest stays metadata-cheap
        bits = base64.b64decode(bl["b64"]) if bl is not None else None
        for v in values:
            if st is not None and st["min"] is not None:
                cl = _coerce_literal(st["t"], v)
                if cl is not None and (cl < st["min"] or cl > st["max"]):
                    continue
            if (
                bits is not None
                and _bloom_literal_ok(bl, st, v)
                and not _bloom_probe(bits, bl["m"], bl["k"], v)
            ):
                continue
            return True
        return False

    def pruned_files(
        self, predicates, version: str | None = None
    ) -> tuple[list[str], int]:
        """Manifest-only file skipping: relative paths of the files a scan
        with ``predicates`` (conjunctive ``(col, op, literal)`` triples,
        ops ``= < <= > >=``) must read, plus the snapshot's total file
        count. Pure metadata — no data IO, no Spark job."""
        v = version or self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        meta = self._meta(v)
        # hidden-partitioning derivation: predicates on a generated
        # column's SOURCE imply partition predicates on the column itself
        # — a ts range prunes dt dirs the query never mentioned
        predicates = _derive_generated_preds(
            meta.get("generated"), predicates
        )
        # logical -> physical at the manifest boundary: stats keys, bloom
        # keys and partition dirs all carry physical names
        cm = meta.get("column_mapping")
        if _cm_fields(cm):
            predicates = [
                (_cm_phys(cm, c), op, lit) for (c, op, lit) in predicates
            ]
        kept: list[str] = []
        for key, info in meta["shards"].items():
            # Shard-level pruning: a partition predicate that proves the
            # shard's partition dir empty skips the whole fragment UNREAD —
            # metadata IO proportional to surviving partitions, the same
            # property Iceberg gets from manifest-level partition summaries.
            # Sub-sharded fragments prune on their recorded BASE partition.
            base = info.get("base", key)
            if base != _ROOT_SHARD and self._file_prunable(
                {}, os.path.join(base, "_"), predicates
            ):
                continue
            entries = self._load_shard(v, key)
            kept.extend(
                rel
                for rel in sorted(entries)
                if not self._file_prunable(entries[rel], rel, predicates)
            )
        return kept, meta["n_files"]

    def pruned_files_in(
        self, col: str, values, version: str | None = None
    ) -> tuple[list[str], int]:
        """Manifest-only DISJUNCTIVE point skipping: files that may
        contain ANY of ``values`` in ``col`` — the IN-list / merge-key
        shape. Range stats apply per value; per-file blooms (when the
        table records ``bloom_cols``) prune even when every file's
        [min, max] spans the key space, which is exactly the unclustered-
        key case where range stats are useless. Pure metadata.

        Callers that READ the returned files directly (instead of going
        through ``read``/``read_pruned``, which apply deletion vectors)
        must first check ``has_deletion_vectors()`` — a raw per-file read
        under a pending vector re-exposes suppressed rows (the same
        reason the file-granular writers refuse)."""
        v = version or self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        meta = self._meta(v)
        col = _cm_phys(meta.get("column_mapping"), col)
        vals = list(values)
        kept: list[str] = []
        for key in meta["shards"]:
            entries = self._load_shard(v, key)
            kept.extend(
                rel
                for rel in sorted(entries)
                if self._file_matches_any(entries[rel], col, vals)
            )
        return sorted(kept), meta["n_files"]

    def read_pruned(
        self, spark: SparkSession, predicates, version: str | None = None
    ) -> DataFrame:
        """Snapshot read that skips every file whose manifest min/max range
        proves it irrelevant (Iceberg/Delta data skipping), then applies
        ``predicates`` as real row filters — pruning is an IO optimization,
        never the correctness boundary. On a 100 TB time-partitioned table
        a day-range predicate turns the scan's file list from the whole
        manifest into one day's files before Spark plans a single task.

        A table whose files are clustered on the predicate columns (see
        ``commit(sort_within=...)`` / ``ops.zorder``) skips most; a random
        layout skips little — same contract as any min/max index.
        """
        v = version or self.current_version()
        kept, _total = self.pruned_files(predicates, v)
        data = os.path.join(self.root, _VERSIONS, v)
        # The kept files scan under the RECORDED snapshot schema, exactly
        # like read(): after additive evolution a pruned read whose kept
        # files all predate the new column must still expose it (as typed
        # NULLs), or predicates on it would fail to resolve.
        schema_json = self._meta(v).get("schema")
        schema = StructType.fromJson(schema_json) if schema_json else None
        if not kept:
            df = local_df(
                spark, [], schema if schema else self.read(spark, v).schema
            )
        else:
            # grouped scan: kept files may span partition specs after an
            # evolution; DV entries for pruned-away files simply never
            # match the anti-join — pruning stays an IO bound, deletes
            # stay applied
            df = self._scan_rels(spark, v, kept, schema)
        ops = {
            "=": lambda c, x: c == x,
            "<": lambda c, x: c < x,
            "<=": lambda c, x: c <= x,
            ">": lambda c, x: c > x,
            ">=": lambda c, x: c >= x,
        }
        for col, op, lit in predicates:
            df = df.filter(ops[op](F.col(col), F.lit(lit)))
        return df

    # -- write ------------------------------------------------------------
    def commit(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
        operation: str = "overwrite",
        carry_files: dict[str, str] | None = None,
        carry_resolver=None,
        extra_meta: dict | None = None,
        carry_entries: dict[str, dict] | None = None,
        publish: bool = True,
        carry_src: str | None = None,
        bloom_cols: list[str] | None = None,
        expect_parent=_CURRENT,
        aux_writer=None,
        carry_dv: bool = True,
        metadata_only: bool = False,
        constraints: dict[str, str] | None = None,
        cdf: bool | None = None,
        generated: dict[str, tuple[str, str]] | None = None,
        column_mapping: dict | None = None,
    ) -> str:
        """Write ``df`` as a new snapshot and atomically publish it.

        ``extra_meta`` rides in the snapshot manifest under ``"extra"`` —
        application state that must commit ATOMICALLY with the data (e.g.
        an incremental consumer's source cursor: state and cursor can never
        disagree, the exactly-once trick streaming sinks use by writing
        offsets into the transaction).

        ``partition_by`` defaults to the previous snapshot's spec, so the
        physical layout survives rewrites without every caller restating it.

        ``carry_files`` maps relative paths -> absolute source paths of
        parquet files from a previous snapshot to carry over BY REFERENCE
        (hard link, no data copy) — how ``merge_upsert`` leaves untouched
        files alone. On an object store the link becomes a manifest entry
        pointing at the original object (Delta/Iceberg never copy carried
        files either); locally a hard link gives the same economy with a
        plain-directory reader. ``carry_resolver`` computes that map AFTER
        the dataframe write, from the staging directory's contents —
        needed when the carried set depends on what was written (e.g.
        which partitions ``df`` actually produced) without re-executing
        ``df``'s plan.

        ``carry_src`` names the snapshot the carried files were resolved
        FROM. When it equals the parent being committed against, an
        unchanged shard may carry its manifest fragment by hard link
        (equal counts prove equal sets only within one snapshot); a carry
        from any OTHER snapshot — ``restore`` carries an old version's
        files, ``clone_to`` another table's — always rebuilds fragments,
        because an old shard and the head's can share a file count while
        listing different files.

        Crash/race safety: everything is written into a unique ``.tmp-*``
        staging dir and renamed into the version slot. A writer that loses
        the rename race only ever deletes its OWN staging dir — a committed
        (possibly pointer-referenced) snapshot written by the winner is
        never touched. The pointer swap then re-checks the expected parent
        (optimistic concurrency).

        ``expect_parent`` is the snapshot the caller DERIVED this commit
        from (touched-file discovery, carry set, kept rows). Passing it
        makes the CAS catch a concurrent commit that landed while the
        caller was computing: committing against the NEW head with state
        read from the OLD one would silently drop the concurrent writer's
        rows (the carry set still references superseded files). Every
        read-modify-write operation (merge/append/delete/cdc/compact)
        passes its snapshot; whole-table replacements (overwrite,
        restore, clone) keep the default — resolve the head at commit,
        last-writer-wins, since they carry nothing forward from it.
        """
        expect = (
            self.current_version()
            if expect_parent is _CURRENT
            else expect_parent
        )
        parent_meta = self._meta(expect) if expect is not None else {}
        if partition_by is None and expect is not None:
            partition_by = parent_meta.get("partition_by") or None
        # Generated partition columns are a TABLE PROPERTY (Delta
        # generated columns): set on the defining commit, inherited by
        # every later one, ALWAYS re-derived from the source column —
        # the write cannot disagree with the prune-side literal
        # transform, and callers never materialize the column themselves.
        if generated is None:
            generated = parent_meta.get("generated") or {}
        if generated and not metadata_only:
            for gname, gspec in generated.items():
                gkind, gsrc = gspec[0], gspec[1]
                if gsrc in df.columns:
                    df = df.withColumn(gname, _gen_expr(gkind, gsrc))
            if partition_by is None:
                partition_by = list(generated)
            missing = [g for g in generated if g not in partition_by]
            if missing:
                raise ValueError(
                    f"generated columns {missing} must be in partition_by"
                )
        # bloom_cols is a TABLE PROPERTY: set once (first commit or an
        # explicit pass), inherited by every later commit like the
        # partition spec — fresh files get blooms, carried files keep
        # theirs through the manifest fragments.
        if bloom_cols is None:
            bloom_cols = parent_meta.get("bloom_cols") or []
        # constraints is a TABLE PROPERTY like bloom_cols: set by
        # add_check_constraint (or the first commit), inherited by every
        # later commit unless explicitly replaced ({} passes verbatim)
        if constraints is None:
            constraints = parent_meta.get("constraints") or {}
        # change-data-feed flag is a table property too (Delta's
        # delta.enableChangeDataFeed): inherited unless explicitly set
        if cdf is None:
            cdf = bool(parent_meta.get("cdf", False))
        # column mapping is a TABLE PROPERTY like the others: inherited
        # unless explicitly passed ({} passes "no mapping" verbatim —
        # restore/clone use that to reinstate a pre-mapping snapshot).
        # Copied before any mutation: _meta re-reads JSON but callers may
        # hold references to what they passed in.
        if column_mapping is None:
            column_mapping = parent_meta.get("column_mapping")
        column_mapping = _cm_copy(column_mapping)
        if column_mapping:
            # additive evolution under an active mapping: any df column
            # the mapping has never seen gets a fresh id + a physical
            # name guaranteed never to collide with a dropped column's
            # bytes in carried files (ADD COLUMNS and merge_schema both
            # funnel through here)
            for f in df.schema.fields:
                if f.name.lower() not in column_mapping["fields"]:
                    _cm_assign(column_mapping, f.name)
        # Watermark fold-forward (see _WATERMARK_KEYS): interleaved
        # commits that don't set their own value inherit the parent's, so
        # the newest epoch/cursor always rides the LIVE snapshot — O(1) to
        # find, and immune to vacuuming the commit that first recorded it.
        extra = dict(extra_meta or {})
        parent_extra = parent_meta.get("extra", {})
        for wk in _WATERMARK_KEYS:
            if wk not in extra and wk in parent_extra:
                extra[wk] = parent_extra[wk]
        staging = os.path.join(
            self.root, _VERSIONS, f".tmp-{os.getpid()}-{time.time_ns()}"
        )
        out = df.sortWithinPartitions(*sort_within) if sort_within else df
        # CHECK-constraint enforcement in ONE pass (Delta invariant-check
        # analogue): per-constraint violation counters ride the write job
        # itself as observe() metrics — no second evaluation of df's plan,
        # no extra scan at any scale. A violation is detected AFTER the
        # parquet lands in the staging dir but BEFORE the rename/publish,
        # so the staged write is simply discarded: enforcement is
        # transactional by construction. ANSI CHECK semantics: a NULL
        # constraint result passes (only definite FALSE counts).
        obs: Observation | None = None
        if constraints and not metadata_only:
            obs = Observation(f"chk-{time.time_ns()}")
            out = out.observe(
                obs,
                *(
                    F.sum(
                        F.when(
                            ~F.coalesce(
                                F.expr(e).cast("boolean"), F.lit(True)
                            ),
                            F.lit(1),
                        ).otherwise(F.lit(0))
                    ).alias(n)
                    for n, e in sorted(constraints.items())
                ),
            )
        # Under an active mapping the parquet files carry PHYSICAL names:
        # a pure projection after the observe node (constraints evaluate
        # on logical names), so fresh files agree with every carried file
        # regardless of renames in between. Directories partition by the
        # physical spelling too — the directory layout never changes
        # across renames, which is what keeps rename metadata-only.
        if _cm_divergent(column_mapping) and not metadata_only:
            out = out.select(
                *(
                    F.col(c).alias(_cm_phys(column_mapping, c))
                    for c in out.columns
                )
            )
        writer = out.write.mode("error").format("parquet")
        if partition_by:
            writer = writer.partitionBy(
                *(_cm_phys(column_mapping, c) for c in partition_by)
            )
        try:
            if metadata_only:
                # metadata-only commit (deferred deletes): df supplies the
                # schema and session and writes nothing — the snapshot is
                # carried files + what aux_writer stages
                os.makedirs(staging, exist_ok=True)
            else:
                writer.save(staging)
                if obs is not None:
                    viol = {
                        n: int(c) for n, c in obs.get.items() if c
                    }
                    if viol:
                        raise ConstraintViolationError(
                            "CHECK constraint(s) violated by incoming "
                            f"rows (staged write discarded): "
                            + ", ".join(
                                f"{n} ({constraints[n]!r}): {c} row(s)"
                                for n, c in sorted(viol.items())
                            )
                        )
            # Auxiliary payloads ride the same atomic staging->rename as
            # the data. Deletion vectors go into an underscore-prefixed
            # subdir, which Spark's reader treats as hidden and the
            # fresh-file enumeration skips. Any other .parquet file the
            # writer stages is listed as fresh data: that is how
            # materialize_deletes writes its per-file rewrite.
            if aux_writer is not None:
                aux_writer(staging)
            return self._publish_staging(
                staging,
                carry_files=carry_files,
                carry_resolver=carry_resolver,
                carry_entries=carry_entries,
                carry_src=carry_src,
                expect=expect,
                parent_meta=parent_meta,
                operation=operation,
                partition_by=partition_by,
                bloom_cols=bloom_cols,
                constraints=constraints,
                cdf=cdf,
                generated=generated,
                extra=extra,
                publish=publish,
                schema=df.schema,
                spark=df.sparkSession,
                carry_dv=carry_dv,
                aux_written=aux_writer is not None,
                column_mapping=column_mapping,
            )
        except Exception:
            # a failure BEFORE the publish helper took over (staged write,
            # constraint check, aux payload): discard our own staging dir
            shutil.rmtree(staging, ignore_errors=True)
            raise


    def _publish_staging(
        self,
        staging: str,
        *,
        carry_files: dict[str, str] | None,
        carry_resolver,
        carry_entries: dict[str, dict] | None,
        carry_src: str | None,
        expect: str | None,
        parent_meta: dict,
        operation: str,
        partition_by: list[str] | None,
        bloom_cols: list[str],
        constraints: dict[str, str],
        cdf: bool,
        generated: dict | None,
        extra: dict,
        publish: bool,
        schema: StructType,
        spark: SparkSession | None,
        carry_dv: bool,
        aux_written: bool,
        column_mapping: dict | None = None,
    ) -> str:
        """Assemble and atomically publish a STAGED directory as a new
        snapshot: enumerate the fresh files it holds, hard-link the carry
        set, build per-file stats (a Spark job when a session is at hand
        and the commit is large, serial pyarrow otherwise — which is what
        lets the format("txn") batch writer commit from a plain Python
        worker with NO SparkSession), write the sharded manifest, rename
        into the version slot, swap the pointer. Extracted verbatim from
        ``commit`` (round 9); every write path funnels through here."""
        version: str | None = None
        renamed = False
        try:
            # Fresh files = what THIS write produced, listed from the
            # staging dir only (IO proportional to the change). Committed
            # snapshot dirs are never walked — their contents come from the
            # parent manifest. Underscore-prefixed dirs are payloads, not
            # data.
            fresh = sorted(
                rel
                for r, _d, ns in os.walk(staging)
                for n in ns
                if n.endswith(".parquet")
                and not (
                    rel := os.path.relpath(os.path.join(r, n), staging)
                ).split(os.sep)[0].startswith("_")
            )
            if carry_files is None and carry_resolver is not None:
                carry_files = carry_resolver(staging)
            carry_files = carry_files or {}
            for rel, src in carry_files.items():
                # clone/convert/restore may carry from ANOTHER table's
                # root (possibly a different filesystem): EXDEV falls
                # back to a copy instead of failing the commit
                _link_or_copy(src, os.path.join(staging, rel))
            # Deletion-vector carry-forward: a commit that carries data
            # files from a DV-bearing snapshot must carry the DV too, or
            # the deleted rows resurrect (append after a deferred delete).
            # The caller's own staged _dv (delete_where_deferred unions
            # the parent's entries itself) takes precedence; operations
            # that APPLY the DV while rewriting (materialize_deletes,
            # rewrite_layout via read()) pass carry_dv=False or carry
            # nothing.
            if carry_files and carry_dv and not aux_written:
                dv_src = carry_src if carry_src is not None else expect
                if dv_src is not None:
                    src_dv = self._dv_dir(dv_src)
                    if os.path.isdir(src_dv):
                        dst_dv = os.path.join(staging, _DV_DIR)
                        os.makedirs(dst_dv, exist_ok=True)
                        for n in os.listdir(src_dv):
                            if n.startswith("."):
                                continue
                            os.link(
                                os.path.join(src_dv, n),
                                os.path.join(dst_dv, n),
                            )
            version = self._next_version()
            # Per-file column stats (Iceberg manifest / Delta stats-JSON
            # analogue): fresh files cost one footer read each — serial for
            # small commits, a distributed Spark job for large ones
            # (_entries_for). Carried files inherit their entries from the
            # parent's shard fragments; a shard with NO fresh files and the
            # same file count as the parent's carries its whole fragment by
            # hard link — zero loads, zero rewrites.
            # stats/blooms key on the names the FILES carry — physical
            # under an active mapping (prune translates at probe time)
            stat_blooms = tuple(
                _cm_phys(column_mapping, c) for c in bloom_cols
            )
            abs_fresh = [os.path.join(staging, rel) for rel in fresh]
            by_path = _entries_for(
                abs_fresh, spark, stat_blooms
            )
            fresh_entries = {
                rel: by_path[p] for rel, p in zip(fresh, abs_fresh)
            }
            parent_shards = parent_meta["shards"] if expect else {}
            parent_split = (
                set(parent_meta.get("split_shards", [])) if expect else set()
            )
            fresh_by_base: dict[str, list[str]] = {}
            for rel in fresh:
                fresh_by_base.setdefault(_shard_key(rel), []).append(rel)
            carried_by_base: dict[str, list[str]] = {}
            for rel in carry_files:
                carried_by_base.setdefault(_shard_key(rel), []).append(rel)
            # Sub-shard decision per base shard: sticky once split (carried
            # files must keep their fragment assignment), re-decided only
            # when a commit fully rewrites the shard (no carried files).
            split = set(parent_split)
            for base in set(fresh_by_base) | set(carried_by_base):
                n_total = len(fresh_by_base.get(base, ())) + len(
                    carried_by_base.get(base, ())
                )
                if n_total > _SUBSHARD_MAX:
                    split.add(base)
                elif base in split and not carried_by_base.get(base):
                    split.discard(base)
            # drop split records for bases with no files in this snapshot
            split = {
                b
                for b in split
                if b in fresh_by_base or b in carried_by_base
            }

            def key_of(rel: str, split_set) -> str:
                base = _shard_key(rel)
                if base in split_set:
                    return f"{base}#{_subshard_suffix(rel)}"
                return base

            fresh_by_shard: dict[str, list[str]] = {}
            carried_by_shard: dict[str, list[str]] = {}
            base_of: dict[str, str] = {}
            for rel in fresh:
                k = key_of(rel, split)
                base_of[k] = _shard_key(rel)
                fresh_by_shard.setdefault(k, []).append(rel)
            for rel in carry_files:
                k = key_of(rel, split)
                base_of[k] = _shard_key(rel)
                carried_by_shard.setdefault(k, []).append(rel)
            shards_index: dict[str, dict] = {}
            parent_frags: dict[str, dict] = {}
            for key in sorted(set(fresh_by_shard) | set(carried_by_shard)):
                f_rels = sorted(fresh_by_shard.get(key, []))
                c_rels = carried_by_shard.get(key, [])
                base = base_of[key]
                shards_index[key] = {
                    "n": len(f_rels) + len(c_rels),
                    "fresh": f_rels,
                    "base": base,
                }
                dst = os.path.join(staging, f"_shard-{key}.json")
                if (
                    not f_rels
                    and key in parent_shards
                    and len(c_rels) == parent_shards[key]["n"]
                    and (base in split) == (base in parent_split)
                    and carry_src == expect
                ):
                    # unchanged shard: carry the manifest fragment itself
                    # by reference. Sound ONLY when the carried files were
                    # resolved from the parent snapshot itself (carry_src
                    # == expect): then carried rels are a subset of the
                    # parent shard's files and equal counts imply equal
                    # sets. A restore/clone carrying an OLD snapshot's
                    # files can match the head's count while listing
                    # different files — those always rebuild the fragment.
                    os.link(self._shard_file(expect, key), dst)
                    continue
                entries = {rel: fresh_entries[rel] for rel in f_rels}
                for rel in c_rels:
                    # a carried file's stats live under its PARENT key —
                    # which differs from ``key`` across a split/unsplit
                    # boundary, so resolve per rel (fragment loads cached)
                    if carry_entries and rel in carry_entries:
                        entries[rel] = carry_entries[rel]
                        continue
                    pk = key_of(rel, parent_split)
                    if pk not in parent_frags:
                        # no parent snapshot (e.g. a clone's first commit
                        # carries files from ANOTHER table): stats come
                        # from the staged files themselves below
                        if expect is None:
                            parent_frags[pk] = {}
                        else:
                            try:
                                parent_frags[pk] = self._load_shard(
                                    expect, pk
                                )
                            except FileNotFoundError:
                                parent_frags[pk] = {}
                    pe = parent_frags[pk]
                    entries[rel] = (
                        pe[rel]
                        if rel in pe
                        else _file_entry(
                            os.path.join(staging, rel), stat_blooms
                        )
                    )
                with open(dst, "w") as f:
                    json.dump({"files": entries}, f)
            # A carrying commit records columns ABSENT from the parent
            # schema as nullable (_relax_added): carried files read them
            # as NULL, whatever the fresh data's own nullability says.
            # Induction makes one parent hop sufficient — files carried
            # from deeper ancestors lack only columns the intermediate
            # commits already relaxed.
            recorded = schema
            if carry_files and expect is not None:
                recorded = _relax_added(
                    recorded,
                    StructType.fromJson(self._meta(expect)["schema"]),
                )
            meta = {
                "version": version,
                "parent": expect,
                "operation": operation,
                "extra": extra,
                "partition_by": partition_by or [],
                "generated": {
                    k: list(v) for k, v in (generated or {}).items()
                },
                "schema": recorded.jsonValue(),
                "committed_at_unix": time.time(),
                "n_files": len(fresh) + len(carry_files),
                "n_files_carried": len(carry_files),
                "n_files_written": len(fresh),
                # shard index: per top-level partition, its fragment's file
                # count and the rels freshly written there this commit —
                # the change feed reads THIS, never the fragments
                "shards": shards_index,
                # base shards currently hash-split into sub-fragments —
                # the NEXT commit keys carried files with this
                "split_shards": sorted(split),
                "bloom_cols": list(bloom_cols),
                "constraints": dict(constraints),
                "cdf": bool(cdf),
            }
            if column_mapping:
                # record only fields the recorded schema still has (an
                # overwrite may replace columns wholesale) but keep the
                # full used_phys history — resurrection safety survives
                # any sequence of drops/overwrites/re-adds
                live = {f.name.lower() for f in recorded.fields}
                meta["column_mapping"] = {
                    "mode": column_mapping.get("mode", "name"),
                    "max_id": int(column_mapping.get("max_id", 0)),
                    "fields": {
                        k: v
                        for k, v in column_mapping["fields"].items()
                        if k in live
                    },
                    "used_phys": list(
                        column_mapping.get("used_phys") or []
                    ),
                }
            with open(os.path.join(staging, "_meta.json"), "w") as f:
                json.dump(meta, f)
                f.flush()
                os.fsync(f.fileno())
            data = os.path.join(self.root, _VERSIONS, version)
            try:
                os.rename(staging, data)
            except OSError as e:
                raise ConcurrentCommitError(
                    f"version slot {version} taken by a concurrent writer"
                ) from e
            renamed = True
            if publish:
                self._swap_pointer(version, expect)
        except Exception:
            # Losing paths each clean up ONLY what this commit created:
            # the staging dir (no-op once renamed), and - if the rename
            # landed but the pointer swap lost - our still-unreferenced
            # version slot. Never a slot the pointer names.
            shutil.rmtree(staging, ignore_errors=True)
            if renamed and version and self.current_version() != version:
                shutil.rmtree(
                    os.path.join(self.root, _VERSIONS, version),
                    ignore_errors=True,
                )
            raise
        return version

    @staticmethod
    def _spawn_validation(validate, *frames):
        """Run a pre-commit validation CONCURRENTLY with the merge's
        discovery and write (guide §2.6 — overlap independent jobs): the
        dup-key / clause-overlap probes read only the persisted update set
        and are independent of the rest, so serializing them just adds
        their wall to every merge. The returned future is joined RIGHT BEFORE
        the commit publishes — a rejected batch still never lands, with
        the identical error. Thread-local job properties and the
        session's tags are inherited (``inheritable_thread_target`` on
        the frames' session), so UI labels/cancel groups stay correct.

        Returns ``None`` — degrade to the caller running ``validate()``
        inline — when any of ``frames`` contains a Python-DataSource
        relation: the pushdown guard serializes mixed actions on those
        by flipping a SESSION-scoped conf for the action span
        (sources/pushdown_guard.py), and a concurrent planner landing
        inside another action's conf-off window fails loudly with
        DATA_SOURCE_PUSHDOWN_DISABLED (e.g. an update set built from a
        user's ``spark.read.format("txn")`` frame). Plain plans —
        parquet scans such as ``TxnTable.read`` and the SQL router's
        MERGE, aggregates, local frames — have no such window and
        overlap safely."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        try:
            from .sources.pushdown_guard import _cached_relations

            for df in frames:
                if df is not None and _cached_relations(df):
                    return None
        except Exception:  # noqa: BLE001 - conservative: stay serial
            return None
        pool = ThreadPoolExecutor(max_workers=1)
        session = frames[0].sparkSession  # the update set: never None
        fut = pool.submit(inheritable_thread_target(session)(validate))
        pool.shutdown(wait=False)
        return fut

    def _with_retries(self, fn, max_retries: int):
        """Optimistic-concurrency retry: on ConcurrentCommitError, re-run
        ``fn`` (which must re-resolve the current snapshot itself) up to
        ``max_retries`` more times. Safe for the operations here because
        each recomputes against the NEW snapshot: SCD1 merge is
        last-writer-wins per key, partition overwrite per partition, append
        conflict-free — the standard lakehouse commit-conflict rules."""
        last: ConcurrentCommitError | None = None
        for _ in range(max_retries + 1):
            try:
                return fn()
            except ConcurrentCommitError as e:
                last = e
        assert last is not None
        raise last

    def _keyed_dml(self, frames, validate, attempt, max_retries: int) -> str:
        """Run a keyed verb (``merge_upsert``, ``merge_upsert_dv``,
        ``sync_full``, ``apply_cdc``) around its input plans.

        ``frames`` (``None`` entries allowed) are persisted for the whole
        call: their plans feed key bounds, touched-file discovery,
        validation and the commit write, and callers often hand in a
        non-trivial plan (the incremental-aggregate refresh passes a full
        combine aggregate). Without the persist each job re-executes that
        plan end to end — the fixed per-refresh overhead the r5 bench
        surfaced on ``txn_incremental_agg``.

        ``validate(*frames)``, when given, runs concurrently with the
        first attempt (``_spawn_validation``): with its touched-file
        discovery and write in ``merge_upsert``, with the write in the
        SQL router's MERGE, whose update set is built from the touched
        files (``_merge_source``).
        ``attempt(gate, *frames)`` runs under ``_with_retries`` and calls
        ``gate()`` right before it publishes: validation gates the
        PUBLISH, not the planning, so a rejected batch never lands and
        raises its identical error. Every exit unpersists — a rejected
        batch must not leak its cached blocks for the session's
        lifetime."""
        frames = tuple(None if f is None else f.persist() for f in frames)
        fut = None
        committed = False

        def gate() -> None:
            if fut is not None:
                fut.result()

        try:
            if validate is not None:
                fut = self._spawn_validation(
                    lambda: validate(*frames), *frames
                )
                if fut is None:
                    validate(*frames)  # python-source plan: stay serial
            res = self._with_retries(
                lambda: attempt(gate, *frames), max_retries
            )
            committed = True
            return res
        finally:
            try:
                if fut is not None:
                    try:
                        fut.result()
                    except Exception:  # noqa: BLE001
                        # a commit path that published WITHOUT gating on
                        # the future would otherwise silently land a
                        # validation-rejected batch — fail loudly instead
                        # (when the attempt itself raised, that error is
                        # already propagating and this one is the same)
                        if committed:
                            raise
            finally:
                for f in frames:
                    if f is not None:
                        f.unpersist()

    # -- row-level DML core ----------------------------------------------
    # Every row-level verb is the same three steps over one snapshot: find
    # what the statement touches, build the rows it writes, commit them
    # with every other file carried by reference. The copy-on-write verbs
    # (merge_upsert, update_where, delete_where, apply_cdc, sync_full)
    # find touched FILES and rewrite them; their deletion-vector twins
    # (merge_upsert_dv, update_where_dv, delete_where_deferred) find live
    # row POSITIONS and add them to the vector. Each step is written once
    # below.

    def _snapshot(self) -> tuple[str, StructType]:
        """The head version a DML attempt derives from and the schema its
        commit recorded. The schema comes from the manifest, NOT a
        directory read — a spark.read over the snapshot dir would run
        partition discovery across every partition directory
        (file-count-scale driver listing) just to learn a schema the
        commit recorded."""
        expect = self.current_version()
        if expect is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        return expect, StructType.fromJson(self._meta(expect)["schema"])

    def _carry(self, version: str, drop=()) -> dict[str, str]:
        """Every file of ``version`` except ``drop``, as the relpath ->
        path map a commit links into the new snapshot unchanged. It comes
        from the parent MANIFEST (``files()``), never a directory
        listing — object-store-portable and flat in table file count."""
        data_root = os.path.join(self.root, _VERSIONS, version)
        drop = set(drop)
        return {
            rel: os.path.join(data_root, rel)
            for rel in self.files(version)
            if rel not in drop
        }

    def _commit_over(
        self, expect: str, rows: DataFrame, operation: str,
        extra_meta: dict | None = None, drop=(), aux=None, **commit_kw,
    ) -> str:
        """Commit ``rows`` as the child of ``expect``: every file of
        ``expect`` except ``drop`` carries by reference, and the pointer
        swap refuses if another commit landed since ``expect`` was read.
        ``aux`` stages the commit's payloads (deletion vector, change
        feed) beside the data."""
        return self.commit(
            rows, operation=operation, carry_files=self._carry(expect, drop),
            extra_meta=extra_meta, carry_src=expect, expect_parent=expect,
            aux_writer=aux, **commit_kw,
        )

    def _touched(self, version: str, hits: DataFrame) -> list[str]:
        """Copy-on-write touched-file discovery: the sorted relpaths of the
        files ``hits`` — a ``file_col="_f"`` scan narrowed to the rows the
        statement changes — reads from, like Delta's matched-file listing.

        One Spark job: each task folds the ``_f`` values it sees into a
        set, observed on a ``noop`` write, and the driver merges the
        per-task sets. No shuffle runs (``distinct().collect()`` would
        take two jobs: AQE runs its shuffle as a job of its own), and the
        result holds at most one entry per file, whatever the number of
        matching rows."""
        obs = Observation()
        (
            hits.select("_f")
            .observe(obs, F.collect_set("_f").alias("files"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        data_root = os.path.join(self.root, _VERSIONS, version)
        return sorted(
            os.path.relpath(_local_path(f), data_root)
            for f in obs.get["files"]
        )

    def _live_scan(
        self, spark: SparkSession, version: str, rels: list[str],
        schema: StructType,
    ) -> DataFrame:
        """``_scan_files`` of ``rels`` with each row's position bound
        (``__rel``/``__ri``) and the snapshot's pending deletion vector
        anti-joined out: the rows a reader sees, and where they live."""
        scan = self._scan_files(spark, version, rels, schema, meta_cols=True)
        if not self.has_deletion_vectors(version):
            return scan
        dv = self._read_dv(spark, version)
        return scan.join(
            dv,
            (scan["__rel"] == dv["rel"]) & (scan["__ri"] == dv["row_index"]),
            "left_anti",
        )

    def _live_matches(
        self, spark: SparkSession, version: str, rels: list[str],
        schema: StructType, pick,
    ) -> DataFrame | None:
        """Deletion-vector discovery: the live rows of ``rels``
        (``_live_scan``) that ``pick`` keeps. A row an earlier vector
        already deleted is never matched again, so it is neither
        re-deleted nor re-imaged in the change feed. Persisted — the
        vector and the change payload both read it; ``None`` when
        nothing matched."""
        if not rels:
            return None
        matched = pick(self._live_scan(spark, version, rels, schema)).persist()
        if matched.limit(1).count() == 0:
            matched.unpersist()
            return None
        return matched

    @staticmethod
    def _cdf_writer(chg: DataFrame | None):
        """The aux writer that stages ``chg`` as the commit's row-level
        change payload (Delta CDF); ``None`` when there is no payload."""
        if chg is None:
            return None

        def aux(staging: str) -> None:
            chg.write.parquet(os.path.join(staging, _CDF_DIR))

        return aux

    def _dv_writer(
        self, spark: SparkSession, version: str, matched: DataFrame,
        chg: DataFrame | None,
    ):
        """The aux writer of a deletion-vector commit: the committed
        vector is ``matched``'s positions plus the pending vector's, then
        ``chg`` is staged as the change payload."""
        dv = matched.select(
            F.col("__rel").alias("rel"), F.col("__ri").alias("row_index")
        )
        if self.has_deletion_vectors(version):
            dv = dv.unionByName(self._read_dv(spark, version)).distinct()
        cdf = self._cdf_writer(chg)

        def aux(staging: str) -> None:
            dv.coalesce(1).write.parquet(os.path.join(staging, _DV_DIR))
            if cdf is not None:
                cdf(staging)

        return aux

    # Below this many files, stats-based candidate pruning is skipped:
    # pruning exists to SAVE IO, but it costs one Spark job (min/max over
    # the update set) — on a table this small, the discovery scan reads
    # everything faster than the bounds job runs. O(1) to decide (the
    # file count rides the snapshot meta). Delta's MERGE makes the same
    # call by skipping file-skipping when stats can't pay for themselves.
    _PRUNE_SKIP_FILES = 8
    # Max distinct merge keys probed against per-file blooms; above this
    # a point-probe loop over the manifest stops paying and the range-
    # bounds job takes over.
    _BLOOM_PROBE_MAX = 128

    def _merge_candidates(
        self, expect: str, updates: DataFrame, keys: list[str]
    ) -> list[str]:
        """Candidate files for a keyed merge's touched-file discovery.

        Big tables: manifest min/max pruning on the update set's key
        bounds (Delta's merge file-skipping) — a file whose recorded
        range misses the updates' [min, max] cannot contain a matched
        key, so discovery reads only range-overlapping files; on a
        key-clustered 100 TB table that is the handful of files the
        merge actually hits. Small tables (``_PRUNE_SKIP_FILES``): every
        file is a candidate and the bounds job is elided entirely.

        When the single merge-key column carries per-file BLOOMS and the
        update set is small (``_BLOOM_PROBE_MAX`` distinct keys), the
        bounds job is replaced by a limited distinct-collect and
        candidates come from bloom point probes — on an UNCLUSTERED key
        (every file's range spans the key space, min/max prunes nothing)
        this is the difference between scanning the whole table for a
        10-row upsert and scanning the ~10 files that can hold the keys.
        """
        if self._meta(expect).get("n_files", 0) <= self._PRUNE_SKIP_FILES:
            return self.files(expect)
        bloom_cols = self._meta(expect).get("bloom_cols") or []
        if len(keys) == 1 and keys[0] in bloom_cols:
            k = keys[0]
            rows = (
                updates.select(k)
                .distinct()
                .limit(self._BLOOM_PROBE_MAX + 1)
                .collect()
            )
            if len(rows) <= self._BLOOM_PROBE_MAX:
                vals = [r[k] for r in rows if r[k] is not None]
                return self.pruned_files_in(k, vals, expect)[0]
        bounds = updates.agg(
            *[F.min(k).alias(f"lo_{k}") for k in keys],
            *[F.max(k).alias(f"hi_{k}") for k in keys],
        ).first()
        preds = []
        for k in keys:
            if bounds[f"lo_{k}"] is not None:
                preds.append((k, ">=", bounds[f"lo_{k}"]))
            if bounds[f"hi_{k}"] is not None:
                preds.append((k, "<=", bounds[f"hi_{k}"]))
        candidates, _total = self.pruned_files(preds, expect)
        return candidates

    @staticmethod
    def _merge_keys(
        updates: DataFrame, dels: DataFrame | None, keys: list[str]
    ) -> DataFrame:
        """The keys a keyed merge touches: those of ``updates`` plus
        ``dels``. Duplicates are kept — every consumer is a semi- or
        anti-join or a min/max, none of which needs a ``distinct``
        shuffle."""
        touched = updates.select(*keys)
        return touched if dels is None else touched.unionByName(dels)

    def _merge_touched(
        self, spark: SparkSession, expect: str, schema: StructType,
        keys_df: DataFrame, keys: list[str],
    ) -> list[str]:
        """A keyed merge's touched files: the candidates of ``keys_df``
        (``_merge_candidates``) that hold a row whose ``keys`` equal one
        of its rows. One join with ``keys_df`` as the broadcast build
        side — a merge's key set is small next to its target, as Delta's
        MERGE assumes — feeds ``_touched``."""
        candidates = self._merge_candidates(expect, keys_df, keys)
        if not candidates:
            return []
        return self._touched(
            expect,
            self._scan_files(
                spark, expect, candidates, schema, file_col="_f"
            ).join(F.broadcast(keys_df), keys, "leftsemi"),
        )

    def _merge_cow(
        self, spark: SparkSession, expect: str, schema: StructType,
        touched: list[str], updates: DataFrame, dels: DataFrame | None,
        keys: list[str], columns, operation: str, extra_meta: dict | None,
        gate,
    ) -> str:
        """The copy-on-write keyed merge that ``merge_upsert``, the SQL
        router's MERGE and ``apply_cdc`` commit over snapshot ``expect``:
        the ``touched`` files — every file holding a key of ``updates``
        or ``dels`` — are rewritten as their other rows plus ``updates``;
        every other file carries. ``columns(schema, meta)`` picks the
        output columns from the snapshot's recorded schema and manifest;
        ``gate()`` runs right before the publish."""
        meta = self._meta(expect)
        out_cols = columns(schema, meta)
        fresh = updates.select(*out_cols)
        rows, chg = fresh, None
        if touched:

            def target(ks: DataFrame, how: str) -> DataFrame:
                # the touched files' rows whose key is (semi) or is not
                # (anti) in ks, in the output columns
                return _conform(
                    self._scan_files(spark, expect, touched, schema).join(
                        ks, keys, how
                    ),
                    out_cols,
                    updates,
                )

            rows = target(
                self._merge_keys(updates, dels, keys), "left_anti"
            ).unionByName(fresh)
            # Row-level change feed payload (Delta CDF): preimages re-read
            # ONLY the touched files, post/insert split the persisted
            # update set. IO ∝ touched files, never the table. A merge
            # that touches nothing writes no payload at all: its fresh
            # files ARE the inserts, derived at read time.
            if meta.get("cdf"):
                chg = _keyed_changes(
                    keys,
                    fresh,
                    target(updates.select(*keys), "leftsemi"),
                    None if dels is None else target(dels, "leftsemi"),
                )
        gate()
        return self._commit_over(
            expect, rows, operation, extra_meta, drop=touched,
            aux=self._cdf_writer(chg),
        )

    def _keyed_cow(
        self, spark: SparkSession, updates: DataFrame,
        dels: DataFrame | None, keys: list[str], columns, operation: str,
        extra_meta: dict | None, gate,
    ) -> str:
        """One attempt of ``merge_upsert`` and ``apply_cdc``: the touched
        files of the head snapshot are found from the keys of ``updates``
        and ``dels`` (``_merge_touched``), then ``_merge_cow`` commits."""
        expect, schema = self._snapshot()
        self._require_no_dv(expect, operation)
        touched = self._merge_touched(
            spark, expect, schema, self._merge_keys(updates, dels, keys),
            keys,
        )
        return self._merge_cow(
            spark, expect, schema, touched, updates, dels, keys, columns,
            operation, extra_meta, gate,
        )

    def _merge_dv(
        self, spark: SparkSession, expect: str, schema: StructType,
        candidates: list[str], updates: DataFrame, dels: DataFrame | None,
        keys: list[str], merge_schema: bool, extra_meta: dict | None,
        gate,
    ) -> str:
        """The deletion-vector keyed merge that ``merge_upsert_dv`` and
        the SQL router's MERGE commit over snapshot ``expect``: the live
        rows of ``candidates`` holding a key of ``updates`` or ``dels``
        join the vector, and ``updates`` land as fresh files."""
        meta = self._meta(expect)
        out_cols = _evolved_columns(
            schema, updates, merge_schema, "merge_upsert_dv",
            generated=meta.get("generated"),
        )
        fresh = updates.select(*out_cols)
        all_keys = self._merge_keys(updates, dels, keys)
        matched = self._live_matches(
            spark, expect, candidates, schema,
            lambda scan: scan.join(all_keys, keys, "leftsemi"),
        )
        try:
            # Nothing matched: plain append; commit's default DV
            # carry-forward keeps any pending vector (aux is None).
            aux = None
            if matched is not None:
                chg = None
                if meta.get("cdf"):
                    pre, gone = matched.drop("__rel", "__ri"), None
                    if dels is not None:
                        gone = _conform(
                            pre.join(dels, keys, "leftsemi"),
                            out_cols,
                            updates,
                        )
                        pre = pre.join(dels, keys, "left_anti")
                    chg = _keyed_changes(
                        keys, fresh, _conform(pre, out_cols, updates),
                        gone,
                    )
                aux = self._dv_writer(spark, expect, matched, chg)
            gate()
            return self._commit_over(
                expect, fresh, "merge_upsert_dv", extra_meta, aux=aux
            )
        finally:
            if matched is not None:
                matched.unpersist()

    @staticmethod
    def _merge_columns(updates: DataFrame, merge_schema: bool, op: str):
        """The ``columns(schema, meta)`` of a keyed merge of ``updates``.
        Same guard as append(): a typo'd/extra column in updates must
        raise (not silently drop) unless merge_schema evolves the table;
        a missing table column would hide it for carried rows; a changed
        type is never allowed."""

        def columns(schema: StructType, meta: dict) -> list[str]:
            return _evolved_columns(
                schema, updates, merge_schema, op,
                generated=meta.get("generated"),
            )

        return columns

    def _merge_source(
        self, spark: SparkSession, source_keys: DataFrame, plan,
        keys: list[str], dv: bool, merge_schema: bool, rewrite: bool,
        max_retries: int = 2,
    ) -> str:
        """The SQL router's MERGE, in Delta's two passes. ``source_keys``
        holds the source's ON keys under the target's key names and
        types. Each attempt joins it with the candidate files once to
        find the touched files (``_merge_touched``). ``plan(target)``
        then builds the update set and the keys of the matched rows to
        delete from the live rows of the touched files alone: a source key
        absent from every touched file matches no target row at all. The
        copy-on-write (``_merge_cow``) or deletion-vector (``_merge_dv``)
        core commits them, validated and persisted as ``merge_upsert``'s
        input is (``_keyed_dml``). ``rewrite=False`` (no WHEN MATCHED
        clause) commits the inserts without rewriting or vectoring the
        touched files: they only bound the not-matched branch."""
        op = "merge_upsert_dv" if dv else "merge_upsert"

        def attempt() -> str:
            expect, schema = self._snapshot()
            if not dv:
                self._require_no_dv(expect, op)
            touched = self._merge_touched(
                spark, expect, schema, source_keys, keys
            )
            updates, dels = plan(
                self._scan_rels(spark, expect, touched, schema)
                if touched
                else local_df(spark, [], schema)
            )
            rewritten = touched if rewrite else []

            def write(gate, u: DataFrame, d: DataFrame | None) -> str:
                if dv:
                    return self._merge_dv(
                        spark, expect, schema, rewritten, u, d, keys,
                        merge_schema, None, gate,
                    )
                return self._merge_cow(
                    spark, expect, schema, rewritten, u, d, keys,
                    self._merge_columns(u, merge_schema, op), op, None,
                    gate,
                )

            return self._keyed_dml(
                (updates, dels),
                lambda u, d: validate_merge_keys(u, keys, d),
                write,
                0,
            )

        return self._with_retries(attempt, max_retries)

    def merge_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: list[str],
        merge_schema: bool = False,
        max_retries: int = 2,
        extra_meta: dict | None = None,
        validate_keys: bool = True,
        delete_keys: DataFrame | None = None,
    ) -> str:
        """SCD1 MERGE, file-granular: rewrite ONLY the files that contain a
        matched key; every other file carries into the new snapshot by
        reference (hard link — no data copy, no re-shuffle).

        Delta Lake's MERGE algorithm on a plain-parquet snapshot store:

          1. semi-join the candidate files x update keys (the broadcast
             side) over ``input_file_name()`` -> the set of touched files
             (``_touched``: one job, file count, not row count — Delta's
             matched-file listing);
          2. re-read just those files, anti-join the update keys -> kept
             rows;
          3. write kept + updates (inheriting the partition spec), link
             every untouched file unchanged. The carry set comes from the
             parent MANIFEST (``files()``), never a directory listing —
             object-store-portable and flat in table file count.

        ``merge_schema=True`` evolves the table additively: columns present
        in ``updates`` but not the target are appended to the snapshot
        schema; rewritten rows get typed NULLs, carried files read as NULLs
        through the recorded schema, and earlier snapshots keep their own
        schema (time travel is schema-faithful).

        A ``ConcurrentCommitError`` (another writer landed first) re-reads
        the new snapshot and re-runs the merge, up to ``max_retries`` times
        — correct under SCD1 last-writer-wins for overlapping keys, exact
        for disjoint writers.

        At 100 TB an upsert matching 0.1% of keys rewrites ~0.1% of files
        instead of the whole table. Readers see the pre-merge snapshot
        until the pointer swap, then the post-merge one — never a mixture.

        ``delete_keys`` (round 10) extends the merge to the full ANSI
        clause set: rows whose key appears in it are REMOVED in the same
        atomic commit (``WHEN MATCHED THEN DELETE``) — their files join
        the rewrite set, the kept-scan anti-joins the union of update
        and delete keys, and no replacement row lands. A key in both
        sets is ambiguous and raises, mirroring the duplicate-key guard
        (``validate_merge_keys``, skipped with ``validate_keys=False``
        for pre-deduped pipelines that can't afford the extra job).

        ``updates`` is persisted for the duration of the merge: its plan
        feeds the key bounds (tables above ``_PRUNE_SKIP_FILES`` files),
        touched-file discovery, validation and the commit write, see
        ``_keyed_dml``.
        """
        columns = self._merge_columns(updates, merge_schema, "merge_upsert")

        def attempt(gate, updates: DataFrame, dels: DataFrame | None) -> str:
            return self._keyed_cow(
                spark, updates, dels, keys, columns, "merge_upsert",
                extra_meta, gate,
            )

        return self._keyed_dml(
            (
                updates,
                None if delete_keys is None else delete_keys.select(*keys),
            ),
            (lambda u, d: validate_merge_keys(u, keys, d))
            if validate_keys
            else None,
            attempt,
            max_retries,
        )

    def merge_upsert_dv(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: list[str],
        merge_schema: bool = False,
        max_retries: int = 2,
        extra_meta: dict | None = None,
        validate_keys: bool = True,
        delete_keys: DataFrame | None = None,
    ) -> str:
        """Merge-on-read MERGE (Delta's deletion-vector-enabled MERGE):
        same SCD1 semantics as ``merge_upsert``, but instead of REWRITING
        every file that holds a matched key, the matched rows' positions
        are appended to the snapshot's deletion vector and the update set
        lands as fresh files. Write cost is bounded by the DELTA —
        O(|updates|) data bytes + O(|matched positions|) vector bytes —
        regardless of how many multi-GB files the matches scatter across.

        This is the fix for the copy-on-write pathology SCALING.md's r8
        txn probe measured: a 10% every-10th-key upsert touches EVERY
        file (the worst-case rewrite set, slope 2.43), so ``merge_upsert``
        rewrites the whole table to change 10% of its rows. Here the same
        upsert writes 10% data + a positions file, and reads pay one
        anti-join until ``materialize_deletes`` (or any full rewrite)
        folds the vector in — the standard MoR write/read trade.

        Composes with a PENDING vector (unlike the copy-on-write writers,
        which ``_require_no_dv``): matched-position discovery
        (``_live_matches``) anti-joins the existing vector first, so a key
        whose only physical row is already deleted counts as an INSERT
        (and the CDF preimage never resurrects dead rows); the committed
        vector is the union. Repeat merges on the same key keep working
        because the previous merge's appended file is a manifest data
        file — discovery scans it like any other candidate and suppresses
        the stale copy.

        Result-identical to ``merge_upsert`` on the same input (pinned by
        the ``txn_merge_dv`` registry lane and pytest); chooses between
        them by workload: scattered keys / wide files -> DV, clustered
        keys on few files -> copy-on-write stays cheaper to read. Both
        share the candidate pruning (``_merge_candidates``), the validation and
        persist wrapper (``_keyed_dml``) and the change-feed rows
        (``_keyed_changes``).

        ``delete_keys`` mirrors ``merge_upsert``'s: matched rows whose
        key appears in it become vector entries with NO replacement row
        — ``WHEN MATCHED THEN DELETE`` at delta write cost.
        """

        def attempt(gate, updates: DataFrame, dels: DataFrame | None) -> str:
            expect, schema = self._snapshot()
            return self._merge_dv(
                spark, expect, schema,
                self._merge_candidates(
                    expect, self._merge_keys(updates, dels, keys), keys
                ),
                updates, dels, keys, merge_schema, extra_meta, gate,
            )

        return self._keyed_dml(
            (
                updates,
                None if delete_keys is None else delete_keys.select(*keys),
            ),
            (lambda u, d: validate_merge_keys(u, keys, d))
            if validate_keys
            else None,
            attempt,
            max_retries,
        )

    def sync_full(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        max_retries: int = 2,
        extra_meta: dict | None = None,
        validate_keys: bool = True,
    ) -> str:
        """Full-snapshot MERGE sync — the three-clause SQL MERGE
        (``WHEN MATCHED [AND changed] UPDATE / WHEN NOT MATCHED INSERT /
        WHEN NOT MATCHED BY SOURCE DELETE``): converge the table to be
        exactly ``source``, rewriting ONLY the files that hold a real
        change. ``merge_upsert`` can never remove a row; this is the
        operator a periodic full-extract feed needs (the reference's
        staged-COPY full reload, Glue script → Redshift, replaced here
        at delta cost instead of full-rewrite cost).

        One co-partitioned FULL OUTER join on the merge keys classifies
        every row in a single pass — unchanged (null-safe struct
        equality of the non-key columns), update, insert, delete — so
        change detection is EXACT (no content-hash collisions) at the
        cost of one key-shuffle of each side: the honest lower bound for
        full-snapshot diffing, and the same exchange Delta's MERGE pays
        to evaluate its match conditions. Everything downstream is
        file-granular: touched files = files holding an updated or
        deleted row (read off the join's ``input_file_name``, no second
        discovery scan); unchanged files — including files whose every
        row matched identically — carry by hard link; rewritten bytes ∝
        changed files, never table size. A no-change sync rewrites
        nothing. Row-level CDF, when enabled, falls out of the same join
        (update pre/post images, inserts, deletes) with zero extra IO.

        Schema must match the table exactly (``_evolved_columns`` guard,
        no evolution here — a full extract with a new column should
        evolve via ``merge_upsert(merge_schema=True)`` first)."""

        def attempt(gate, source: DataFrame) -> str:
            expect, schema = self._snapshot()
            self._require_no_dv(expect, "sync_full")
            out_cols = _evolved_columns(
                schema, source, False, "sync_full",
                generated=self._meta(expect).get("generated"),
            )
            val_cols = [c for c in out_cols if c not in keys]
            src = source.select(
                *keys,
                F.struct(*[F.col(c) for c in val_cols]).alias("_sv"),
                F.lit(True).alias("_sp"),
            )
            tgt = self._scan_files(
                spark, expect, self.files(expect), schema, file_col="_f",
            ).select(
                *keys,
                F.struct(*[F.col(c) for c in val_cols]).alias("_tv"),
                F.lit(True).alias("_tp"),
                "_f",
            )
            j = src.join(tgt, keys, "full_outer").withColumn(
                "_cls",
                F.when(F.col("_sp").isNull(), F.lit("delete"))
                .when(F.col("_tp").isNull(), F.lit("insert"))
                .when(F.col("_sv").eqNullSafe(F.col("_tv")), F.lit("same"))
                .otherwise(F.lit("update")),
            ).persist()

            def side(classes: tuple[str, ...], image: str) -> DataFrame:
                # rows of the given classes as the source (_sv) or the
                # target (_tv) holds them, in the output columns
                return j.filter(F.col("_cls").isin(*classes)).select(
                    *keys, *[F.col(f"{image}.{c}").alias(c) for c in val_cols]
                ).select(*out_cols)

            try:
                changed = j.filter(F.col("_cls").isin("update", "delete"))
                touched = self._touched(expect, changed)
                rows = side(("update", "insert"), "_sv")
                if touched:
                    rows = (
                        self._scan_files(spark, expect, touched, schema)
                        .join(changed.select(*keys), keys, "left_anti")
                        .select(*out_cols)
                        .unionByName(rows)
                    )
                chg = None
                # a NO-change sync writes no payload (and no fresh files):
                # an empty parquet dir would break the feed read, and the
                # feed's fresh-file derivation already yields nothing
                if self._meta(expect).get("cdf") and j.filter(
                    F.col("_cls") != "same"
                ).take(1):
                    chg = _changes(
                        (side(("update",), "_tv"), "update_preimage"),
                        (side(("update",), "_sv"), "update_postimage"),
                        (side(("insert",), "_sv"), "insert"),
                        (side(("delete",), "_tv"), "delete"),
                    )
                gate()
                return self._commit_over(
                    expect, rows, "sync_full", extra_meta, drop=touched,
                    aux=self._cdf_writer(chg),
                )
            finally:
                j.unpersist()

        return self._keyed_dml(
            (source,),
            (lambda s: validate_merge_keys(s, keys, name="source"))
            if validate_keys
            else None,
            attempt,
            max_retries,
        )

    def overwrite_partitions(
        self,
        spark: SparkSession,
        df: DataFrame,
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
        merge_schema: bool = False,
        max_retries: int = 2,
    ) -> str:
        """Dynamic-partition-overwrite as a snapshot commit: replace ONLY
        the partitions present in ``df``; every other file carries into the
        new snapshot by reference (hard link, no rewrite). The carried set
        comes from the parent manifest, never a directory listing.

        The idempotent-hourly-reload semantics of
        ``partitionOverwriteMode=dynamic``, but atomic: a reader concurrent
        with the reload resolves either the whole old snapshot or the whole
        new one. The touched-partition set is read off the STAGING output
        after the write (the partition dirs ``df`` actually produced), so
        ``df``'s plan runs exactly once — important for callers whose
        metrics ``observe()`` rides the write job. Concurrent commits are
        retried against the new snapshot (exact for writers overwriting
        disjoint partitions).
        """

        def attempt() -> str:
            expect = self.current_version()
            if expect is None:
                return self.commit(
                    df, partition_by=partition_by, sort_within=sort_within,
                    operation="overwrite_partitions",
                )
            spec = partition_by
            if spec is None:
                spec = self._meta(expect).get("partition_by") or None
            if not spec:
                # unpartitioned table: degenerates to plain overwrite
                return self.commit(
                    df, sort_within=sort_within, operation="overwrite"
                )
            data_root = os.path.join(self.root, _VERSIONS, expect)
            depth = len(spec)
            # Carried (untouched) partitions' rows read under the schema
            # THIS commit records, so the same guard as append(): a df
            # missing an existing column would silently hide that column
            # for every carried row.
            parent_schema = StructType.fromJson(self._meta(expect)["schema"])
            out = df.select(
                *_evolved_columns(
                    parent_schema, df, merge_schema, "overwrite_partitions",
                    generated=self._meta(expect).get("generated"),
                )
            )

            def resolver(staging: str) -> dict[str, str]:
                staged_parts = {
                    tuple(os.path.relpath(r, staging).split(os.sep)[:depth])
                    for r, _d, ns in os.walk(staging)
                    for n in ns
                    if n.endswith(".parquet")
                }
                return {
                    rel: os.path.join(data_root, rel)
                    for rel in self.files(expect)
                    if tuple(rel.split(os.sep)[:depth]) not in staged_parts
                }

            return self.commit(
                out,
                partition_by=list(spec),
                sort_within=sort_within,
                operation="overwrite_partitions",
                carry_resolver=resolver,
                carry_src=expect,
                expect_parent=expect,
            )

        return self._with_retries(attempt, max_retries)

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
        merge_schema: bool = False,
        max_retries: int = 2,
        extra_meta: dict | None = None,
    ) -> str:
        """Atomic append: carry EVERY existing file by reference (from the
        parent manifest — the data dir is never listed), add the new rows'
        files alongside. No read, no rewrite of existing data. Appends
        never conflict semantically, so a concurrent commit just retries
        against the new snapshot.

        Schema guard: the snapshot schema each commit records is what every
        reader resolves, so an append missing a table column would silently
        hide that column for ALL rows (carried included) — that raises.
        Extra columns require ``merge_schema=True`` (additive evolution:
        appended to the schema, carried files read them as typed NULLs);
        a changed type on an existing column always raises.
        """

        def attempt() -> str:
            expect = self.current_version()
            if expect is None:
                return self.commit(
                    df, partition_by=partition_by, sort_within=sort_within,
                    operation="append", extra_meta=extra_meta,
                    expect_parent=None,
                )
            parent = StructType.fromJson(self._meta(expect)["schema"])
            out = df.select(
                *_evolved_columns(
                    parent, df, merge_schema, "append",
                    generated=self._meta(expect).get("generated"),
                )
            )
            return self._commit_over(
                expect, out, "append", extra_meta,
                partition_by=partition_by, sort_within=sort_within,
            )

        return self._with_retries(attempt, max_retries)

    def update_where(
        self,
        spark: SparkSession,
        condition,
        set: dict,
        prune: list | None = None,
        max_retries: int = 2,
        extra_meta: dict | None = None,
    ) -> str:
        """Row-level UPDATE, file-granular (Delta UPDATE semantics —
        ``UPDATE t SET col = expr WHERE cond``): rewrite ONLY the files
        that contain a matching row, applying each ``set`` expression to
        the matching rows and keeping the rest byte-identical; every
        untouched file carries by reference. The DML verb the table was
        missing between ``delete_where`` and ``merge_upsert`` — an upsert
        needs the new rows in hand, UPDATE computes them in place from a
        predicate + column expressions.

        ``set`` maps EXISTING column names to pyspark Column expressions
        (evaluated against the pre-update row and cast to the column's
        recorded type — an UPDATE never changes a column's type; new
        columns are schema evolution, use
        ``merge_upsert(merge_schema=True)``). ``prune`` optionally bounds
        the touched-file discovery with manifest triples, exactly as in
        ``delete_where`` — on a key-clustered 100 TB table a keyed update
        rewrites only the files it hits.

        ANSI三-valued WHERE: only rows where the condition is definitely
        TRUE update (NULL keeps the row unchanged). Row-level CDF, when
        enabled, records update pre/post images from the same touched
        scan. Returns the new version (or the current one unchanged when
        nothing matched — no empty commit)."""

        def attempt() -> str:
            expect, schema = self._snapshot()
            self._require_no_dv(expect, "update_where")
            hit = F.coalesce(condition.cast("boolean"), F.lit(False))
            updated_cols = _set_image(schema, set, "update_where", hit)
            candidates, _total = self.pruned_files(prune or [], expect)
            if not candidates:
                return expect
            touched = self._touched(
                expect,
                self._scan_files(
                    spark, expect, candidates, schema, file_col="_f"
                ).filter(condition),
            )
            if not touched:
                return expect  # nothing matched: the table is unchanged
            scan = self._scan_files(spark, expect, touched, schema)
            chg = None
            if self._meta(expect).get("cdf"):
                pre = scan.filter(hit)
                chg = _changes(
                    (pre, "update_preimage"),
                    (
                        pre.select(*_set_image(schema, set, "update_where")),
                        "update_postimage",
                    ),
                )
            return self._commit_over(
                expect, scan.select(*updated_cols), "update", extra_meta,
                drop=touched, aux=self._cdf_writer(chg),
            )

        return self._with_retries(attempt, max_retries)

    def update_where_dv(
        self,
        spark: SparkSession,
        condition,
        set: dict,
        prune: list | None = None,
        max_retries: int = 2,
        extra_meta: dict | None = None,
    ) -> str:
        """Merge-on-read UPDATE (round 10): the deletion-vector twin of
        ``update_where``, completing the DV strategy family
        (``delete_where_deferred`` / ``merge_upsert_dv`` already exist).
        Matching rows' positions join the snapshot's deletion vector and
        their UPDATED copies land as fresh files — write cost
        O(matches), regardless of how many multi-GB files the matches
        scatter across, and legal while a vector is already pending
        (the copy-on-write writers ``_require_no_dv``, so without this a
        DV-strategy table could DELETE but never UPDATE until a
        ``materialize_deletes`` rewrite).

        Same three-valued WHERE as ``update_where`` (only
        definitely-TRUE rows update), same ``set``/``prune`` contract and
        the same post-image (``_set_image``), same row-level CDF images
        (pre/post from the matched live rows, ``_live_matches``).
        Returns the current version unchanged when nothing matches."""

        def attempt() -> str:
            expect, schema = self._snapshot()
            updated_cols = _set_image(schema, set, "update_where_dv")
            candidates, _total = self.pruned_files(prune or [], expect)
            hit = F.coalesce(condition.cast("boolean"), F.lit(False))
            matched = self._live_matches(
                spark, expect, candidates, schema,
                lambda scan: scan.filter(hit),
            )
            if matched is None:
                return expect  # nothing matched: the table is unchanged
            try:
                pre = matched.drop("__rel", "__ri")
                updated = pre.select(*updated_cols)
                chg = None
                if self._meta(expect).get("cdf"):
                    chg = _changes(
                        (pre, "update_preimage"),
                        (updated, "update_postimage"),
                    )
                return self._commit_over(
                    expect, updated, "update_where_dv", extra_meta,
                    aux=self._dv_writer(spark, expect, matched, chg),
                )
            finally:
                matched.unpersist()

        return self._with_retries(attempt, max_retries)

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        prune: list | None = None,
        max_retries: int = 2,
        extra_meta: dict | None = None,
    ) -> str:
        """Row-level DELETE, file-granular (Delta DELETE semantics):
        rewrite ONLY the files that contain a matching row — each keeps its
        non-matching rows — and carry every untouched file by reference.

        ``condition`` is a pyspark Column predicate; rows where it holds
        are removed. ``prune`` optionally passes conjunctive
        ``(col, op, literal)`` triples (the ``pruned_files`` grammar) that
        OVER-APPROXIMATE the condition, bounding the touched-file discovery
        scan to range-overlapping files via manifest stats — on a
        key-clustered 100 TB table a keyed delete then scans the handful of
        files it actually hits. Pruning is an IO bound only: correctness
        comes from the row filter.

        Returns the new version (or the current one unchanged when nothing
        matched — no empty commit). Deleting every row of a file drops the
        file from the snapshot entirely.
        """

        def attempt() -> str:
            expect, schema = self._snapshot()
            self._require_no_dv(expect, "delete_where")
            candidates, _total = self.pruned_files(prune or [], expect)
            if not candidates:
                return expect
            touched = self._touched(
                expect,
                self._scan_files(
                    spark, expect, candidates, schema, file_col="_f"
                ).filter(condition),
            )
            if not touched:
                return expect  # nothing matched: the table is unchanged
            # DELETE semantics: remove rows where the condition is TRUE.
            # ``~condition`` alone would also drop NULL-evaluating rows
            # (NULL negates to NULL, and filter drops non-TRUE) — silent
            # data loss on any nullable predicate column. Keep = NOT
            # coalesce(condition, FALSE), the SQL-standard three-valued
            # reading Delta's DELETE implements.
            hit = F.coalesce(condition.cast("boolean"), F.lit(False))
            scan = self._scan_files(spark, expect, touched, schema)
            # CDF payload: the deleted rows, read from the same touched
            # files the kept-scan reads — IO ∝ touched, written once
            chg = None
            if self._meta(expect).get("cdf"):
                chg = _changes((scan.filter(hit), "delete"))
            return self._commit_over(
                expect, scan.filter(~hit), "delete", extra_meta,
                drop=touched, aux=self._cdf_writer(chg),
            )

        return self._with_retries(attempt, max_retries)

    def delete_where_deferred(
        self,
        spark: SparkSession,
        condition,
        prune: list | None = None,
        max_retries: int = 2,
        extra_meta: dict | None = None,
    ) -> str:
        """Merge-on-read DELETE (Delta deletion vectors / Iceberg
        positional deletes): instead of rewriting every touched file, the
        matching rows' positions — ``(file rel path, in-file row index)``
        via the hidden ``_metadata`` columns — are written as a deletion
        vector beside the carried data files, and every read applies them
        with one anti-join. Write cost: O(matches) + manifest carry,
        regardless of how many multi-GB files the matches scatter across;
        the rewrite is deferred to ``materialize_deletes`` (or any full
        rewrite, e.g. ``rewrite_layout``), which batches it.

        Same three-valued semantics as ``delete_where``: rows where the
        condition is TRUE are suppressed; NULL-evaluating rows stay.
        Successive deferred deletes union their vectors; only LIVE rows
        match (``_live_matches``), so a delete whose every match an
        earlier vector already suppressed commits nothing, and the change
        feed records each logical delete exactly once. Manifest row
        counts and column stats intentionally keep counting suppressed
        rows (conservative for pruning — a file is never skipped because
        of rows it still physically holds). File-granular writers
        (merge/CDC/compact/point reads) refuse while a vector is pending.
        """

        def attempt() -> str:
            expect, schema = self._snapshot()
            candidates, _total = self.pruned_files(prune or [], expect)
            hit = F.coalesce(condition.cast("boolean"), F.lit(False))
            matched = self._live_matches(
                spark, expect, candidates, schema,
                lambda scan: scan.filter(hit),
            )
            if matched is None:
                return expect  # nothing matched: the table is unchanged
            try:
                chg = None
                if self._meta(expect).get("cdf"):
                    chg = _changes((matched.drop("__rel", "__ri"), "delete"))
                return self._commit_over(
                    expect, local_df(spark, [], schema), "delete_dv",
                    extra_meta, metadata_only=True,
                    aux=self._dv_writer(spark, expect, matched, chg),
                )
            finally:
                matched.unpersist()

        return self._with_retries(attempt, max_retries)

    def materialize_deletes(
        self, spark: SparkSession, max_retries: int = 2
    ) -> str:
        """Fold pending deletion vectors into the data: rewrite ONLY the
        files the vector references, carry every other file by reference,
        clear the vector. Like Delta's deletion-vector purge, each touched
        file's surviving rows become one new file in the same partition
        directory (a fully-deleted file drops from the snapshot), so the
        file layout does not depend on how Spark packs the scan. After
        this, file-granular writers are legal again. No-op when no vector
        is pending."""

        def attempt() -> str:
            expect, target_schema = self._snapshot()
            if not self.has_deletion_vectors(expect):
                return expect
            meta = self._meta(expect)
            current_files = set(self.files(expect))
            touched = sorted(
                r["rel"]
                for r in self._read_dv(spark, expect)
                .select("rel").distinct().collect()
                if r["rel"] in current_files
            )

            def rewrite(staging: str) -> None:
                # Partitioning the write by the touched file's index gives
                # each one its own output file; the files then move up out
                # of the __file=<i> directories into their partition dir.
                cm = meta.get("column_mapping")
                kept = self._live_scan(
                    spark, expect, touched, target_schema
                ).select(
                    *(
                        F.col(c).alias(_cm_phys(cm, c))
                        for c in target_schema.fieldNames()
                    ),
                    F.array_position(
                        F.array(*map(F.lit, touched)), F.col("__rel")
                    ).alias("__file"),
                )
                tmp = os.path.join(staging, "_purge")
                kept.write.partitionBy(
                    *(_cm_phys(cm, c) for c in meta.get("partition_by") or []),
                    "__file",
                ).parquet(tmp)
                for d, _sub, names in os.walk(tmp):
                    i = os.path.basename(d).removeprefix("__file=")
                    part = os.path.join(
                        staging, os.path.relpath(os.path.dirname(d), tmp)
                    )
                    for n in names:
                        if n.endswith(".parquet"):
                            os.makedirs(part, exist_ok=True)
                            new = f"part-f{i}-{n.removeprefix('part-')}"
                            os.rename(
                                os.path.join(d, n), os.path.join(part, new)
                            )
                shutil.rmtree(tmp)

            return self._commit_over(
                expect, local_df(spark, [], target_schema),
                "materialize_deletes", drop=touched,
                aux=rewrite if touched else None, metadata_only=True,
                carry_dv=False,  # the whole point: the vector is folded in
            )

        return self._with_retries(attempt, max_retries)

    def apply_cdc(
        self,
        spark: SparkSession,
        changes: DataFrame,
        keys: list[str],
        op_col: str = "op",
        seq_col: str | None = None,
        max_retries: int = 2,
        extra_meta: dict | None = None,
    ) -> str:
        """Apply a CDC batch — inserts/updates/deletes — as ONE atomic
        file-granular commit (the Delta ``MERGE WHEN MATCHED DELETE``
        shape, i.e. what a Debezium/DynamoDB-Streams consumer runs).

        ``changes`` carries the key columns, the data columns, an
        ``op_col`` in {'I','U','D'} (delete rows may leave data columns
        NULL), and optionally a ``seq_col`` ordering column. With
        ``seq_col`` the batch may contain several ops per key: only the
        LATEST op per key applies (a trailing D deletes, a trailing I/U
        upserts) — per-key last-writer-wins, resolved with one window over
        the (small) change batch. Without it, one op per key is enforced.

        The resolved batch then runs the copy-on-write keyed merge
        ``merge_upsert`` runs (``_merge_cow``): the I/U rows are the update
        set, in the table's recorded columns, and the D keys its
        ``delete_keys`` — manifest min/max candidate pruning on the key
        bounds, one discovery scan for touched files, rewrite = kept rows
        (non-affected keys) + surviving upserts, everything else carried
        by hard link. Deletes that match nothing are no-ops; the whole
        batch lands in exactly one snapshot.
        """
        if seq_col is not None:
            from pyspark.sql.window import Window

            w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
            changes = (
                changes.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            dup = (
                changes.groupBy(*keys)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    "CDC batch has multiple ops for key "
                    f"{[dup[0][k] for k in keys]}; pass seq_col to "
                    "resolve per-key ordering"
                )

        def attempt(gate, latest: DataFrame) -> str:
            return self._keyed_cow(
                spark,
                latest.filter(F.col(op_col).isin("I", "U")),
                latest.filter(F.col(op_col) == "D").select(*keys),
                keys,
                lambda schema, meta: schema.fieldNames(),
                "apply_cdc",
                extra_meta,
                gate,
            )

        return self._keyed_dml((changes,), None, attempt, max_retries)

    def add_columns(
        self,
        spark: SparkSession,
        columns: "StructType | list[StructField] | str",
        max_retries: int = 2,
    ) -> str:
        """ADDITIVE schema evolution as a METADATA-ONLY commit (Delta
        ``ALTER TABLE ADD COLUMNS`` semantics): the recorded schema
        grows, every data file is carried by reference, and carried
        files read the new columns as typed NULLs — the same contract
        additive ``mergeSchema`` writes already rely on (``read()``
        scans with the schema recorded at commit, never footer
        inference). O(manifest) cost: no data IO at any table size.
        ``columns`` is a DDL string (``"c1 INT, c2 STRING"``), a field
        list, or a StructType. Added fields are forced nullable (the
        carried files cannot supply values). Duplicate or existing
        names (case-insensitive, Spark's resolution default) fail
        loudly — as does any non-additive request routed here."""
        if isinstance(columns, str):
            added = StructType.fromDDL(columns).fields
        elif isinstance(columns, StructType):
            added = list(columns.fields)
        else:
            added = list(columns)
        if not added:
            raise ValueError("add_columns needs at least one column")
        names = [f.name for f in added]
        if len({n.lower() for n in names}) != len(names):
            raise ValueError(f"duplicate column names in ADD COLUMNS: {names}")

        def attempt() -> str:
            expect, recorded = self._snapshot()
            existing = {f.name.lower() for f in recorded.fields}
            clash = [n for n in names if n.lower() in existing]
            if clash:
                raise ValueError(
                    f"column(s) {clash} already exist; ADD COLUMNS is "
                    "additive only"
                )
            evolved = StructType(
                list(recorded.fields)
                + [StructField(f.name, f.dataType, True) for f in added]
            )
            return self._commit_over(
                expect, local_df(spark, [], evolved), "add_columns",
                {"columns_added": names}, metadata_only=True,
            )

        return self._with_retries(attempt, max_retries)

    # Delta's type-widening feature set (conservative subset): every
    # listed transition is value-preserving for the narrow type's whole
    # domain under Spark's parquet upcast (int->double is exact for all
    # int32; long->double is NOT and stays excluded).
    _WIDENINGS = {
        "byte": {"short", "integer", "long", "double"},
        "short": {"integer", "long", "double"},
        "integer": {"long", "double"},
        "float": {"double"},
    }

    def widen_column_type(
        self,
        spark: SparkSession,
        column: str,
        new_type: str,
        max_retries: int = 2,
    ) -> str:
        """TYPE WIDENING as a METADATA-ONLY commit (Delta's
        ``typeWidening`` table feature): the recorded schema's column
        becomes the wider type, every data file is carried by
        reference, and Spark's parquet reader upcasts the narrow
        on-disk values per file at scan time (verified for the whole
        ``_WIDENINGS`` map — byte/short/int up to long/double, float to
        double). Anything outside that map — narrowing, string casts,
        long->double (lossy above 2^53) — fails loudly: those need an
        explicit rewrite the user can see the cost of. Partition and
        generated columns are refused (their values live in directory
        names, which don't re-type). Bloom point-lookup pruning on a
        widened column degrades conservatively (literal canon misses,
        no file skipped that shouldn't be)."""
        from pyspark.sql.types import _parse_datatype_string

        want = _parse_datatype_string(new_type)

        def attempt() -> str:
            expect, recorded = self._snapshot()
            meta = self._meta(expect)
            by_lower = {f.name.lower(): f for f in recorded.fields}
            f = by_lower.get(column.lower())
            if f is None:
                raise ValueError(f"no column {column!r} to widen")
            if column.lower() in {
                c.lower() for c in (meta.get("partition_by") or [])
            } or column.lower() in {
                g.lower() for g in (meta.get("generated") or {})
            }:
                raise ValueError(
                    f"{column!r} is a partition/generated column; its "
                    "values are encoded in directory names and cannot "
                    "be re-typed in place"
                )
            cur = f.dataType.typeName()
            tgt = want.typeName()
            if tgt == cur:
                return expect  # idempotent
            if tgt not in self._WIDENINGS.get(cur, set()):
                raise ValueError(
                    f"{cur} -> {tgt} is not a supported widening "
                    f"(allowed from {cur}: "
                    f"{sorted(self._WIDENINGS.get(cur, set())) or 'none'}); "
                    "narrowing or lossy casts need an explicit rewrite"
                )
            evolved = StructType(
                [
                    StructField(
                        x.name,
                        want if x.name.lower() == column.lower() else x.dataType,
                        x.nullable,
                        x.metadata,
                    )
                    for x in recorded.fields
                ]
            )
            return self._commit_over(
                expect, local_df(spark, [], evolved), "widen_type",
                {"type_widened": [column, cur, tgt]}, metadata_only=True,
            )

        return self._with_retries(attempt, max_retries)

    def _evolution_guards(self, meta: dict, column: str, op: str) -> None:
        """Shared refusals for RENAME/DROP COLUMN: CHECK constraints and
        generated-column specs embed the column name in user SQL text —
        rewriting those expressions silently would change semantics, so
        evolution around them is explicit (drop/re-add the constraint)."""
        word = re.compile(rf"\b{re.escape(column)}\b", re.IGNORECASE)
        bad_ck = [
            n
            for n, e in (meta.get("constraints") or {}).items()
            if word.search(e)
        ]
        if bad_ck:
            raise ValueError(
                f"CHECK constraint(s) {bad_ck} reference {column!r}; "
                f"drop and re-add them around the {op}"
            )
        gen = meta.get("generated") or {}
        if any(
            column.lower() in (g.lower(), str(spec[1]).lower())
            for g, spec in gen.items()
        ):
            raise ValueError(
                f"{column!r} participates in a generated-column spec; "
                f"{op} is not supported there"
            )

    def _mapping_of(self, meta: dict) -> dict:
        """The snapshot's column mapping, ACTIVATED on first use: absent
        mappings get the identity mapping over the recorded schema (ids
        1..n, physical = current spelling — Delta's columnMapping=name
        upgrade path; nothing on disk changes)."""
        cm = _cm_copy(meta.get("column_mapping"))
        if cm is None:
            cm = _cm_activate(StructType.fromJson(meta["schema"]))
        return cm

    def rename_column(
        self,
        spark: SparkSession,
        old: str,
        new: str,
        max_retries: int = 2,
    ) -> str:
        """RENAME COLUMN as a METADATA-ONLY commit via id-based column
        mapping (Delta ``columnMapping.mode=name`` / Iceberg field ids —
        r11 verdict task 1; the rewrite-based rename this replaces was
        effectively unavailable on a 100 TB table).

        First use activates the mapping: every current field gets a
        stable id and its spelling FROZEN as the physical name. The
        rename then changes only the recorded logical schema — same id,
        same physical name, zero data files written. Readers resolve
        logical names through the mapping (scan physical, alias back),
        prune predicates and bloom probes translate at the manifest
        boundary, and writes rename logical->physical before the parquet
        write, so fresh and carried files always agree. Time travel keeps
        every pre-rename snapshot readable under its own schema.

        Refuses when a CHECK constraint or a generated-column spec
        references the old name (their SQL text would silently change
        meaning). Partition and bloom columns rename cleanly — directory
        names and stats keys keep the frozen physical spelling."""
        if old.lower() == new.lower():
            raise ValueError("rename_column: old and new name are equal")

        def attempt() -> str:
            expect, recorded = self._snapshot()
            meta = self._meta(expect)
            have = {f.name.lower() for f in recorded.fields}
            if old.lower() not in have:
                raise ValueError(f"no column {old!r} to rename")
            if new.lower() in have:
                raise ValueError(f"column {new!r} already exists")
            self._evolution_guards(meta, old, "rename")
            cm = self._mapping_of(meta)
            entry = cm["fields"].pop(old.lower())
            cm["fields"][new.lower()] = entry
            evolved = StructType(
                [
                    StructField(
                        new if f.name.lower() == old.lower() else f.name,
                        f.dataType,
                        f.nullable,
                        f.metadata,
                    )
                    for f in recorded.fields
                ]
            )
            spec = [
                new if c.lower() == old.lower() else c
                for c in (meta.get("partition_by") or [])
            ]
            blooms = [
                new if c.lower() == old.lower() else c
                for c in (meta.get("bloom_cols") or [])
            ]
            return self._commit_over(
                expect, local_df(spark, [], evolved), "rename_column",
                {"column_renamed": [old, new]}, metadata_only=True,
                partition_by=spec, bloom_cols=blooms, column_mapping=cm,
            )

        return self._with_retries(attempt, max_retries)

    def drop_column(
        self,
        spark: SparkSession,
        column: str,
        max_retries: int = 2,
    ) -> str:
        """DROP COLUMN as a METADATA-ONLY commit via the same id-based
        mapping as ``rename_column``: the field leaves the recorded
        schema, every data file carries by reference, and readers simply
        never bind the dropped physical column (parquet by-name
        projection — the bytes stay on disk until files naturally
        rewrite, exactly Delta's DROP COLUMN contract). The physical
        name stays in ``used_phys`` forever, so a later ADD COLUMNS
        reusing the spelling maps to a FRESH physical name and the
        dropped column's values can never resurrect from carried files.

        Refuses partition and generated columns (their values live in
        directory names), columns referenced by CHECK constraints, and
        dropping the last column."""

        def attempt() -> str:
            expect, recorded = self._snapshot()
            meta = self._meta(expect)
            by_lower = {f.name.lower(): f for f in recorded.fields}
            if column.lower() not in by_lower:
                raise ValueError(f"no column {column!r} to drop")
            if len(recorded.fields) == 1:
                raise ValueError("cannot drop the table's only column")
            if column.lower() in {
                c.lower() for c in (meta.get("partition_by") or [])
            } or column.lower() in {
                g.lower() for g in (meta.get("generated") or {})
            }:
                raise ValueError(
                    f"{column!r} is a partition/generated column; its "
                    "values are encoded in directory names — repartition "
                    "the table (rewrite_layout) before dropping it"
                )
            self._evolution_guards(meta, column, "drop")
            cm = self._mapping_of(meta)
            cm["fields"].pop(column.lower(), None)
            evolved = StructType(
                [
                    f
                    for f in recorded.fields
                    if f.name.lower() != column.lower()
                ]
            )
            blooms = [
                c
                for c in (meta.get("bloom_cols") or [])
                if c.lower() != column.lower()
            ]
            return self._commit_over(
                expect, local_df(spark, [], evolved), "drop_column",
                {"column_dropped": column}, metadata_only=True,
                bloom_cols=blooms, column_mapping=cm,
            )

        return self._with_retries(attempt, max_retries)

    def rewrite_layout(
        self,
        spark: SparkSession,
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
        n_files: int | None = None,
        max_retries: int = 2,
    ) -> str:
        """Change the table's physical layout — partition spec, in-file
        sort order, file count — as ONE atomic commit (same rows, new
        files). The lakehouse partition-spec-evolution move for engines
        without hidden partitioning (Delta's is also a rewrite): readers
        see the old layout or the new one, never a mix, and time travel
        keeps every prior layout readable. Pass ``partition_by=[]`` to
        UNpartition. The full-table rewrite cost is the honest price;
        for file-count-only maintenance use ``compact`` (file-granular).
        """

        def attempt() -> str:
            expect = self.current_version()
            if expect is None:
                raise FileNotFoundError(f"no committed version at {self.root}")
            df = self.read(spark, expect)
            if n_files:
                df = (
                    df.repartition(n_files)
                    if not sort_within
                    else df.repartitionByRange(n_files, *sort_within)
                )
            spec = (
                self._meta(expect).get("partition_by") or []
                if partition_by is None
                else partition_by
            )
            # pass [] through verbatim: commit() only inherits the parent
            # spec on None, so an explicit [] really unpartitions
            return self.commit(
                df,
                partition_by=list(spec),
                sort_within=sort_within,
                operation="rewrite_layout",
                # the rewrite's rows were READ from expect: committing
                # against a newer head would drop its concurrent writes
                expect_parent=expect,
                # a full rewrite carries NO old files, so it may retire
                # the column mapping entirely ({} verbatim): the fresh
                # files are written under the logical spellings and the
                # table becomes a plain-names table again — the
                # "materialize the mapping" escape hatch register() and
                # the Delta exporter point at
                column_mapping={},
            )

        return self._with_retries(attempt, max_retries)

    def zorder_by(
        self,
        spark: SparkSession,
        cols: list[str],
        n_files: int = 16,
        max_retries: int = 2,
    ) -> str:
        """Multi-dimensional clustering rewrite (Delta ``OPTIMIZE ...
        ZORDER BY`` semantics): same rows, new files ordered by the
        Morton interleave of the columns' approximate quantile ranks
        (``ops/zorder.py`` — the no-global-window normalization, the
        plan that survives 100 TB), committed atomically. Each written
        file then covers a tight hyper-rectangle of the key space, so
        the manifest's per-file min/max stats prune BOX predicates on
        every z-ordered dimension — which a single-column sort can only
        give for its leading column.

        Unpartitioned tables only (a partitioned rewrite would need
        per-partition clustering — use ``rewrite_layout`` to flatten
        first, as Delta restricts ZORDER columns to non-partition
        columns for the same reason)."""
        from .ops.zorder import (
            APPROX_BITS,
            interleave_bits,
            quantile_normalize_multi,
        )

        def attempt() -> str:
            expect = self.current_version()
            if expect is None:
                raise FileNotFoundError(f"no committed version at {self.root}")
            if self._meta(expect).get("partition_by"):
                raise ValueError(
                    "zorder_by supports unpartitioned tables; "
                    "rewrite_layout(partition_by=[]) first"
                )
            df = self.read(spark, expect)
            missing = [c for c in cols if c not in df.columns]
            if missing:
                raise ValueError(f"zorder columns {missing} not in table")
            normed = quantile_normalize_multi(df, list(cols), APPROX_BITS)
            z = interleave_bits(normed, APPROX_BITS)
            out = (
                df.withColumn("__z", z)
                .repartitionByRange(n_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            return self.commit(
                out,
                operation="zorder",
                expect_parent=expect,
            )

        return self._with_retries(attempt, max_retries)

    def publish(self, version: str) -> str:
        """Write-audit-publish, step 3: make a STAGED snapshot (written
        with ``commit(..., publish=False)``) the live table.

        The WAP pattern (Iceberg audit branches / Netflix WAP): a pipeline
        writes its output as a full, immutable, readable-but-unreferenced
        snapshot; audits run against ``read(spark, version)``; only then
        does the pointer move. A bad batch is simply never published — no
        rollback, readers never saw it. Publishing re-checks the staged
        snapshot's recorded parent against the live pointer (optimistic
        concurrency): if the table advanced since staging, this raises
        ``ConcurrentCommitError`` and the staged work must be redone
        against the new head (same conflict rule as any commit).
        """
        meta = self._meta(version)  # raises if the staged snapshot is gone
        self._swap_pointer(version, meta.get("parent"))
        return version

    def clone_to(
        self,
        spark: SparkSession,
        dest_root: str,
        version: str | None = None,
    ) -> "TxnTable":
        """Shallow clone (Delta CLONE semantics): a NEW independent table
        whose first snapshot references this table's files by hard link —
        no data copied, metadata rebuilt, O(files) links. The clone then
        evolves independently (its commits never touch the source's
        files: merges/deletes rewrite into the clone's own versions), the
        dev-branch / experiment workflow. Vacuuming the SOURCE does not
        break the clone locally (hard links keep bytes alive); on an
        object store the clone's manifest pins the source objects, the
        same caveat Delta shallow clones carry.
        """
        v = version or self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        meta_v = self._meta(v)
        src_root = os.path.join(self.root, _VERSIONS, v)
        # the clone shares the store (stores are path-keyed, so one
        # instance serves many tables)
        dest = TxnTable(dest_root, store=self.store)
        if dest.current_version() is not None:
            raise ValueError(f"clone target {dest_root} is not empty")
        src_entries = self.file_entries(v)
        carry = {
            rel: os.path.join(src_root, rel) for rel in src_entries
        }
        schema = StructType.fromJson(meta_v["schema"])
        # a DV-bearing source clones WITH its deletion vector (Delta
        # clones carry DVs): commit's automatic carry-forward can't see
        # across table roots, so link it explicitly — without this the
        # clone would resurrect the suppressed rows
        aux = None
        src_dv = self._dv_dir(v)
        if os.path.isdir(src_dv):

            def aux(staging: str, _src: str = src_dv) -> None:
                dst = os.path.join(staging, _DV_DIR)
                os.makedirs(dst, exist_ok=True)
                for n in os.listdir(_src):
                    if not n.startswith("."):
                        # clone: source table may sit on another fs
                        _link_or_copy(
                            os.path.join(_src, n), os.path.join(dst, n)
                        )

        dest.commit(
            local_df(spark, [], schema),
            # [] passes through verbatim (commit only inherits on None):
            # cloning an unpartitioned snapshot must record unpartitioned
            partition_by=list(meta_v.get("partition_by") or []),
            # table properties travel with the clone
            bloom_cols=list(meta_v.get("bloom_cols") or []),
            constraints=dict(meta_v.get("constraints") or {}),
            cdf=bool(meta_v.get("cdf", False)),
            # {} verbatim when the source has no mapping (a clone target
            # is empty so there is nothing to inherit either way)
            column_mapping=meta_v.get("column_mapping") or {},
            operation="clone",
            carry_files=carry,
            # stats travel from the source manifest - no footer re-reads
            carry_entries=src_entries,
            extra_meta={"cloned_from": f"{self.root}@{v}"},
            aux_writer=aux,
        )
        return dest

    def restore(
        self,
        spark: SparkSession,
        version: str,
        max_retries: int = 2,
        extra_meta: dict | None = None,
    ) -> str:
        """Roll the table BACK to an earlier snapshot as a NEW commit
        (Delta RESTORE semantics): the live state becomes ``version``'s
        exactly — files (carried by reference, no data copied), schema,
        and partition spec — while history is preserved, so the rollback
        is itself auditable and reversible. A reader mid-flight on the
        bad snapshot is unaffected; the next reader resolves the restored
        one. The restored files must still exist: restore cannot reach
        past ``vacuum``.
        """
        meta_v = self._meta(version)  # raises if the snapshot is gone
        src_root = os.path.join(self.root, _VERSIONS, version)

        def attempt() -> str:
            restored_entries = self.file_entries(version)
            carry = {
                rel: os.path.join(src_root, rel)
                for rel in restored_entries
            }
            schema = StructType.fromJson(meta_v["schema"])
            empty = local_df(spark, [], schema)
            return self.commit(
                empty,
                # [] verbatim: restoring an unpartitioned snapshot from a
                # partitioned head must NOT inherit the head's spec (None
                # would), or the next append mixes root-level files with
                # partition dirs under one basePath
                partition_by=list(meta_v.get("partition_by") or []),
                # restore reinstates table PROPERTIES too, not just files
                bloom_cols=list(meta_v.get("bloom_cols") or []),
                constraints=dict(meta_v.get("constraints") or {}),
                cdf=bool(meta_v.get("cdf", False)),
                # {} verbatim: restoring a pre-mapping snapshot from a
                # mapped head must NOT inherit the head's mapping — the
                # restored files carry the restored schema's spellings
                column_mapping=meta_v.get("column_mapping") or {},
                operation="restore",
                carry_files=carry,
                # stats travel from the RESTORED snapshot's manifest —
                # the head's fragments may not list these files at all
                carry_entries=restored_entries,
                carry_src=version,
                extra_meta={
                    "restored_from": version, **(extra_meta or {})
                },
            )

        return self._with_retries(attempt, max_retries)

    def maintain(
        self,
        spark: SparkSession,
        *,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_ratio: float = 0.5,
        min_files: int = 8,
        dv_row_ratio: float = 0.1,
        vacuum_keep: int | None = None,
        retain_hours: float | None = None,
    ) -> dict:
        """One-call maintenance policy (the auto-OPTIMIZE loop a managed
        lakehouse runs): decide from the MANIFEST ALONE — no data IO, no
        directory listing — which of the three maintenance operations the
        table currently needs, run them in dependency order, and report
        what happened. Idempotent: a healthy table is a metadata read and
        three skips, so a scheduler can call this every few minutes.

        Policy, in the order the ops compose:

        1. **materialize_deletes** when the pending deletion vector
           suppresses more than ``dv_row_ratio`` of the manifest's rows —
           below that, the read-side anti-join stays cheaper than the
           rewrite (the MoR trade measured in SCALING.md r9); also
           unblocks compaction, which refuses under a pending vector.
        2. **compact** when more than ``small_file_ratio`` of the
           snapshot's files are smaller than half ``target_file_bytes``
           and the table has at least ``min_files`` files — rewrite IO is
           proportional to the small-file bytes only.
        3. **vacuum** when ``vacuum_keep`` is given — age-guarded by
           ``retain_hours`` exactly like calling it directly.

        Returns ``{"materialized": bool, "compacted": bool,
        "vacuumed": [versions], "version": head}``.
        """
        out: dict = {
            "materialized": False,
            "compacted": False,
            "vacuumed": [],
        }
        head = self.current_version()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        # 1. deletion-vector pressure, measured from manifest row counts
        #    and the vector's own (tiny) parquet footprint
        if self.has_deletion_vectors(head):
            import pyarrow.parquet as _pq

            entries = self.file_entries(head)
            total_rows = sum(int(e.get("rows", 0)) for e in entries.values())
            dv_dir = self._dv_dir(head)
            dv_rows = sum(
                _pq.ParquetFile(os.path.join(dv_dir, n)).metadata.num_rows
                for n in os.listdir(dv_dir)
                if n.endswith(".parquet")
            )
            if total_rows and dv_rows / total_rows > dv_row_ratio:
                self.materialize_deletes(spark)
                out["materialized"] = True
                head = self.current_version()
        # 2. small-file pressure, from the manifest's recorded bytes
        if not self.has_deletion_vectors(head):
            entries = self.file_entries(head)
            small_cut = target_file_bytes // 2
            n_small = sum(
                1 for e in entries.values() if int(e.get("bytes", 0)) < small_cut
            )
            if (
                len(entries) >= min_files
                and n_small / max(len(entries), 1) > small_file_ratio
            ):
                v = self.compact(spark, target_file_bytes=target_file_bytes)
                out["compacted"] = v != head
                head = self.current_version()
        if vacuum_keep is not None:
            out["vacuumed"] = self.vacuum(
                keep=vacuum_keep, retain_hours=retain_hours
            )
        out["version"] = self.current_version()
        return out

    def commit_staged(
        self,
        source: str,
        overwrite: bool = False,
        schema: StructType | None = None,
        partition_by: list[str] | None = None,
        operation: str | None = None,
        extra_meta: dict | None = None,
        merge_schema: bool = False,
        max_retries: int = 2,
    ) -> str:
        """Publish EXTERNALLY-STAGED parquet files as a new snapshot —
        with NO SparkSession. This is the driver-side commit of the
        ``df.write.format("txn")`` batch writer (sources/txn_source.py):
        executors stage their task outputs, and this call assembles the
        manifest (per-file stats via serial pyarrow), hard-links the
        staged files plus — for append — every parent file, and
        atomically renames + CAS-publishes, through the same
        ``_publish_staging`` core every library write uses. The source
        dir is left untouched (hard-linked per attempt), so optimistic
        retries against a moved head re-link from it; the caller owns its
        cleanup.

        Refuses tables with CHECK constraints or generated partition
        columns: both require evaluating expressions over the incoming
        rows, which without a session would mean silently skipping
        enforcement — write through the library API (``commit`` /
        ``append``) for those tables. ``schema`` (the writer's Spark
        schema, partition columns included) is required when the table
        does not exist yet; existing tables record their own.
        """
        rels = sorted(
            os.path.relpath(os.path.join(r, n), source)
            for r, _d, ns in os.walk(source)
            for n in ns
            if n.endswith(".parquet")
        )

        def attempt() -> str:
            expect = self.current_version()
            parent_meta = self._meta(expect) if expect is not None else {}
            if parent_meta.get("constraints"):
                raise ValueError(
                    "commit_staged cannot enforce CHECK constraints "
                    "(no session to evaluate them); use the library "
                    "write path for constrained tables"
                )
            if parent_meta.get("generated"):
                raise ValueError(
                    "commit_staged cannot derive generated partition "
                    "columns; use the library write path"
                )
            cm = _cm_copy(parent_meta.get("column_mapping"))
            if _cm_divergent(cm):
                raise ValueError(
                    "commit_staged cannot write this table: columnMapping "
                    "is active with physical names diverging from logical "
                    "(a rename happened); the staged files carry logical "
                    "names — write through the TxnTable API instead"
                )
            if expect is not None:
                recorded = StructType.fromJson(parent_meta["schema"])
                pb = parent_meta.get("partition_by") or []
                if schema is not None and not overwrite:
                    by_name = {f.name: f for f in schema.fields}
                    rec_names = {f.name for f in recorded.fields}
                    missing = [
                        f.name
                        for f in recorded.fields
                        if f.name not in by_name
                    ]
                    changed = [
                        f.name
                        for f in recorded.fields
                        if f.name in by_name
                        and by_name[f.name].dataType != f.dataType
                    ]
                    extras = [
                        f for f in schema.fields if f.name not in rec_names
                    ]
                    if missing or changed or (extras and not merge_schema):
                        raise ValueError(
                            "staged append schema mismatch "
                            f"(missing={missing}, type-changed={changed}, "
                            f"new={[f.name for f in extras]}): only "
                            "additive evolution is supported, via "
                            "merge_schema=True / option('mergeSchema')"
                        )
                    if extras:
                        # additive evolution: recorded schema grows; the
                        # carried files read the new columns as typed
                        # NULLs (_relax_added in _publish_staging)
                        recorded = StructType(
                            list(recorded.fields) + extras
                        )
                        if cm:
                            for f in extras:
                                _cm_assign(cm, f.name)
                                assigned = cm["fields"][f.name.lower()]
                                if assigned["physical"] != f.name:
                                    # the staged files already carry the
                                    # logical spelling — which a dropped
                                    # column used physically; accepting
                                    # them would resurrect its bytes
                                    raise ValueError(
                                        f"staged column {f.name!r} reuses "
                                        "a dropped column's physical name;"
                                        " write through the TxnTable API"
                                    )
                if overwrite and schema is not None:
                    recorded = schema
                    pb = (
                        partition_by
                        if partition_by is not None
                        else pb
                    )
            else:
                if schema is None:
                    raise ValueError(
                        "schema is required to create a table via "
                        "commit_staged"
                    )
                recorded = schema
                pb = partition_by or []
            if not rels:
                if expect is not None and not overwrite:
                    return expect  # empty append: the table is unchanged
                if not overwrite:
                    raise ValueError(
                        f"no parquet files staged at {source}"
                    )
                # overwrite with zero staged files publishes an EMPTY
                # snapshot (Spark native writer semantics: overwriting
                # with an empty DataFrame truncates, it doesn't error).
                # `recorded` is always bound here: either the writer
                # passed a schema, the existing table recorded one, or
                # the schema-required error above already fired.
            staging = os.path.join(
                self.root, _VERSIONS, f".tmp-{os.getpid()}-{time.time_ns()}"
            )
            os.makedirs(staging, exist_ok=True)
            try:
                for rel in rels:
                    # writer staging may sit on another fs than the table
                    _link_or_copy(
                        os.path.join(source, rel), os.path.join(staging, rel)
                    )
            except Exception:
                shutil.rmtree(staging, ignore_errors=True)
                raise
            carry: dict[str, str] = {}
            if expect is not None and not overwrite:
                carry = self._carry(expect)
            # watermark fold-forward, same as commit(); the caller's own
            # extra_meta (e.g. the streaming sink's epoch id) wins
            extra: dict = {}
            for wk in _WATERMARK_KEYS:
                if wk in parent_meta.get("extra", {}):
                    extra[wk] = parent_meta["extra"][wk]
            extra.update(extra_meta or {})
            return self._publish_staging(
                staging,
                carry_files=carry,
                carry_resolver=None,
                carry_entries=None,
                carry_src=expect,
                expect=expect,
                parent_meta=parent_meta,
                operation=operation
                or ("overwrite" if overwrite else "append"),
                partition_by=pb or None,
                bloom_cols=parent_meta.get("bloom_cols") or [],
                constraints={},
                cdf=bool(parent_meta.get("cdf", False)),
                generated={},
                extra=extra,
                publish=True,
                schema=recorded,
                spark=None,
                carry_dv=True,
                aux_written=False,
                column_mapping=cm,
            )

        return self._with_retries(attempt, max_retries)

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: int | None = None,
        sort_within: list[str] | None = None,
    ) -> str:
        """File-granular small-file compaction (Delta OPTIMIZE semantics):
        within each partition, bin-pack only the files smaller than
        ``small_file_bytes`` into ~``target_file_bytes`` outputs; every
        already-right-sized file — and every untouched partition — carries
        into the new snapshot by reference. Same rows, fewer files, same
        partition spec, published atomically like any commit.

        A streaming/hourly ingest leaves thousands of tiny files per
        partition; rewriting the WHOLE table to fix that (the naive
        ``coalesce`` compact) costs a full-table IO pass. Here the rewrite
        IO is proportional to the small-file bytes only — at 100 TB that is
        the difference between a maintenance job and a migration. Returns
        the current version unchanged when there is nothing to compact, so
        schedulers can call it idempotently.

        Each partition's small files become their own union branch with an
        exact per-partition ``coalesce`` — per-partition bin-packing that a
        single global repartition cannot express. Partition count bounds
        the plan width; a real deployment runs one job per partition group
        (as Delta's OPTIMIZE does), which this layout maps onto directly.
        """
        expect = self.current_version()
        if expect is not None:
            self._require_no_dv(expect, "compact")
        if expect is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        if small_file_bytes is None:
            small_file_bytes = target_file_bytes // 2
        partition_by = self._meta(expect).get("partition_by") or []
        depth = len(partition_by)
        data_root = os.path.join(self.root, _VERSIONS, expect)
        # File list AND sizes come from the manifest (the "bytes" entry each
        # commit records) — planning a compaction is pure metadata, no
        # directory listing, no stat calls.
        by_part: dict[tuple, list[tuple[str, int]]] = {}
        for rel, entry in self.file_entries(expect).items():
            part = tuple(rel.split(os.sep)[:depth]) if depth else ()
            by_part.setdefault(part, []).append((rel, entry["bytes"]))
        rewrite: list[tuple[list[str], int]] = []
        carry: dict[str, str] = {}
        for files in by_part.values():
            small = [(rel, b) for rel, b in files if b < small_file_bytes]
            keep = (
                files
                if len(small) < 2
                else [rb for rb in files if rb not in set(small)]
            )
            for rel, _b in keep:
                carry[rel] = os.path.join(data_root, rel)
            if len(small) >= 2:
                size = sum(b for _rel, b in small)
                rewrite.append(
                    (
                        [os.path.join(data_root, rel) for rel, _b in small],
                        max(1, -(-size // target_file_bytes)),
                    )
                )
        if not rewrite:
            return expect
        # Rewrite under the RECORDED snapshot schema, not footer inference:
        # if every small file predates an additive evolution, inference
        # would drop the evolved column from the new snapshot's schema for
        # ALL rows (carried files included), and mixed-schema branches
        # could fail the union. The recorded schema keeps typed NULLs.
        schema = StructType.fromJson(self._meta(expect)["schema"])
        cm = self._meta(expect).get("column_mapping")
        branches = [
            _cm_to_logical(
                spark.read.option("basePath", data_root)
                .schema(_cm_phys_schema(schema, cm))
                .parquet(*fs),
                schema,
                cm,
            ).coalesce(bins)
            for fs, bins in rewrite
        ]
        df = branches[0]
        for b in branches[1:]:
            df = df.unionByName(b)
        # union and sortWithinPartitions are both narrow, so each branch's
        # coalesce partitioning — and with it the per-partition bin count —
        # survives through commit()'s write untouched
        return self.commit(
            df, sort_within=sort_within, operation="compact",
            carry_files=carry, carry_src=expect, expect_parent=expect,
        )

    def changed_files(
        self, since: str | None, until: str | None = None
    ) -> dict[str, list[str]]:
        """Per-version absolute paths of files FRESHLY WRITTEN in each
        snapshot after ``since`` up to ``until`` (default: the live
        version). Carried (hard-linked) files are excluded — they hold only
        rows an earlier snapshot already exposed."""
        until = until or self.current_version()
        if until is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        lo = int(since[1:]) if since else 0
        hi = int(until[1:])
        out: dict[str, list[str]] = {}
        for meta in self.history():
            v = meta["version"]
            if lo < int(v[1:]) <= hi:
                root = os.path.join(self.root, _VERSIONS, v)
                # each commit's core meta indexes its fresh rels per shard —
                # the change feed never loads shard fragments at all
                out[v] = sorted(
                    os.path.join(root, rel)
                    for info in meta["shards"].values()
                    for rel in info["fresh"]
                )
        return out

    def read_changes(
        self, spark: SparkSession, since: str | None, until: str | None = None
    ) -> DataFrame:
        """Incremental consumption: rows added between two snapshots —
        the files each version wrote, skipping everything carried by
        reference. One manifest diff, zero data rewritten, IO proportional
        to the change, not the table: the feed a downstream incremental
        aggregate / materialized view reads instead of re-scanning 100 TB.

        Granularity contract (file-level, like Delta CDF without a change
        log): for ``append`` this is EXACT row-level changes. For
        ``merge_upsert`` / ``compact`` / ``overwrite_partitions`` the
        rewritten files also re-expose unchanged rows that shared a file
        with a change — consumers keyed on a primary key upsert these
        idempotently (the standard file-grain CDC contract). ``compact`` in
        particular adds no new rows, only re-homes them.

        Deletions are NOT in the feed: ``delete_where`` re-exposes
        surviving rows of rewritten files (same file-grain contract as
        merge), while ``delete_where_deferred`` writes no fresh files at
        all — its ``delete_dv`` operation breaks the append-only check
        downstream consumers use (``ops.incremental._range_is_append_only``),
        forcing their full-recompute path, which reads the DV-applied
        snapshot. Consumers tailing this feed directly must do the same on
        any non-append operation.

        Reads resolve snapshot directories that ``vacuum`` may later
        remove — consume changes before vacuuming past them.
        """
        per_version = self.changed_files(since, until)
        branches = []
        for v, paths in per_version.items():
            if not paths:
                continue
            vmeta = self._meta(v)
            vschema = (
                StructType.fromJson(vmeta["schema"])
                if vmeta.get("schema")
                else None
            )
            reader = spark.read.option(
                "basePath", os.path.join(self.root, _VERSIONS, v)
            )
            if vschema is not None:
                reader = reader.schema(
                    _cm_phys_schema(vschema, vmeta.get("column_mapping"))
                )
            b = reader.parquet(*paths)
            if vschema is not None:
                b = _cm_to_logical(
                    b, vschema, vmeta.get("column_mapping")
                )
            branches.append(b)
        if not branches:
            schema = local_df(spark, [], self.read(spark, until or self.current_version()).schema
            )
            return schema
        df = branches[0]
        for b in branches[1:]:
            df = df.unionByName(b)
        return df

    def vacuum(
        self,
        keep: int = 2,
        retain_hours: float | None = None,
        changes_cursor: str | None = None,
        force: bool = False,
    ) -> list[str]:
        """Drop old snapshots (never the live one), subject to two guards:

        * ``retain_hours`` — age-based retention (Delta VACUUM's window):
          snapshots committed within the last ``retain_hours`` survive even
          beyond the ``keep`` count, protecting in-flight readers that
          resolved them recently.
        * ``changes_cursor`` — change-feed protection: a ``read_changes``
          consumer whose cursor is ``changes_cursor`` still needs every
          snapshot AFTER it. Vacuuming one of those raises
          ``VacuumProtectionError`` unless ``force=True`` (the explicit
          "I know I'm breaking the feed" override, like Delta's retention
          check disable).
        """
        vdir = os.path.join(self.root, _VERSIONS)
        versions = sorted(
            v
            for v in os.listdir(vdir)
            if v.startswith("v") and v[1:].isdigit()
        )
        live = self.current_version()
        cutoff = (
            time.time() - retain_hours * 3600.0
            if retain_hours is not None
            else None
        )
        candidates = [
            v for v in versions[: max(0, len(versions) - keep)] if v != live
        ]
        if cutoff is not None:
            candidates = [
                v
                for v in candidates
                if self._meta(v).get("committed_at_unix", 0) < cutoff
            ]
        if changes_cursor is not None and not force:
            unread = [
                v for v in candidates if int(v[1:]) > int(changes_cursor[1:])
            ]
            if unread:
                raise VacuumProtectionError(
                    f"snapshots {unread} hold changes a consumer at "
                    f"{changes_cursor} has not read; pass force=True to "
                    "drop them anyway"
                )
        removed = []
        for v in candidates:
            shutil.rmtree(os.path.join(vdir, v), ignore_errors=True)
            removed.append(v)
        return removed
