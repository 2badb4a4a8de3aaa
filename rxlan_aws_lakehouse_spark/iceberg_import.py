"""Read-only Apache ICEBERG import (round 13, r12 verdict task 2).

``BASELINE.json``'s stated production approach is "Spark SQL + Delta/
Iceberg over S3"; round 12 built the Delta half (``import_delta``),
this module is the Iceberg twin: replay the PUBLIC Iceberg table spec
(https://iceberg.apache.org/spec/) — ``metadata/*.metadata.json`` →
snapshot → manifest-list Avro → manifest Avro → data files — and scan
the live files as one Spark DataFrame.  Nothing here touches an
Iceberg library: the Avro container files are decoded by
``avro_lite.py`` and the JSON tree is walked directly, the same
hand-rolled-from-spec posture as the Delta importer.

Spec mechanics honored:

* **current metadata**: ``max(version-hint.text, highest scanned
  v<N>.metadata.json)`` — the hint is advisory, the atomic metadata
  link is the commit point (HadoopTables convention); format-version
  1, 2 and 3 replay, 4+ refuses loudly by number.  v3 DELETION
  VECTORS (round 15) read correctly: Puffin ``deletion-vector-v1``
  blobs addressed by the manifest's ``referenced_data_file`` +
  ``content_offset``/``content_size_in_bytes``, decoded per the spec
  (BE length prefix + magic ``D1 D3 39 64`` + portable Roaring64 +
  CRC-32 — ``puffin_lite.py``), replacing any older position deletes
  for the referenced file per the v3 rule.
* **snapshot resolution**: ``current-snapshot-id`` by default,
  ``snapshot_id=`` pins time travel to any snapshot still listed,
  ``timestamp=`` resolves through the metadata ``snapshot-log``
  (round 14, the twin of the Delta importer's ``timestampAsOf``).
* **column binding is FIELD-ID based** — the defining Iceberg reader
  rule.  The requested Spark schema carries each field's
  ``parquet.field.id`` metadata and Spark's native field-id resolution
  matches the footer ids, so renamed columns and rewritten files read
  correctly with zero name coupling (same mechanism as the Delta
  importer's id-mode, delta_export.py).
* **identity partition columns live IN the data files** (unlike hive/
  Delta) — no partition-value reattachment is needed for correctness;
  partition data in manifests is used for FILE SKIPPING only.
* **two metadata-level prunes before Spark plans a task**: the
  manifest list's per-manifest ``partitions`` field summaries skip
  whole manifests unread; each manifest entry's partition values and
  ``lower_bounds``/``upper_bounds`` (decoded per the spec's
  single-value binary serialization) skip individual files.  Both are
  TRANSFORM-AWARE (round 14, r13 verdict task 2): ``identity``
  compares verbatim, ``bucket[N]`` maps equality predicates through
  the spec's 32-bit Murmur3 hash, ``truncate[W]`` and
  ``year/month/day/hour`` are order-preserving so range predicates map
  to relaxed partition-space ranges.  Conservative throughout: unknown
  types/transforms never prune.
* **merge-on-read row-level deletes read correctly** (round 14, r13
  verdict task 1): position delete files mask data rows by ordinal,
  equality delete files anti-join on their equality-id columns (null
  matching null), both scoped per the spec's scan-planning rules —
  sequence-number ordering (position: delete seq >= data seq;
  equality: strictly greater) and partition scoping (same spec +
  values, or a global unpartitioned delete).  Decoding is
  EXECUTOR-side inside the Arrow read (``apply_iceberg_deletes``),
  the same shape as the foreign-Delta deletion-vector decode.
* **refusals, loudly by name**: non-parquet data file formats,
  format-version ≥ 4, unknown manifest content — each names the
  construct so a user knows exactly what the table uses.

Scale shape: O(metadata bytes) driver work — manifest Avro is KBs per
thousands of files — then ONE parquet scan of the surviving files.
A 100 TB Iceberg table imports at the cost of its metadata plus the
files the predicate keeps.
"""

from __future__ import annotations

import json
import os
import re
import struct

from .avro_lite import read_avro
from .catalog import local_df

_DECIMAL_RE = re.compile(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)")
_FIXED_RE = re.compile(r"fixed\[(\d+)\]")


# ------------------------------------------------------------- metadata


def _resolve(table_path: str, p: str) -> str:
    """Iceberg metadata stores absolute URIs; fixtures may use relative
    paths.  Strip a ``file:`` scheme, keep absolute paths, anchor
    relative ones at the table root."""
    if p.startswith("file://"):
        p = p[len("file://") :]
    elif p.startswith("file:"):
        p = p[len("file:") :]
    if os.path.isabs(p):
        return p
    return os.path.join(table_path, p)


def load_table_metadata(path: str) -> dict:
    """Current ``*.metadata.json`` of an Iceberg table directory (see
    ``load_table_metadata_versioned`` for the resolution rule)."""
    return load_table_metadata_versioned(path)[0]


def load_table_metadata_versioned(path: str) -> tuple[dict, int]:
    """Current ``*.metadata.json`` of an Iceberg table directory, plus
    the metadata VERSION NUMBER actually read — writers pin their
    commit slot to exactly this version + 1 (create-if-absent), so a
    commit racing in between read and publish collides loudly instead
    of being silently built over.

    The HadoopCatalog commit point is the atomic CREATION of
    ``v<N>.metadata.json``; ``version-hint.text`` is advisory (written
    AFTER the commit, non-atomically).  So the hint is a floor, never
    a ceiling: always scan for the highest ``v<N>.metadata.json`` and
    take ``max(hint, highest scanned)`` — a crash between a writer's
    metadata link and its hint update must not hide the committed
    snapshot (nor wedge later appenders on a stale hint)."""
    mdir = os.path.join(path, "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(f"no metadata/ directory under {path}")
    hint = os.path.join(mdir, "version-hint.text")
    hint_n = None
    if os.path.exists(hint):
        with open(hint) as f:
            hint_n = int(f.read().strip())
    versions = [
        int(m.group(1))
        for name in os.listdir(mdir)
        if (m := re.fullmatch(r"v(\d+)\.metadata\.json", name))
    ]
    if hint_n is not None and not versions:
        raise FileNotFoundError(
            f"version-hint.text names v{hint_n} but no "
            f"v*.metadata.json exists under {mdir}"
        )
    if not versions:
        raise FileNotFoundError(
            f"no v*.metadata.json under {mdir} and no version-hint"
        )
    n = max([hint_n] + versions) if hint_n is not None else max(versions)
    if not os.path.exists(os.path.join(mdir, f"v{n}.metadata.json")):
        # hint points ABOVE every real file (e.g. manual surgery):
        # fall back to the highest committed metadata rather than fail
        n = max(versions)
    with open(os.path.join(mdir, f"v{n}.metadata.json")) as f:
        meta = json.load(f)
    fv = int(meta.get("format-version", 1))
    if fv > 3:
        raise ValueError(
            f"cannot import: Iceberg format-version {fv} is not "
            "supported (1, 2 and 3 are)"
        )
    return meta, n


def _current_schema(meta: dict) -> dict:
    """The snapshot-current Iceberg schema struct (v2: ``schemas`` +
    ``current-schema-id``; v1: inline ``schema``)."""
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
        raise ValueError(f"current-schema-id {sid} not in schemas")
    return meta["schema"]


def iceberg_to_spark_type(t):
    """Iceberg type -> Spark DataType (spec type-name grammar)."""
    from pyspark.sql import types as T

    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return T.StructType(
                [
                    T.StructField(
                        f["name"],
                        iceberg_to_spark_type(f["type"]),
                        not f.get("required", False),
                        {"parquet.field.id": int(f["id"])},
                    )
                    for f in t["fields"]
                ]
            )
        if k == "list":
            return T.ArrayType(
                iceberg_to_spark_type(t["element"]),
                not t.get("element-required", False),
            )
        if k == "map":
            return T.MapType(
                iceberg_to_spark_type(t["key"]),
                iceberg_to_spark_type(t["value"]),
                not t.get("value-required", False),
            )
        raise ValueError(f"unsupported Iceberg nested type {k!r}")
    prim = {
        "boolean": "boolean",
        "int": "integer",
        "long": "long",
        "float": "float",
        "double": "double",
        "date": "date",
        "string": "string",
        "uuid": "string",
        "binary": "binary",
        # timestamptz is UTC-adjusted -> Spark timestamp;
        # timestamp (no tz) -> timestamp_ntz, the same split Delta uses
        "timestamptz": "timestamp",
        "timestamp": "timestamp_ntz",
    }
    from pyspark.sql import types as T

    if t in prim:
        return getattr(
            T,
            {
                "boolean": "BooleanType",
                "integer": "IntegerType",
                "long": "LongType",
                "float": "FloatType",
                "double": "DoubleType",
                "date": "DateType",
                "string": "StringType",
                "binary": "BinaryType",
                "timestamp": "TimestampType",
                "timestamp_ntz": "TimestampNTZType",
            }[prim[t]],
        )()
    m = _DECIMAL_RE.fullmatch(t)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = _FIXED_RE.fullmatch(t)
    if m:
        return T.BinaryType()
    raise ValueError(f"unsupported Iceberg type {t!r}")


def _spark_schema(meta: dict):
    from pyspark.sql.types import StructType

    st = iceberg_to_spark_type(_current_schema(meta))
    if not isinstance(st, StructType):
        raise ValueError("Iceberg schema root must be a struct")
    return st


# ----------------------------------------------------------- file prune
def _kvmap(x) -> dict:
    """Iceberg's Avro 'map with non-string keys' round-trips as an
    array of {key, value} records; normalize both shapes to a dict."""
    if x is None:
        return {}
    if isinstance(x, dict):
        return x
    return {e["key"]: e["value"] for e in x}


def _decode_bound(t: str, b: bytes):
    """Spec 'single-value binary serialization' for the bound types a
    range comparison can use; None for everything else (no pruning)."""
    if b is None:
        return None
    b = bytes(b)
    try:
        if t == "int":
            return struct.unpack("<i", b)[0]
        if t == "long":
            return struct.unpack("<q", b)[0]
        if t == "float":
            return struct.unpack("<f", b)[0]
        if t == "double":
            return struct.unpack("<d", b)[0]
        if t == "date":
            return struct.unpack("<i", b)[0]  # days since epoch
        if t in ("timestamp", "timestamptz"):
            return struct.unpack("<q", b)[0]  # micros since epoch
        if t == "string":
            return b.decode("utf-8")
    except (struct.error, UnicodeDecodeError):
        return None
    return None


# ----------------------------------------------------------- transforms
# Partition transforms per the spec (round 14, r13 verdict task 2):
# identity pruned since round 13; bucket[N] / truncate[W] / year / month
# / day / hour now prune too.  bucket uses the spec's 32-bit Murmur3
# hash (Appendix B: hash of the value's canonical byte encoding, seed
# 0); truncate and the temporal transforms are ORDER-PRESERVING, so a
# range predicate on the source column maps to a relaxed range
# predicate on the partition value.  Anything unrecognized (``void``,
# future transforms) never prunes — conservative, same contract as
# unknown bound types.

_BUCKET_RE = re.compile(r"bucket\[(\d+)\]")
_TRUNCATE_RE = re.compile(r"truncate\[(\d+)\]")
_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """Public MurmurHash3 x86 32-bit (Appendix B names it as the spec
    bucket hash).  Returns the UNSIGNED 32-bit value."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n & ~3
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _bucket_longs(vals, n: int):
    """Vectorized spec ``bucket[N]`` over an int64 numpy array holding
    the canonical LONG encodings (int/long promote to long; date =
    days; timestamp/timestamptz = micros — Appendix B hashes all of
    them as 8-byte little-endian).  The murmur3 body unrolls to the
    two full 4-byte blocks of an 8-byte input (no tail), so the whole
    batch hashes in a handful of numpy ops — this is the writer's hot
    path (one value per appended row).  Element-for-element equal to
    ``_bucket_of`` (asserted in tests)."""
    import numpy as np

    M = np.uint64(0xFFFFFFFF)
    c1, c2 = np.uint64(0xCC9E2D51), np.uint64(0x1B873593)
    v = np.asarray(vals, dtype=np.int64).view(np.uint64)
    h = np.zeros(len(v), dtype=np.uint64)  # seed 0
    for blk in (v & M, (v >> np.uint64(32)) & M):
        k = (blk * c1) & M
        k = ((k << np.uint64(15)) | (k >> np.uint64(17))) & M
        k = (k * c2) & M
        h ^= k
        h = ((h << np.uint64(13)) | (h >> np.uint64(19))) & M
        h = (h * np.uint64(5) + np.uint64(0xE6546B64)) & M
    h ^= np.uint64(8)  # input length in bytes
    h ^= h >> np.uint64(16)
    h = (h * np.uint64(0x85EBCA6B)) & M
    h ^= h >> np.uint64(13)
    h = (h * np.uint64(0xC2B2AE35)) & M
    h ^= h >> np.uint64(16)
    return ((h & np.uint64(0x7FFFFFFF)) % np.uint64(n)).astype(np.int32)


def _bucket_of(src_type: str, v, n: int):
    """spec ``bucket[N]``: murmur3 of the canonical encoding, masked
    positive, mod N.  None when the type/value has no defined encoding
    here (float/double/decimal — never prune)."""
    if v is None:
        return None
    if src_type in ("int", "long", "date", "timestamp", "timestamptz"):
        enc = struct.pack("<q", int(v))
    elif src_type == "string":
        enc = str(v).encode("utf-8")
    elif src_type in ("binary",) or _FIXED_RE.fullmatch(src_type or ""):
        if not isinstance(v, (bytes, bytearray)):
            return None
        enc = bytes(v)
    else:
        return None
    return (_murmur3_32(enc) & 0x7FFFFFFF) % n


def _truncate_of(src_type: str, v, w: int):
    """spec ``truncate[W]``: ``W * floor(v / W)`` for ints (Python's
    floor-modulo IS that), first-W-codepoints for strings."""
    if v is None:
        return None
    if src_type in ("int", "long"):
        return int(v) - (int(v) % w)
    if src_type == "string":
        return str(v)[:w]
    return None


def _temporal_of(kind: str, src_type: str, v):
    """year/month/day/hour of a date (days since epoch) or timestamp
    (micros since epoch), as the spec's ordinal ints."""
    import datetime as _dt

    if v is None:
        return None
    v = int(v)
    if src_type == "date":
        days = v
    elif src_type in ("timestamp", "timestamptz"):
        if kind == "hour":
            return v // _HOUR_US
        days = v // _DAY_US
    else:
        return None
    if kind == "day":
        return days
    if kind == "hour":
        return None  # hour(date) is not a spec transform
    d = _dt.date(1970, 1, 1) + _dt.timedelta(days=days)
    if kind == "month":
        return (d.year - 1970) * 12 + (d.month - 1)
    if kind == "year":
        return d.year - 1970
    return None


def _norm_lit(src_type: str, lit):
    """Filter literals arrive as Python values; bounds and partition
    values use the spec's INTERNAL representations (date = days int,
    timestamp = micros int).  Convert datetime literals so they
    compare; everything else rides verbatim."""
    import datetime as _dt

    if isinstance(lit, _dt.datetime):
        if src_type in ("timestamp", "timestamptz"):
            v = lit
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return int(
                (v - _dt.datetime(1970, 1, 1)).total_seconds() * 1e6
            )
        return lit
    if isinstance(lit, _dt.date):
        if src_type == "date":
            return (lit - _dt.date(1970, 1, 1)).days
        return lit
    return lit


def _transform_lit(transform: str, src_type: str, op: str, lit):
    """(partition-space literal, relaxed op) for one predicate against
    one partition field, or None when this transform/op/type pair
    cannot prune.  Relaxation: order-preserving transforms collapse
    strict ops to their inclusive forms (truncate(v) carries less
    information than v); bucket keeps only equality."""
    t = str(transform)
    lit = _norm_lit(src_type, lit)
    if t == "identity":
        return lit, op
    m = _BUCKET_RE.fullmatch(t)
    if m:
        if op != "=":
            return None
        b = _bucket_of(src_type, lit, int(m.group(1)))
        return None if b is None else (b, "=")
    m = _TRUNCATE_RE.fullmatch(t)
    if m:
        tl = _truncate_of(src_type, lit, int(m.group(1)))
    elif t in ("year", "years", "month", "months", "day", "days", "date"):
        kind = {"date": "day"}.get(t, t.rstrip("s"))
        tl = _temporal_of(kind, src_type, lit)
    elif t in ("hour", "hours", "date_hour"):
        tl = _temporal_of("hour", src_type, lit)
    else:
        return None  # void / unknown: never prune
    if tl is None:
        return None
    relaxed = {"=": "=", ">": ">=", ">=": ">=", "<": "<=", "<=": "<="}
    rop = relaxed.get(op)
    return None if rop is None else (tl, rop)


def _result_type(transform: str, src_type: str) -> str:
    """The partition field's RESULT type name — what the manifest-list
    field summaries serialize their bounds as."""
    t = str(transform)
    if t == "identity" or _TRUNCATE_RE.fullmatch(t):
        return src_type
    if _BUCKET_RE.fullmatch(t):
        return "int"
    if t in ("day", "days", "date"):
        return "date"
    if t in ("year", "years", "month", "months", "hour", "hours",
             "date_hour"):
        return "int"
    return ""


def _cmp_empty(op: str, lo, hi, lit) -> bool:
    if op == "=":
        return lit < lo or lit > hi
    if op == "<":
        return lo >= lit
    if op == "<=":
        return lo > lit
    if op == ">":
        return hi <= lit
    if op == ">=":
        return hi < lit
    return False


def _comparable(lo, hi, lit) -> bool:
    num = lambda v: isinstance(v, (int, float)) and not isinstance(v, bool)  # noqa: E731
    if num(lit) and num(lo) and num(hi):
        return True
    return (
        isinstance(lit, str)
        and isinstance(lo, str)
        and isinstance(hi, str)
    )


# --------------------------------------------------------- time travel
def _target_ms(ts) -> int:
    """Timestamp option -> epoch millis: ints (or digit strings) ride
    verbatim; ISO strings parse, tz-aware normalized to UTC."""
    import datetime as _dt

    if isinstance(ts, str) and ts.strip().lstrip("+-").isdigit():
        ts = int(ts)
    if isinstance(ts, str):
        s = ts.strip().replace("T", " ")
        if s.endswith(("Z", "z")):
            s = s[:-1] + "+00:00"
        dt = _dt.datetime.fromisoformat(s)
        if dt.tzinfo is not None:
            dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return int(
            (dt - _dt.datetime(1970, 1, 1)).total_seconds() * 1000
        )
    return int(ts)


def resolve_iceberg_timestamp(meta: dict, ts) -> int:
    """TIMESTAMP-based time travel (r13 verdict task 3, the Iceberg
    twin of ``resolve_delta_timestamp``): the LATEST snapshot whose
    commit time is <= the target, resolved from the metadata
    ``snapshot-log`` (the spec's timestamp-ms -> snapshot-id history);
    tables without one (some one-shot writers, this engine's own
    single-snapshot exports) fall back to the snapshots' own
    ``timestamp-ms``.  A target before the earliest logged snapshot
    raises — expired history is never guessed at."""
    target_ms = _target_ms(ts)
    log = [
        (int(e["timestamp-ms"]), int(e["snapshot-id"]))
        for e in (meta.get("snapshot-log") or [])
        if e.get("timestamp-ms") is not None
        and e.get("snapshot-id") is not None
    ]
    if not log:
        log = [
            (int(s.get("timestamp-ms") or 0), int(s["snapshot-id"]))
            for s in (meta.get("snapshots") or [])
            if s.get("snapshot-id") is not None
        ]
    if not log:
        raise ValueError("table has no snapshot history to time-travel")
    log.sort()
    best = None
    for t_ms, sid in log:
        if t_ms <= target_ms:
            best = sid
    if best is None:
        raise ValueError(
            f"no snapshot at or before timestamp {ts!r} (earliest "
            f"logged snapshot is at {log[0][0]} ms; older history may "
            "have been expired)"
        )
    return best


# ------------------------------------------------------------- replay
def iceberg_live_files(
    path: str,
    snapshot_id: int | None = None,
    filters: list[tuple] | None = None,
    timestamp=None,
) -> dict:
    """Replay the metadata tree to the live data files of one snapshot.

    Returns ``{"files": [abs paths], "meta": metadata dict, "schema":
    Spark StructType, "n_total": files before predicate pruning,
    "n_manifests_skipped": manifests the manifest-list field summaries
    proved empty, "snapshot": snapshot dict, "delete_files": the
    snapshot's position/equality delete files, "delete_specs":
    per-data-file executor-ready delete spec tuples aligned with
    ``files``}``.  ``filters`` are conjunctive ``(column, op,
    literal)`` triples pruned against BOTH metadata levels; pruning is
    IO-avoidance only — callers re-apply every predicate row-level
    (the same contract as the txn source)."""
    meta = load_table_metadata(path)
    schema = _spark_schema(meta)
    ice_schema = _current_schema(meta)
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    by_id = {int(f["id"]): f for f in ice_schema["fields"]}

    if timestamp is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id= OR timestamp=, not both")
        snapshot_id = resolve_iceberg_timestamp(meta, timestamp)
    snaps = meta.get("snapshots") or []
    sid = snapshot_id if snapshot_id is not None else meta.get(
        "current-snapshot-id"
    )
    if sid is None or sid == -1:
        return {
            "files": [],
            "entries": [],
            "meta": meta,
            "schema": schema,
            "n_total": 0,
            "n_manifests_skipped": 0,
            "snapshot": None,
            "delete_files": [],
            "delete_specs": [],
        }
    snap = next((s for s in snaps if s.get("snapshot-id") == sid), None)
    if snap is None:
        raise ValueError(
            f"snapshot {sid} not found in {path} (listed: "
            f"{[s.get('snapshot-id') for s in snaps]})"
        )
    ml_path = snap.get("manifest-list")
    if not ml_path:
        raise ValueError(
            "snapshot has no manifest-list (v1 inline manifests are "
            "not supported; rewrite with a modern writer)"
        )

    # partition spec: identity transforms prune by partition value;
    # any other transform reads fine (source columns are in the data
    # files) but never prunes — conservative
    specs = {
        int(s["spec-id"]): s for s in (meta.get("partition-specs") or [])
    }
    if not specs and meta.get("partition-spec") is not None:
        specs[0] = {
            "spec-id": 0,
            "fields": meta.get("partition-spec") or [],
        }

    filters = filters or []
    _, ml_records = read_avro(_resolve(path, ml_path))

    n_skipped_manifests = 0
    files: list[str] = []
    file_entries: list[dict] = []
    data_scope: list[tuple] = []  # (seq, spec_id, partition) per file
    delete_files: list[dict] = []
    n_total = 0
    for m in ml_records:
        content = int(m.get("content") or 0)
        if content not in (0, 1):
            raise ValueError(
                f"cannot import: manifest-list content={content} is "
                "not in the v2 spec (0=data, 1=deletes)"
            )
        m_seq = int(m.get("sequence_number") or 0)
        spec_id = int(m.get("partition_spec_id") or 0)
        spec = specs.get(spec_id) or {"fields": []}
        spec_fields = spec.get("fields") or []
        if content == 1:
            # DELETE manifest (round 14, r13 verdict task 1): replay
            # its position/equality delete files driver-side — never
            # predicate-pruned (a pruned delete would resurrect rows),
            # and delete manifests are metadata-small anyway
            _, entries = read_avro(_resolve(path, m["manifest_path"]))
            for e in entries:
                if int(e.get("status") or 0) == 2:  # DELETED: retired
                    continue
                seq = e.get("sequence_number")
                # v2 inheritance: ADDED entries with a null sequence
                # number inherit the manifest's own sequence number
                seq = int(seq) if seq is not None else m_seq
                df = e.get("data_file") or {}
                c = int(df.get("content") or 0)
                if c not in (1, 2):
                    raise ValueError(
                        "cannot import: delete manifest entry with "
                        f"content={c} (1=position, 2=equality)"
                    )
                fmt = str(df.get("file_format") or "").upper()
                referenced = df.get("referenced_data_file")
                is_dv = referenced is not None and fmt == "PUFFIN"
                if is_dv:
                    # v3 DELETION VECTOR (round 15, r14 verdict task
                    # 3): a Puffin blob scoped to exactly one data
                    # file, addressed directly by content_offset /
                    # content_size_in_bytes — no footer parse
                    if c != 1:
                        raise ValueError(
                            "cannot import: deletion-vector entry with "
                            f"content={c} (v3 DVs are position deletes)"
                        )
                    if (
                        df.get("content_offset") is None
                        or df.get("content_size_in_bytes") is None
                    ):
                        raise ValueError(
                            "cannot import: deletion-vector entry "
                            "lacks content_offset/content_size_in_bytes"
                        )
                elif fmt != "PARQUET":
                    raise ValueError(
                        f"cannot import: delete file_format {fmt!r} "
                        "(PARQUET, or PUFFIN for v3 deletion vectors)"
                    )
                delete_files.append(
                    {
                        "content": c,
                        "abs": _resolve(path, df["file_path"]),
                        "seq": seq,
                        "spec_id": spec_id,
                        "global": not spec_fields,
                        "partition": df.get("partition") or {},
                        "equality_ids": [
                            int(x)
                            for x in (df.get("equality_ids") or [])
                        ],
                        "dv": is_dv,
                        "referenced": referenced,
                        "offset": df.get("content_offset"),
                        "size": df.get("content_size_in_bytes"),
                        # manifest bounds of the delete file's columns
                        # (position: the reserved file_path field
                        # 2147483546; equality: the equality columns) —
                        # used to SKIP deletes that provably cannot
                        # touch a data file, bounding executor reads
                        "lowers": _kvmap(df.get("lower_bounds")),
                        "uppers": _kvmap(df.get("upper_bounds")),
                        "nulls": _kvmap(df.get("null_value_counts")),
                    }
                )
            continue
        # manifest-level skip via the field summaries (aligned with
        # the spec's partition field order)
        summaries = m.get("partitions") or []
        if summaries and _manifest_prunable(
            summaries, spec_fields, by_id, filters
        ):
            n_skipped_manifests += 1
            continue
        _, entries = read_avro(_resolve(path, m["manifest_path"]))
        for e in entries:
            if int(e.get("status") or 0) == 2:  # DELETED
                continue
            df = e.get("data_file") or {}
            if int(df.get("content") or 0) != 0:
                raise ValueError(
                    "cannot import: DATA manifest entry carries a "
                    f"delete file (data_file.content={df.get('content')})"
                )
            fmt = str(df.get("file_format") or "").upper()
            if fmt != "PARQUET":
                raise ValueError(
                    f"cannot import: file_format {fmt!r} (only PARQUET)"
                )
            seq = e.get("sequence_number")
            seq = int(seq) if seq is not None else m_seq
            n_total += 1
            if _file_prunable(df, spec_fields, by_name, by_id, filters):
                continue
            files.append(_resolve(path, df["file_path"]))
            file_entries.append(df)
            data_scope.append((seq, spec_id, df.get("partition") or {}))
    delete_specs = [
        _applicable_deletes(raw_df, seq, spid, pv, delete_files, by_id)
        for raw_df, (seq, spid, pv) in zip(file_entries, data_scope)
    ]
    return {
        "files": files,
        "entries": file_entries,
        "meta": meta,
        "schema": schema,
        "n_total": n_total,
        "n_manifests_skipped": n_skipped_manifests,
        "snapshot": snap,
        "delete_files": delete_files,
        "delete_specs": delete_specs,
    }


def _applicable_deletes(
    df: dict, seq: int, spec_id: int, partition: dict,
    delete_files: list[dict], by_id: dict,
) -> tuple:
    """The executor-ready delete specs that APPLY to one data file per
    the spec's scan-planning rules: a position delete applies when its
    data sequence number is >= the data file's; an equality delete when
    STRICTLY greater; both are scoped to the data file's partition
    (same spec id + identical partition values) unless the delete file
    was written under an unpartitioned spec (global).  Spec shapes:
    ``("pos", delete_path, data_file_path_as_written)`` — the executor
    filters the delete file's ``file_path`` column to this data file —
    and ``("eq", delete_path, ((field_id, column_name), ...))`` — the
    executor anti-joins on the equality columns, null matching null."""
    _POS_PATH_FID = 2147483546  # the spec's reserved file_path field
    out = []
    dv_hit = False
    data_lo = _kvmap(df.get("lower_bounds"))
    data_hi = _kvmap(df.get("upper_bounds"))
    data_nulls = _kvmap(df.get("null_value_counts"))
    for d in delete_files:
        if d["content"] == 1:
            if d["seq"] < seq:
                continue
        else:
            if d["seq"] <= seq:
                continue
        if d.get("dv"):
            # v3 deletion vector: scoped by its referenced data file
            # path alone (exact, stronger than partition scoping)
            if str(d["referenced"]) in _path_variants(
                str(df.get("file_path"))
            ) or str(df.get("file_path")) in _path_variants(
                str(d["referenced"])
            ):
                out.append(
                    ("dv", d["abs"], int(d["offset"]), int(d["size"]))
                )
                dv_hit = True
            continue
        if not d["global"] and (
            d["spec_id"] != spec_id or d["partition"] != partition
        ):
            continue
        if d["content"] == 1:
            # bounds skip: the delete file's file_path range (reserved
            # field) provably excludes this data file's path
            plo = _decode_bound("string", d["lowers"].get(_POS_PATH_FID))
            phi = _decode_bound("string", d["uppers"].get(_POS_PATH_FID))
            fp = str(df.get("file_path"))
            if plo is not None and phi is not None and not (
                plo <= fp <= phi
            ):
                continue
            out.append(("pos", d["abs"], fp))
        else:
            if not d["equality_ids"]:
                raise ValueError(
                    "cannot import: equality delete file without "
                    "equality_ids"
                )
            cols = []
            disjoint = False
            for fid in d["equality_ids"]:
                src = by_id.get(fid)
                if src is None or not isinstance(src.get("type"), str):
                    raise ValueError(
                        "cannot import: equality delete references "
                        f"field id {fid}, which is not a primitive "
                        "column of the current schema"
                    )
                cols.append((fid, src["name"]))
                # bounds skip: if the delete's value range and the data
                # file's are provably disjoint on ANY equality column,
                # no delete row can match any data row — SOUND only
                # when null-null matching is also excluded (one side
                # proven null-free), since bounds cover non-nulls only
                t = src["type"]
                dlo = _decode_bound(t, d["lowers"].get(fid))
                dhi = _decode_bound(t, d["uppers"].get(fid))
                flo = _decode_bound(t, data_lo.get(fid))
                fhi = _decode_bound(t, data_hi.get(fid))
                if None in (dlo, dhi, flo, fhi):
                    continue
                if not _comparable(dlo, dhi, flo):
                    continue
                if dhi < flo or dlo > fhi:
                    d_nulls = d.get("nulls", {}).get(fid)
                    f_nulls = data_nulls.get(fid)
                    if (d_nulls is not None and int(d_nulls) == 0) or (
                        f_nulls is not None and int(f_nulls) == 0
                    ):
                        disjoint = True
                        break
            if disjoint:
                continue
            out.append(("eq", d["abs"], tuple(cols)))
    if dv_hit:
        # v3 rule: a deletion vector REPLACES all position deletes for
        # its data file (at most one DV per file per snapshot; older
        # position delete files must not also be applied)
        out = [s for s in out if s[0] != "pos"]
    return tuple(out)


def _path_variants(p: str) -> list[str]:
    """Spelling variants of a data-file path for matching a position
    delete file's ``file_path`` column: writers emit absolute URIs,
    some with a ``file:``/``file://`` scheme and some without."""
    out = {str(p)}
    if p.startswith("file://"):
        out.add(p[len("file://") :])
    elif p.startswith("file:"):
        out.add(p[len("file:") :])
    if p.startswith("/"):
        out.add("file://" + p)
        out.add("file:" + p)
    return sorted(out)


def apply_iceberg_deletes(tbl, specs: tuple):
    """EXECUTOR-side application of one data file's delete specs to its
    decoded Arrow table (called from ``_read_file_batches``; the
    Iceberg sibling of the foreign-Delta DV decode, delta_export.py
    ``_expand_dv_specs``): position deletes mask by row ordinal
    (delete rows filtered to this file via parquet row-group predicate
    pushdown on ``file_path`` — O(this file's deletes) transferred),
    equality deletes anti-join on the equality columns, bound by
    parquet FIELD ID on both sides with null == null per the spec."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = tbl.num_rows
    if n == 0 or not specs:
        return tbl
    alive = np.ones(n, dtype=bool)
    for spec in specs:
        if spec[0] == "dv":
            # v3 deletion vector: one bounded read at the manifest's
            # blob offset, CRC-checked, roaring-decoded (puffin_lite)
            from .puffin_lite import read_dv_blob

            _, dpath, off, size = spec
            for p in read_dv_blob(dpath, off, size):
                if 0 <= p < n:
                    alive[p] = False
        elif spec[0] == "pos":
            _, dpath, target = spec
            dt = pq.read_table(
                dpath,
                columns=["file_path", "pos"],
                filters=[("file_path", "in", _path_variants(target))],
            )
            for p in dt.column("pos").to_pylist():
                if p is not None and 0 <= p < n:
                    alive[p] = False
        else:
            _, dpath, eqcols = spec
            dt = pq.read_table(dpath)
            if dt.num_rows:
                dead = _eq_match_mask(tbl, dt, eqcols)
                alive &= ~dead
    if alive.all():
        return tbl
    import pyarrow as _pa

    return tbl.filter(_pa.array(alive))


def _fid_column(t, fid: int, name: str):
    """A table's column by parquet field id (the binding contract),
    falling back to the name; None when absent."""
    for f in t.schema:
        m = (f.metadata or {}).get(b"PARQUET:field_id")
        if m is not None and int(m) == fid:
            return t.column(f.name)
    if name in t.column_names:
        return t.column(name)
    return None


def _eq_match_mask(tbl, dt, eqcols: tuple):
    """Boolean numpy mask of ``tbl`` rows matched by ANY ``dt`` row on
    the equality columns.  Vectorized: each side's columns cast to
    string, encoded as LENGTH-PREFIXED parts (``V<bytelen>:<value>``,
    null -> ``N|`` — the spec's equality delete matches null to null),
    concatenated into one key, matched with ``is_in``.  The length
    prefix makes part boundaries unambiguous: legal string data
    containing any separator-ish bytes cannot collide across column
    boundaries (('x|y','z') never keys like ('x','y|z')).  Any cast
    failure falls back to exact Python tuples."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def side(t, missing_len=None):
        keys = []
        for fid, name in eqcols:
            col = _fid_column(t, fid, name)
            if col is None:
                if missing_len is None:
                    raise ValueError(
                        f"equality delete file {getattr(t, 'path', '')} "
                        f"lacks column {name!r} (field id {fid})"
                    )
                # additive schema evolution: the data file predates the
                # column -> all-null, matching null delete values
                col = pa.nulls(missing_len, pa.string())
            keys.append(col)
        return keys

    data_cols = side(tbl, missing_len=tbl.num_rows)
    del_cols = side(dt)
    try:
        dc = [
            c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
            for c in data_cols
        ]
        el = [
            c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
            for c in del_cols
        ]
        # ONE canonical type per column pair (the delete side's, unless
        # it is the all-null placeholder) so both sides stringify
        # identically — e.g. timestamp precision differences
        tgts = [
            e.type if not pa.types.is_null(e.type) else d.type
            for d, e in zip(dc, el)
        ]

        def key_of(cols):
            parts = []
            for c, tgt in zip(cols, tgts):
                if c.type != tgt:
                    c = c.cast(tgt)
                s = pc.cast(c, pa.string())
                ln = pc.cast(pc.binary_length(s), pa.string())
                # null propagates through the join; if_else maps it to
                # the null marker — a distinct channel no value can
                # spell (values always start with "V")
                val = pc.binary_join_element_wise("V", ln, ":", s, "")
                parts.append(pc.if_else(pc.is_null(s), "N|", val))
            if len(parts) == 1:
                return parts[0]
            return pc.binary_join_element_wise(*parts, "")

        dkey = key_of(dc)
        ekey = key_of(el)
        mask = pc.is_in(dkey, value_set=ekey.unique())
        return pc.fill_null(mask, False).to_numpy(zero_copy_only=False)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        dead_set = set(
            zip(*(c.to_pylist() for c in del_cols))
        )
        rows = zip(*(c.to_pylist() for c in data_cols))
        return np.fromiter(
            (r in dead_set for r in rows), dtype=bool, count=tbl.num_rows
        )


def _manifest_prunable(summaries, spec_fields, by_id, filters) -> bool:
    """May ANY file in this manifest satisfy the conjunction?  Uses the
    manifest-list ``partitions`` field summaries (lower/upper bound per
    partition field, decoded as the field's RESULT type).  Transform-
    aware (r13 verdict task 2): each predicate maps into partition
    space via ``_transform_lit`` — identity compares verbatim, bucket
    keeps equality only, truncate/temporal relax strict ops — and
    anything unmapped never prunes."""
    for i, pf in enumerate(spec_fields):
        if i >= len(summaries):
            break
        src = by_id.get(int(pf.get("source-id", -1)))
        if src is None:
            continue
        t = src["type"] if isinstance(src["type"], str) else ""
        rt = _result_type(pf.get("transform"), t)
        if not rt:
            continue
        s = summaries[i] or {}
        lo = _decode_bound(rt, s.get("lower_bound"))
        hi = _decode_bound(rt, s.get("upper_bound"))
        if lo is None or hi is None:
            continue
        for col, op, lit in filters:
            if col != src["name"]:
                continue
            tr = _transform_lit(pf.get("transform"), t, op, lit)
            if tr is None:
                continue
            plit, pop = tr
            if _comparable(lo, hi, plit) and _cmp_empty(
                pop, lo, hi, plit
            ):
                # a null-holding partition may still match nothing for
                # range ops; contains_null files never match =/range
                # predicates on the value, so the skip is sound
                if not s.get("contains_null"):
                    return True
    return False


def _file_prunable(df, spec_fields, by_name, by_id, filters) -> bool:
    """May this data file satisfy the conjunction?  Partition values
    (any recognized transform, mapped into partition space) and
    per-file column bounds both get a say."""
    part = df.get("partition") or {}
    # source column name -> [(transform, partition value), ...] — one
    # source column may feed several partition fields (e.g. bucket AND
    # truncate); every binding gets a veto
    pvals: dict[str, list] = {}
    for pf in spec_fields:
        src = by_id.get(int(pf.get("source-id", -1)))
        if src is None:
            continue
        name = pf.get("name") or src["name"]
        if name in part:
            pvals.setdefault(src["name"], []).append(
                (str(pf.get("transform")), part[name])
            )
    lowers = _kvmap(df.get("lower_bounds"))
    uppers = _kvmap(df.get("upper_bounds"))
    for col, op, lit in filters:
        f = by_name.get(col)
        if f is None:
            continue
        t = f["type"] if isinstance(f["type"], str) else ""
        for transform, v in pvals.get(col, ()):
            tr = _transform_lit(transform, t, op, lit)
            if tr is None:
                continue
            plit, pop = tr
            if v is None:
                # every spec transform maps null -> null: a null
                # partition value means the source column is all-null
                # in this file, so no comparison predicate matches
                return True
            if _comparable(v, v, plit) and _cmp_empty(pop, v, v, plit):
                return True
        fid = int(f["id"])
        nlit = _norm_lit(t, lit)
        lo = _decode_bound(t, lowers.get(fid))
        hi = _decode_bound(t, uppers.get(fid))
        if (
            lo is not None
            and hi is not None
            and _comparable(lo, hi, nlit)
            and _cmp_empty(op, lo, hi, nlit)
        ):
            return True
    return False


# ------------------------------------------------------------- convert
# Iceberg primitive -> txn manifest stats tag + value translator (the
# manifest domains of txn.py _stat_value: num=float, str=str,
# ts=naive isoformat(sep=' '), date=isoformat).
def _manifest_stat(t: str, b):
    import datetime as _dt

    v = _decode_bound(t, b)
    if v is None:
        return None
    if t in ("int", "long", "float", "double"):
        return ("num", float(v))
    if t == "string":
        return ("str", v)
    if t == "date":
        return (
            "date",
            (_dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))).isoformat(),
        )
    if t in ("timestamp", "timestamptz"):
        return (
            "ts",
            (
                _dt.datetime(1970, 1, 1)
                + _dt.timedelta(microseconds=int(v))
            ).isoformat(sep=" "),
        )
    return None


def convert_from_iceberg(
    spark,
    path: str,
    dest_root: str,
    snapshot_id: int | None = None,
):
    """ZERO-COPY conversion of a foreign Iceberg table into a txn table
    (the Iceberg twin of ``convert_from_delta`` — the migration path in
    the other direction from ``import_iceberg``): the snapshot's live
    data files are adopted BY HARD LINK, per-file stats translate from
    the manifest's ``lower_bounds``/``upper_bounds`` (decoded from the
    spec's single-value binary serialization into the txn manifest's
    stat domains), and the table's FIELD-ID binding becomes the txn
    table's name-based ``column_mapping``: each file's footer maps
    field id -> actual parquet column name (a footer read is KBs of
    metadata, zero data IO), every file must agree on that name — a
    table whose files disagree (a rename applied mid-history without a
    rewrite) refuses loudly rather than adopting an ambiguous binding.

    The converted table is UNPARTITIONED on purpose: Iceberg data
    files CONTAIN their identity partition columns (the txn hive
    layout expects partition values in directory names only, so
    declaring them partition columns would double-bind the column);
    partition-predicate pruning still works because the manifest
    bounds cover those columns like any other.  O(files) link + footer
    work, zero data IO, zero Spark jobs."""
    state = iceberg_live_files(path, snapshot_id)
    if state["delete_files"]:
        raise ValueError(
            "cannot convert: snapshot carries row-level DELETE files "
            "(merge-on-read position/equality deletes); import_iceberg "
            "reads them, but a zero-copy adoption cannot — compact the "
            "table first, or import and write into a txn table"
        )
    from pyarrow import parquet as _pq2

    from .txn import TxnTable

    dest = TxnTable(dest_root)
    if dest.current_version() is not None:
        raise ValueError(f"convert target {dest_root} is not empty")
    ice_schema = _current_schema(state["meta"])
    fields = ice_schema["fields"]
    by_id = {int(f["id"]): f for f in fields}

    # field id -> parquet column name, consistent across every file
    id_names: dict[int, str] = {}
    for abs_p in state["files"]:
        sch = _pq2.read_schema(abs_p)
        for fld in sch:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is None:
                continue
            fid = int(fid)
            if fid in id_names and id_names[fid] != fld.name:
                raise ValueError(
                    f"cannot convert: field id {fid} is named "
                    f"{id_names[fid]!r} in one file and {fld.name!r} "
                    f"in {abs_p!r} — a name-based adoption would be "
                    "ambiguous; rewrite the table first"
                )
            id_names.setdefault(fid, fld.name)

    cm: dict = {"mode": "name", "max_id": 0, "fields": {}, "used_phys": []}
    mapped = False
    for f in fields:
        fid = int(f["id"])
        phys = id_names.get(fid, f["name"])
        mapped = mapped or phys != f["name"]
        cm["fields"][str(f["name"]).lower()] = {"id": fid, "physical": phys}
        cm["used_phys"].append(phys)
        cm["max_id"] = max(cm["max_id"], fid)

    carry: dict[str, str] = {}
    entries: dict[str, dict] = {}
    for i, (abs_p, df) in enumerate(
        zip(state["files"], state["entries"])
    ):
        new_rel = f"c{i:06d}-{os.path.basename(abs_p)}"
        carry[new_rel] = abs_p
        lowers = _kvmap(df.get("lower_bounds"))
        uppers = _kvmap(df.get("upper_bounds"))
        nulls = _kvmap(df.get("null_value_counts"))
        cols: dict = {}
        for fid in set(lowers) | set(uppers):
            src = by_id.get(int(fid))
            if src is None or not isinstance(src["type"], str):
                continue
            lo = _manifest_stat(src["type"], lowers.get(fid))
            hi = _manifest_stat(src["type"], uppers.get(fid))
            if lo is None or hi is None:
                continue
            cols[id_names.get(int(fid), src["name"])] = {
                "t": lo[0],
                "min": lo[1],
                "max": hi[1],
                # absent null counts default to 0: only ever used to
                # PROVE all-null (nulls == rows), so understating keeps
                # files — conservative, never mis-pruned
                "nulls": int(nulls.get(fid, 0) or 0),
            }
        entries[new_rel] = {
            "rows": int(df.get("record_count") or 0),
            "bytes": int(
                df.get("file_size_in_bytes")
                or os.path.getsize(abs_p)
            ),
            "columns": cols,
        }
    snap = state["snapshot"]
    dest.commit(
        local_df(spark, [], state["schema"]),
        metadata_only=True,
        operation="convert_from_iceberg",
        carry_files=carry,
        carry_entries=entries,
        column_mapping=cm if mapped else {},
        extra_meta={
            "converted_from": path,
            "iceberg_snapshot_id": snap.get("snapshot-id")
            if snap
            else None,
        },
    )
    return dest


# --------------------------------------------------------------- reads
def _src_type_of(meta: dict, col: str) -> str:
    """A column's primitive Iceberg type name ('' when absent/nested)."""
    for f in _current_schema(meta)["fields"]:
        if f["name"] == col and isinstance(f["type"], str):
            return f["type"]
    return ""


def _name_mapping(meta: dict) -> dict[int, str]:
    """The spec's ``schema.name-mapping.default`` property -> field id
    to (first) file column name.  This is how id-less parquet files —
    Hive-migrated tables, and this engine's own ``export_iceberg``
    output — bind to the schema."""
    raw = (meta.get("properties") or {}).get(
        "schema.name-mapping.default"
    )
    if not raw:
        return {}
    out: dict[int, str] = {}
    for e in json.loads(raw):
        names = e.get("names") or []
        if e.get("field-id") is not None and names:
            out[int(e["field-id"])] = names[0]
    return out


def import_iceberg(
    spark,
    path: str,
    snapshot_id: int | None = None,
    filters: list[tuple] | None = None,
    timestamp=None,
):
    """Read an Iceberg table the engine did not write, as a DataFrame.

    ``snapshot_id`` / ``timestamp`` pin time travel (``timestamp``
    resolves through the metadata snapshot-log — the spec's
    timestamp-ms history); ``filters`` prune files at the metadata
    level (callers must still apply the predicates — pruning is an IO
    bound, never the correctness boundary).  Columns bind by parquet
    FIELD ID (the Iceberg reader contract) when the files carry ids;
    id-less files (migrated tables, this engine's own exports) bind
    through ``schema.name-mapping.default`` instead, and their missing
    identity-partition source columns are filled from the manifest
    partition values — the spec's migrated-table convention.  Which
    path applies is probed from ONE footer; tables that MIX id-bearing
    and id-less files should use ``format("iceberg_import")``, whose
    Arrow reader decides per file.

    Merge-on-read v2 tables (r13 verdict task 1): a snapshot carrying
    POSITION or EQUALITY delete files routes through
    ``format("iceberg_import")``, whose executor-side Arrow reader
    masks each data file by its scoped deletes (sequence-number +
    partition scoping per the spec's scan-planning rules) — row work
    stays per-partition, driver state stays O(delete files)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    state = iceberg_live_files(path, snapshot_id, filters, timestamp)
    schema = state["schema"]
    if not state["files"]:
        return local_df(spark, [], schema)
    if any(state["delete_specs"]):
        from .sources.iceberg_import_source import (
            register_iceberg_import_source,
        )

        register_iceberg_import_source(spark)
        r = spark.read.format("iceberg_import")
        sid = state["snapshot"].get("snapshot-id")
        if sid is not None:
            r = r.option("snapshotId", int(sid))
        if filters:
            safe = [
                t
                for t in (
                    (c, op, _norm_lit(_src_type_of(state["meta"], c), v))
                    for c, op, v in filters
                )
                if isinstance(t[2], (int, float, str, bool))
            ]
            if safe:
                r = r.option("filtersJson", json.dumps(safe))
        return r.load(path)
    import pyarrow.parquet as _pq2

    first = _pq2.read_schema(state["files"][0])
    has_ids = any(
        (f.metadata or {}).get(b"PARQUET:field_id") is not None
        for f in first
    )
    if has_ids:
        spark.conf.set(
            "spark.sql.parquet.fieldId.read.enabled", "true"
        )
        return spark.read.schema(schema).parquet(*state["files"])
    nm = _name_mapping(state["meta"])
    if not nm:
        # no ids and no mapping: plain name binding is all that's left
        return spark.read.schema(
            StructType(
                [StructField(f.name, f.dataType, True) for f in schema.fields]
            )
        ).parquet(*state["files"])
    ice_schema = _current_schema(state["meta"])
    fid_of = {f["name"]: int(f["id"]) for f in ice_schema["fields"]}
    # identity partition source columns that the mapping does NOT place
    # in the files are metadata constants per the migrated convention
    specs = state["meta"].get("partition-specs") or []
    spec0 = specs[0] if specs else {"fields": []}
    by_id = {int(f["id"]): f for f in ice_schema["fields"]}
    const_cols: dict[str, str] = {}  # logical -> spec partition name
    for pf in spec0.get("fields") or []:
        if str(pf.get("transform")) != "identity":
            continue
        src = by_id.get(int(pf.get("source-id", -1)))
        if src is not None and fid_of.get(src["name"]) not in nm:
            const_cols[src["name"]] = pf.get("name") or src["name"]
    data_fields = [
        f for f in schema.fields if f.name not in const_cols
    ]
    data_schema = StructType(
        [
            StructField(nm.get(fid_of[f.name], f.name), f.dataType, True)
            for f in data_fields
        ]
    )
    scan = spark.read.schema(data_schema).parquet(*state["files"])
    if not const_cols:
        return scan.select(
            *(
                F.col(nm.get(fid_of[f.name], f.name)).alias(f.name)
                for f in schema.fields
            )
        )
    # attach partition constants via a broadcast basename join (the
    # same metadata-sized build side import_delta uses)
    import posixpath

    pv_rows = []
    names = list(const_cols)
    for abs_p, df in zip(state["files"], state["entries"]):
        part = df.get("partition") or {}
        pv_rows.append(
            (posixpath.basename(abs_p),)
            + tuple(
                None
                if part.get(const_cols[c]) is None
                else str(part.get(const_cols[c]))
                for c in names
            )
        )
    bs = [r[0] for r in pv_rows]
    if len(set(bs)) != len(bs):
        raise ValueError(
            "cannot import: duplicate data-file basenames in a "
            "name-mapped table — partition constants would be "
            "ambiguous; use format(\"iceberg_import\")"
        )
    pv_schema = ", ".join(
        ["__ib_base string"]
        + [f"__ib_{i} string" for i in range(len(names))]
    )
    pv_df = spark.createDataFrame(pv_rows, pv_schema)
    keyed = scan.withColumn(
        "__ib_base",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
    )
    joined = keyed.join(F.broadcast(pv_df), "__ib_base", "inner")
    return joined.select(
        *(
            F.col(f"__ib_{names.index(f.name)}")
            .cast(f.dataType)
            .alias(f.name)
            if f.name in const_cols
            else F.col(nm.get(fid_of[f.name], f.name)).alias(f.name)
            for f in schema.fields
        )
    )
