"""Apache ICEBERG export: a txn snapshot as a conformant Iceberg v2
table (round 13 — the write half of the Iceberg interop, mirroring
``export_delta``'s role for Delta; with ``iceberg_import.py`` the
engine now reads AND writes both open formats BASELINE.json names).

``export_iceberg`` writes the spec's metadata tree —
``metadata/v1.metadata.json`` + ``version-hint.text``, one Avro
manifest per partition-spec group, a manifest-list Avro — over the
snapshot's data files, which are HARD-LINKED into ``dest/data/``
(zero copy; a pending deletion vector refuses, run
``materialize_deletes`` first, same boundary rule as the Delta
export).  Everything is authored from the public table spec
(https://iceberg.apache.org/spec/) via ``avro_lite.py``.

Spec mechanics that make the export readable by real engines:

* **field ids + name mapping**: txn parquet files carry no parquet
  field ids, which is exactly the case the spec's
  ``schema.name-mapping.default`` table property exists for (Hive/
  migrated files): the property maps each field id to the PHYSICAL
  column name(s) found in the files, so id-based readers bind
  correctly — including column-mapped txn tables, whose physical
  spellings differ from the logical schema names.
* **identity partition columns**: the txn layout is hive-style (values
  in directory names, NOT in the files); Iceberg readers fill missing
  identity-partition source columns from each file's manifest
  ``partition`` struct — the migrated-table convention — so the
  export declares the txn partition columns as identity partition
  fields and records typed partition values per file.
* **stats**: per-file ``lower_bounds``/``upper_bounds``/
  ``null_value_counts`` translate from the txn manifest's stats into
  the spec's single-value binary serialization — no data file is
  opened.
* **snapshot identity**: the snapshot id derives deterministically
  from the source version, and the summary carries the txn version
  string, so round-trips and re-exports are reproducible.

Scale shape: O(files) links + O(metadata) Avro bytes, zero data IO,
no SparkSession.  Self-check: ``import_iceberg`` (the independent
reader half, which binds by field id through the name mapping's
physical names) must read the export row-identically to
``TxnTable.read`` — asserted in tests at the Arrow level.
"""

from __future__ import annotations

import json
import os
import posixpath
import struct
import time
from datetime import date as _date, datetime as _datetime
from urllib.parse import unquote

from .avro_lite import read_avro, write_avro
from .iceberg_import import _resolve, load_table_metadata_versioned
from .store import LOCAL
from .txn import (
    TxnTable,
    _cm_fields,
    _cm_phys,
    bind_foreign_dml,
)

_EPOCH_DATE = _date(1970, 1, 1)
_EPOCH_DT = _datetime(1970, 1, 1)


# Spark type name -> Iceberg type name (primitives the txn fixture
# surface uses; anything else exports without stats and maps to the
# closest spec type, or refuses loudly).
def _iceberg_type(spark_type: str) -> str:
    t = str(spark_type)
    simple = {
        "boolean": "boolean",
        "byte": "int",
        "short": "int",
        "integer": "int",
        "long": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "binary": "binary",
        "date": "date",
        # Spark TimestampType is session-TZ-adjusted -> timestamptz;
        # TimestampNTZ -> timestamp (the same split as the import)
        "timestamp": "timestamptz",
        "timestamp_ntz": "timestamp",
    }
    if t in simple:
        return simple[t]
    if t.startswith("decimal"):
        return t.replace("decimal", "decimal", 1)
    raise ValueError(f"cannot export type {t!r} to Iceberg")


def _bound_bytes(ice_type: str, tag: str, v) -> bytes | None:
    """txn manifest stat value -> the spec's single-value binary
    serialization for ``ice_type`` (None = omit, never wrong)."""
    try:
        if ice_type == "int":
            return struct.pack("<i", int(v))
        if ice_type == "long":
            return struct.pack("<q", int(v))
        if ice_type == "float":
            return struct.pack("<f", float(v))
        if ice_type == "double":
            return struct.pack("<d", float(v))
        if ice_type == "string" and tag == "str":
            return str(v).encode("utf-8")
        if ice_type == "date" and tag == "date":
            return struct.pack(
                "<i", (_date.fromisoformat(str(v)) - _EPOCH_DATE).days
            )
        if ice_type in ("timestamp", "timestamptz") and tag == "ts":
            dt = _datetime.fromisoformat(str(v))
            micros = int((dt - _EPOCH_DT).total_seconds() * 1_000_000)
            return struct.pack("<q", micros)
    except (TypeError, ValueError, OverflowError):
        return None
    return None


def _typed_partition(ice_type: str, raw: str | None):
    """Hive directory value -> typed Iceberg partition value."""
    if raw is None:
        return None
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type in ("float", "double"):
        return float(raw)
    return raw  # string and friends ride verbatim


_AVRO_PART_TYPE = {
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
}

_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "field_summary",
    "fields": [
        {"name": "contains_null", "type": "boolean"},
        {"name": "contains_nan", "type": ["null", "boolean"]},
        {"name": "lower_bound", "type": ["null", "bytes"]},
        {"name": "upper_bound", "type": ["null", "bytes"]},
    ],
}
_ML_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": _SUMMARY_SCHEMA}],
        },
    ],
}
_KV_LONG = {
    "type": "array",
    "items": {
        "type": "record",
        "name": "kv_long",
        "fields": [
            {"name": "key", "type": "int"},
            {"name": "value", "type": "long"},
        ],
    },
}
_KV_BYTES = {
    "type": "array",
    "items": {
        "type": "record",
        "name": "kv_bytes",
        "fields": [
            {"name": "key", "type": "int"},
            {"name": "value", "type": "bytes"},
        ],
    },
}


def _manifest_schema(part_fields: list[dict]) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "file_sequence_number", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": part_fields,
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "null_value_counts",
                            "type": ["null", _KV_LONG],
                        },
                        {
                            "name": "lower_bounds",
                            "type": ["null", _KV_BYTES],
                        },
                        {
                            "name": "upper_bounds",
                            "type": ["null", _KV_BYTES],
                        },
                    ],
                },
            },
        ],
    }


def _snapshot_id(root: str, version: str) -> int:
    import hashlib

    h = hashlib.md5(f"{root}:{version}".encode()).hexdigest()
    return int(h[:15], 16)  # positive, fits an Avro long


_SYNC_STATE = "metadata/rxlan-sync-state.json"


def _export_schema(
    meta: dict,
    recorded_ids: dict | None = None,
    min_field_id: int | None = None,
):
    """txn snapshot meta -> the Iceberg schema pieces of an export:
    ``(fields, ice_types, phys_of, fid_of, part_by)``.  Field ids come
    from (in priority order) a previous export's RECORDED assignment
    (sync continuity: a field id, once minted, never changes and never
    recycles — the Iceberg evolution contract), the txn column
    mapping's ids, else a fresh sequential mint.  ``min_field_id``
    (the destination metadata's ``last-column-id``) is a high-water
    mark fresh mints start ABOVE: recorded ids cover only the CURRENT
    columns, so a column retired by a plain overwrite (no txn column
    mapping active) would otherwise free its id for re-minting —
    violating the never-recycle contract."""
    schema_json = meta.get("schema") or {"fields": []}
    cm = meta.get("column_mapping")
    part_by = list(meta.get("partition_by") or [])
    cm_f = _cm_fields(cm) if cm else {}
    recorded_ids = recorded_ids or {}
    fields = []
    ice_types: dict[str, str] = {}
    phys_of: dict[str, str] = {}
    used = [int(e["id"]) for e in cm_f.values()] + [
        int(x) for x in recorded_ids.values()
    ]
    next_id = max(used + [int(min_field_id or 0)] or [0])
    for f in schema_json.get("fields", []):
        name = f["name"]
        t = f["type"] if isinstance(f["type"], str) else None
        if t is None:
            raise ValueError(
                f"cannot export nested column {name!r} to Iceberg"
            )
        rec = recorded_ids.get(name.lower())
        entry = cm_f.get(name.lower())
        # the column mapping is AUTHORITATIVE when present: a txn
        # DROP + re-ADD of the same name mints a fresh cm id, and the
        # export must follow it (Iceberg forbids reusing a retired
        # field id for a semantically new column); the recorded
        # assignment covers non-mapped tables' additive evolution
        if entry is not None:
            fid = int(entry["id"])
        elif rec is not None:
            fid = int(rec)
        else:
            next_id += 1
            fid = next_id
        ice_types[name] = _iceberg_type(t)
        phys_of[name] = _cm_phys(cm, name)
        fields.append(
            {
                "id": fid,
                "name": name,
                "required": False,
                "type": ice_types[name],
            }
        )
    return fields, ice_types, phys_of, part_by


def _entry_record(
    rel: str,
    e: dict,
    dest_file_path: str,
    part_by: list,
    part_phys: list,
    ice_types: dict,
    fid_of: dict,
    phys_of: dict,
    *,
    status: int = 1,
    sid: int,
    seq=None,
):
    """One manifest entry over one txn data file: hive partition dirs
    decode to typed partition values, txn per-file stats translate to
    the spec's bound bytes.  Returns ``(entry, partition dict)``."""
    raw_pv: dict[str, str | None] = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, val = seg.split("=", 1)
            raw_pv[k] = (
                None
                if val == "__HIVE_DEFAULT_PARTITION__"
                else unquote(val)
            )
    partition = {}
    for c, pc in zip(part_by, part_phys):
        partition[c] = _typed_partition(ice_types[c], raw_pv.get(pc))
    lowers, uppers, nulls = [], [], []
    for name in fid_of:
        st = (e.get("columns") or {}).get(phys_of[name])
        if st is None:
            continue
        fid = fid_of[name]
        nulls.append({"key": fid, "value": int(st.get("nulls", 0))})
        lo = _bound_bytes(ice_types[name], st.get("t"), st.get("min"))
        hi = _bound_bytes(ice_types[name], st.get("t"), st.get("max"))
        if lo is not None and hi is not None:
            lowers.append({"key": fid, "value": lo})
            uppers.append({"key": fid, "value": hi})
    return (
        {
            "status": status,
            "snapshot_id": sid,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": dest_file_path,
                "file_format": "PARQUET",
                "partition": partition,
                "record_count": int(e.get("rows", 0)),
                "file_size_in_bytes": int(
                    e.get("bytes") or os.path.getsize(dest_file_path)
                ),
                "null_value_counts": nulls or None,
                "lower_bounds": lowers or None,
                "upper_bounds": uppers or None,
            },
        },
        partition,
    )


def _field_summaries(part_by, ice_types, part_values_seen):
    """Manifest-list ``partitions`` field summaries over the partition
    values one manifest holds."""
    summaries = []
    for c in part_by:
        vals = part_values_seen[c]
        non_null = [x for x in vals if x is not None]
        bb = lambda x: _bound_bytes(  # noqa: E731
            ice_types[c],
            {"int": "num", "long": "num", "float": "num",
             "double": "num"}.get(ice_types[c], "str"),
            x,
        )
        summaries.append(
            {
                "contains_null": any(x is None for x in vals),
                "contains_nan": None,
                "lower_bound": bb(min(non_null)) if non_null else None,
                "upper_bound": bb(max(non_null)) if non_null else None,
            }
        )
    return summaries


def export_iceberg(
    table: TxnTable,
    dest: str,
    version: str | None = None,
) -> dict:
    """Export one snapshot of ``table`` as a standalone Iceberg v2
    table at ``dest`` (created; must not already hold a ``metadata/``
    directory).  Returns ``{"n_files", "n_rows", "metadata_path",
    "snapshot_id"}``."""
    v = version or table.current_version()
    if v is None:
        raise FileNotFoundError(f"no committed version at {table.root}")
    if os.path.isdir(os.path.join(dest, "metadata")):
        raise FileExistsError(f"{dest} already holds an Iceberg table")
    if table.has_deletion_vectors(v):
        raise ValueError(
            "snapshot carries a pending deletion vector; run "
            "materialize_deletes() before exporting (Iceberg row-level "
            "deletes are a different mechanism — the export is "
            "copy-on-write)"
        )
    meta = table._meta(v)
    fields, ice_types, phys_of, part_by = _export_schema(meta)
    fid_of = {f["name"]: f["id"] for f in fields}

    # the spec's escape hatch for id-less parquet: map each field id to
    # the PHYSICAL column name the files actually carry
    name_mapping = [
        {"field-id": fid_of[n], "names": [phys_of[n]]}
        for n in fid_of
        if n not in part_by  # partition columns are not in the files
    ]

    os.makedirs(os.path.join(dest, "metadata"))
    os.makedirs(os.path.join(dest, "data"))
    entries = table.file_entries(v)
    data_root = os.path.join(table.root, "_versions", v)
    sid = _snapshot_id(table.root, v)
    part_phys = [phys_of[c] for c in part_by]

    avro_part_fields = [
        {
            "name": c,
            "type": ["null", _AVRO_PART_TYPE.get(ice_types[c], "string")],
        }
        for c in part_by
    ]
    mf_schema = _manifest_schema(avro_part_fields)

    mf_entries = []
    total_rows = 0
    sync_files: dict[str, dict] = {}
    part_values_seen: dict[str, list] = {c: [] for c in part_by}
    for i, rel in enumerate(sorted(entries)):
        src = os.path.join(data_root, rel)
        new_rel = f"data/e{i:06d}-{os.path.basename(rel)}"
        os.link(src, os.path.join(dest, new_rel))
        e = entries[rel]
        total_rows += int(e.get("rows", 0))
        row, partition = _entry_record(
            rel, e, os.path.join(dest, new_rel), part_by, part_phys,
            ice_types, fid_of, phys_of, status=1, sid=sid, seq=None,
        )
        for c in part_by:
            part_values_seen[c].append(partition[c])
        mf_entries.append(row)
        sync_files[rel] = {"dest": new_rel, "seq": 1, "sid": sid}
    mpath = "metadata/m000.avro"
    write_avro(os.path.join(dest, mpath), mf_schema, mf_entries)
    summaries = _field_summaries(part_by, ice_types, part_values_seen)
    ml_row = _ml_row(
        dest, mpath, 0, 0, 1, sid,
        added=(len(mf_entries), total_rows),
        partitions=summaries if part_by else None,
    )
    write_avro(
        os.path.join(dest, "metadata/snap-1.avro"), _ML_SCHEMA, [ml_row]
    )
    now_ms = int(time.time() * 1000)
    spec_fields = [
        {
            "name": c,
            "transform": "identity",
            "source-id": fid_of[c],
            "field-id": 1000 + j,
        }
        for j, c in enumerate(part_by)
    ]
    table_meta = {
        "format-version": 2,
        "table-uuid": "%08x-0000-4000-8000-%012x"
        % (sid & 0xFFFFFFFF, sid & 0xFFFFFFFFFFFF),
        "location": dest,
        "last-sequence-number": 1,
        "last-updated-ms": now_ms,
        "last-column-id": max(fid_of.values() or [0]),
        "schemas": [
            {"type": "struct", "schema-id": 0, "fields": fields}
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": 1000 + max(len(spec_fields) - 1, 0),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {
            "schema.name-mapping.default": json.dumps(name_mapping),
            "rxlan.txn.source-root": table.root,
            "rxlan.txn.source-version": v,
        },
        "current-snapshot-id": sid,
        "snapshots": [
            {
                "snapshot-id": sid,
                "timestamp-ms": now_ms,
                "sequence-number": 1,
                "summary": {
                    "operation": "append",
                    "rxlan-txn-version": v,
                },
                "manifest-list": "metadata/snap-1.avro",
                "schema-id": 0,
            }
        ],
        "snapshot-log": [
            {"timestamp-ms": now_ms, "snapshot-id": sid}
        ],
    }
    mp = os.path.join(dest, "metadata", "v1.metadata.json")
    _publish_metadata(os.path.join(dest, "metadata"), 1, table_meta)
    # engine-private sync state (ignored by spec readers): the txn-rel
    # -> mirror-file mapping and the frozen field-id assignment that
    # export_iceberg_sync resumes from
    _write_sync_state(
        dest,
        {
            "source_root": table.root,
            "source_version": v,
            "field_ids": {
                f["name"].lower(): f["id"] for f in fields
            },
            "files": sync_files,
            "manifests": [
                {"path": mpath, "rels": sorted(sync_files)}
            ],
            "expected_manifests": [mpath],
            "next_file_idx": len(sync_files),
        },
    )
    return {
        "n_files": len(mf_entries),
        "n_rows": total_rows,
        "metadata_path": mp,
        "snapshot_id": sid,
    }


def _publish_metadata(mdir: str, version: int, meta: dict) -> None:
    """Publish ``meta`` as ``mdir/v{version}.metadata.json`` by
    put-if-absent (the HadoopTables commit point), then point
    ``version-hint.text`` at it. Raises ``FileExistsError`` when the
    version is already published; each caller maps that to its own
    error. The hint is advisory: readers take the highest published
    version."""
    LOCAL.put_if_absent(
        os.path.join(mdir, f"v{version}.metadata.json"), json.dumps(meta)
    )
    LOCAL.put(os.path.join(mdir, "version-hint.text"), str(version))


def _write_sync_state(dest: str, state: dict) -> None:
    LOCAL.put(os.path.join(dest, _SYNC_STATE), json.dumps(state))


def _next_ts(meta: dict) -> int:
    """Now in ms, kept above every snapshot's timestamp so the snapshot
    log stays monotonic under clock skew."""
    prev_ts = max(
        [int(s.get("timestamp-ms") or 0) for s in meta.get("snapshots") or []]
        or [0]
    )
    return max(int(time.time() * 1000), prev_ts + 1)


def _ml_row(
    path: str,
    mpath: str,
    spec_id: int,
    content: int,
    seq: int,
    sid: int,
    min_seq: int | None = None,
    added: tuple = (0, 0),
    existing: tuple = (0, 0),
    deleted: tuple = (0, 0),
    partitions=None,
) -> dict:
    """The manifest-list row of the manifest ``mpath`` (relative to the
    table at ``path``) written at sequence ``seq`` by snapshot ``sid``.
    ``added``/``existing``/``deleted`` are ``(files, rows)`` counts."""
    return {
        "manifest_path": mpath,
        "manifest_length": os.path.getsize(_resolve(path, mpath)),
        "partition_spec_id": int(spec_id),
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": seq if min_seq is None else min_seq,
        "added_snapshot_id": sid,
        "added_files_count": added[0],
        "existing_files_count": existing[0],
        "deleted_files_count": deleted[0],
        "added_rows_count": added[1],
        "existing_rows_count": existing[1],
        "deleted_rows_count": deleted[1],
        "partitions": partitions,
    }


def _added_manifest(path: str, mpath: str, staged: dict, seq: int, sid: int):
    """Write ``append_iceberg``'s staged entries as one manifest of
    ADDED entries (sequence inherited) and return its list row."""
    for e in staged["entries"]:
        e["snapshot_id"] = sid
    write_avro(_resolve(path, mpath), staged["mf_schema"], staged["entries"])
    return _ml_row(
        path, mpath, staged["spec_id"], 0, seq, sid,
        added=(len(staged["entries"]), staged["n_rows"]),
        partitions=staged["partitions"],
    )


def _current_manifests(path: str, meta: dict) -> list[dict]:
    """The current snapshot's manifest-list rows ([] without one)."""
    cur = meta.get("current-snapshot-id")
    snap = next(
        (s for s in meta.get("snapshots") or [] if s.get("snapshot-id") == cur),
        None,
    )
    if snap is None:
        return []
    return read_avro(_resolve(path, snap["manifest-list"]))[1]


def _summary(operation: str, opl: str) -> dict:
    return {
        "operation": operation,
        "engine": f"rxlan-aws-lakehouse-spark foreign {opl}",
    }


def _add_snapshot(
    path: str, meta: dict, summary: dict, ml_prefix: str, build, sid=None
) -> dict:
    """``meta`` with one new snapshot on top: everything a snapshot
    needs, written once for every snapshot-producing verb.

    Picks the next sequence number and (unless given) a fresh snapshot
    id, calls ``build(seq, sid)`` for the verb's manifest-list rows and
    the row count it adds, writes the manifest list, and returns the
    new metadata: current snapshot, parent, monotonic timestamp,
    ``snapshot-log`` entry and, on format-version 3, the snapshot's
    ``first-row-id`` with ``next-row-id`` advanced by the added rows
    (the spec's row-lineage assignment rule)."""
    import uuid as _uuid

    seq = int(meta.get("last-sequence-number") or 0) + 1
    if sid is None:
        sid = _uuid.uuid4().int >> 65  # positive Avro long
    rows, added_rows = build(seq, sid)
    ml_rel = f"metadata/{ml_prefix}snap-{seq}.avro"
    write_avro(_resolve(path, ml_rel), _ML_SCHEMA, rows)
    now_ms = _next_ts(meta)
    snap = {
        "snapshot-id": sid,
        "parent-snapshot-id": meta.get("current-snapshot-id"),
        "timestamp-ms": now_ms,
        "sequence-number": seq,
        "summary": summary,
        "manifest-list": ml_rel,
        "schema-id": meta.get("current-schema-id", 0),
    }
    new_meta = dict(meta)
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["current-snapshot-id"] = sid
    new_meta["snapshots"] = list(meta.get("snapshots") or []) + [snap]
    new_meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"timestamp-ms": now_ms, "snapshot-id": sid}
    ]
    if int(meta.get("format-version", 1)) >= 3:
        first_rid = int(meta.get("next-row-id") or 0)
        snap["first-row-id"] = first_rid
        new_meta["next-row-id"] = first_rid + int(added_rows)
    return new_meta


def _commit_metadata(path: str, opl: str, edit, attempts: int = 8):
    """Publish ``edit(head metadata)`` as the next metadata version —
    the one publish loop of every foreign Iceberg write verb.

    Each attempt reads the head, builds the new metadata from it, and
    publishes it into the slot pinned at that read (never the advisory
    hint, which a crashed writer leaves stale, and never a publish-time
    re-scan, which would build over a commit racing in between). A lost
    race retries from the new head; ``attempts=1`` refuses it instead.
    ``edit`` raises to refuse, or returns None to commit nothing.
    Returns the published metadata (or None)."""
    for _attempt in range(attempts):
        meta, head_v = load_table_metadata_versioned(path)
        new_meta = edit(meta)
        if new_meta is None:
            return None
        try:
            _publish_metadata(
                os.path.join(path, "metadata"), head_v + 1, new_meta
            )
            return new_meta
        except FileExistsError:
            if attempts == 1:
                raise ValueError(
                    f"cannot {opl}: lost the metadata race; re-run "
                    "against the new state"
                ) from None
    raise RuntimeError(
        f"{opl} on {path} lost the metadata race {attempts} times; "
        "giving up"
    )


def export_iceberg_sync(
    table: TxnTable,
    dest: str,
    version: str | None = None,
) -> dict:
    """Incremental Iceberg MIRROR sync (round 14, r13 verdict task 4 —
    parity with ``export_delta_sync``): bring a previously-exported
    Iceberg table at ``dest`` up to the given (default: live) txn
    snapshot as ONE new Iceberg snapshot, reusing untouched manifests
    BY REFERENCE (the spec's fast-append economics).

    Mechanics per the public spec:

    * added txn files are hard-linked and written as ONE new manifest
      of ADDED (status=1) entries that inherit the snapshot's sequence
      number — the fast-append shape;
    * a previous manifest that lost files is REWRITTEN once: survivors
      as EXISTING (status=0) entries and removed files as DELETED
      (status=2) entries, each carrying its ORIGINAL data sequence
      number explicitly (inheritance applies only to ADDED), so
      sequence-scoped consumers stay correct; the next sync drops the
      DELETED entries entirely;
    * untouched manifests' manifest-list rows carry over verbatim —
      zero rewrite, the common case for append-mostly tables;
    * the snapshot summary operation is ``append`` / ``overwrite`` /
      ``delete`` per what changed, so the streaming source's
      append-only contract keeps meaning;
    * field ids are FROZEN across syncs (recorded in the engine-private
      ``rxlan-sync-state.json``): schema evolution appends a NEW
      schema-id with new ids minted above the high-water mark, never
      recycling — the Iceberg evolution contract.

    Resume point: the sync state's ``source_version`` (the summary's
    ``rxlan-txn-version`` mirrors it for humans).  Refuses on pending
    deletion vectors, a partition-spec change, a rewind, or a source
    snapshot vacuumed past the resume point — each loudly.  First call
    on an empty ``dest`` falls through to ``export_iceberg``.  Scale:
    O(changed files) links + O(changed manifests) Avro bytes; a pure
    append syncs one manifest regardless of table size."""
    v = version or table.current_version()
    if v is None:
        raise FileNotFoundError(f"no committed version at {table.root}")
    if not os.path.isdir(os.path.join(dest, "metadata")):
        out = export_iceberg(table, dest, version=v)
        out.update(
            {
                "snapshot_seq": 1,
                "synced_from": None,
                "n_adds": out["n_files"],
                "n_removes": 0,
                "schema_changed": False,
                "operation": "append",
            }
        )
        return out
    if table.has_deletion_vectors(v):
        raise ValueError(
            "snapshot carries a pending deletion vector; run "
            "materialize_deletes() before an incremental sync (a "
            "mirror must not rewrite files earlier snapshots reference)"
        )
    state_p = os.path.join(dest, _SYNC_STATE)
    if not os.path.exists(state_p):
        raise ValueError(
            f"{dest} has no {_SYNC_STATE}; only mirrors written by "
            "this engine's export_iceberg can sync incrementally"
        )
    with open(state_p) as f:
        sync = json.load(f)
    if sync.get("source_root") != table.root:
        raise ValueError(
            f"{dest} mirrors {sync.get('source_root')!r}, not "
            f"{table.root!r}"
        )
    last = sync["source_version"]
    if last == v:
        return {
            "snapshot_seq": None,
            "n_adds": 0,
            "n_removes": 0,
            "schema_changed": False,
            "synced_from": last,
            "operation": None,
        }
    if v < last:
        raise ValueError(
            f"sync target {v} is older than the mirror's resume point "
            f"{last}; a mirror never rewinds — RESTORE the source (the "
            "rollback then syncs forward) or re-bootstrap a fresh dest"
        )
    try:
        old_entries = table.file_entries(last)
    except FileNotFoundError as e:
        raise FileNotFoundError(
            f"resume snapshot {last} was vacuumed from {table.root}; "
            "re-bootstrap the mirror with export_iceberg into a fresh "
            "dest"
        ) from e
    new_entries = table.file_entries(v)
    meta = table._meta(v)
    dmeta, dmeta_v = load_table_metadata_versioned(dest)
    fields, ice_types, phys_of, part_by = _export_schema(
        meta,
        recorded_ids=sync.get("field_ids"),
        min_field_id=dmeta.get("last-column-id"),
    )
    fid_of = {f["name"]: f["id"] for f in fields}
    spec0 = (dmeta.get("partition-specs") or [{"fields": []}])[0]
    old_part = [pf.get("name") for pf in (spec0.get("fields") or [])]
    if list(part_by) != list(old_part):
        raise ValueError(
            f"cannot sync: partition spec changed ({old_part} -> "
            f"{part_by}); re-bootstrap the mirror (an Iceberg spec "
            "change would re-key every manifest)"
        )
    part_phys = [phys_of[c] for c in part_by]
    cur_schema_id = int(dmeta.get("current-schema-id", 0))
    cur_schema = next(
        s
        for s in dmeta["schemas"]
        if s.get("schema-id") == cur_schema_id
    )
    schema_changed = list(cur_schema.get("fields") or []) != fields

    added = sorted(set(new_entries) - set(old_entries))
    removed = sorted(set(old_entries) - set(new_entries))
    removed_set = set(removed)
    data_root = os.path.join(table.root, "_versions", v)
    avro_part_fields = [
        {
            "name": c,
            "type": ["null", _AVRO_PART_TYPE.get(ice_types[c], "string")],
        }
        for c in part_by
    ]
    mf_schema = _manifest_schema(avro_part_fields)

    prev_rows = {
        r["manifest_path"]: r for r in _current_manifests(dest, dmeta)
    }
    # SYMMETRIC out-of-band detection: the sync state must account for
    # EVERY manifest the current list carries, or the next snapshot
    # would silently drop rows another writer (this engine's own
    # append_iceberg, or any Iceberg engine's fast-append) committed to
    # the mirror.  The reverse direction (state names a manifest the
    # list lacks) is checked per-manifest below.
    expected = sync.get("expected_manifests")
    if expected is not None and set(prev_rows) != set(expected):
        foreign = sorted(set(prev_rows) - set(expected))
        raise RuntimeError(
            f"mirror {dest} was modified out-of-band: its manifest "
            f"list carries manifest(s) {foreign or sorted(expected)} "
            "the sync state does not account for — a sync would drop "
            "those rows from the next snapshot; re-bootstrap the "
            "mirror (or keep foreign writers off synced mirrors)"
        )

    files_map = dict(sync["files"])
    n_file = int(sync.get("next_file_idx", len(files_map)))
    new_ml_rows: list[dict] = []
    new_manifests_meta: list[dict] = []
    total_added_rows = 0

    def build(seq, sid):
        nonlocal n_file, total_added_rows
        if added:
            rows = []
            pvs: dict[str, list] = {c: [] for c in part_by}
            for rel in added:
                src = os.path.join(data_root, rel)
                new_rel = f"data/e{n_file:06d}-{os.path.basename(rel)}"
                n_file += 1
                dst = os.path.join(dest, new_rel)
                if not os.path.exists(dst):
                    os.link(src, dst)
                e = new_entries[rel]
                total_added_rows += int(e.get("rows", 0))
                row, partition = _entry_record(
                    rel, e, dst, part_by, part_phys, ice_types, fid_of,
                    phys_of, status=1, sid=sid, seq=None,
                )
                for c in part_by:
                    pvs[c].append(partition[c])
                rows.append(row)
                files_map[rel] = {"dest": new_rel, "seq": seq, "sid": sid}
            mpath = f"metadata/m{seq:06d}-add.avro"
            write_avro(os.path.join(dest, mpath), mf_schema, rows)
            new_ml_rows.append(
                _ml_row(
                    dest, mpath, 0, 0, seq, sid,
                    added=(len(rows), total_added_rows),
                    partitions=_field_summaries(part_by, ice_types, pvs)
                    if part_by
                    else None,
                )
            )
            new_manifests_meta.append({"path": mpath, "rels": list(added)})

        for i, mf in enumerate(sync.get("manifests") or []):
            rels = list(mf.get("rels") or [])
            live = [r for r in rels if r not in removed_set]
            gone = [r for r in rels if r in removed_set]
            if not rels:
                continue
            if not gone:
                row = prev_rows.get(mf["path"])
                if row is None:
                    raise RuntimeError(
                        f"sync state names manifest {mf['path']!r} that "
                        "the current manifest list does not carry — the "
                        "mirror was modified out-of-band; re-bootstrap"
                    )
                new_ml_rows.append(row)
                new_manifests_meta.append({"path": mf["path"], "rels": live})
                continue
            rows = []
            pvs = {c: [] for c in part_by}
            n_exist_rows = n_del_rows = 0
            min_seq = seq
            for rel in rels:
                fi = files_map[rel]
                e = (
                    new_entries[rel]
                    if rel in new_entries
                    else old_entries[rel]
                )
                deleted = rel in removed_set
                row, partition = _entry_record(
                    rel, e, os.path.join(dest, fi["dest"]), part_by,
                    part_phys, ice_types, fid_of, phys_of,
                    status=2 if deleted else 0,
                    sid=sid if deleted else int(fi["sid"]),
                    seq=int(fi["seq"]),
                )
                min_seq = min(min_seq, int(fi["seq"]))
                if deleted:
                    n_del_rows += int(e.get("rows", 0))
                else:
                    for c in part_by:
                        pvs[c].append(partition[c])
                    n_exist_rows += int(e.get("rows", 0))
                rows.append(row)
            mpath = f"metadata/m{seq:06d}-rw{i}.avro"
            write_avro(os.path.join(dest, mpath), mf_schema, rows)
            new_ml_rows.append(
                _ml_row(
                    dest, mpath, 0, 0, seq, sid, min_seq=min_seq,
                    existing=(len(live), n_exist_rows),
                    deleted=(len(gone), n_del_rows),
                    # summaries bound the LIVE entries (readers skip
                    # DELETED entries, so live-only bounds are sound)
                    partitions=_field_summaries(part_by, ice_types, pvs)
                    if part_by and live
                    else None,
                )
            )
            if live:
                new_manifests_meta.append({"path": mpath, "rels": live})
            for rel in gone:
                files_map.pop(rel, None)
        return new_ml_rows, total_added_rows

    # zero-add/zero-remove syncs (metadata-only source commits: rename/
    # drop/properties) classify as a 0-file "append", NOT "overwrite" —
    # an overwrite that changed no rows would needlessly trip the
    # streaming source's append-only contract
    if removed:
        op = "delete" if not added else "overwrite"
    else:
        op = "append"
    base = dict(dmeta)
    if schema_changed:
        new_sid = cur_schema_id + 1
        base["schemas"] = list(dmeta["schemas"]) + [
            {"type": "struct", "schema-id": new_sid, "fields": fields}
        ]
        base["current-schema-id"] = new_sid
        base["last-column-id"] = max(
            [f["id"] for f in fields]
            + [int(dmeta.get("last-column-id") or 0)]
        )
    props = dict(base.get("properties") or {})
    props["schema.name-mapping.default"] = json.dumps(
        [
            {"field-id": fid_of[n], "names": [phys_of[n]]}
            for n in fid_of
            if n not in part_by
        ]
    )
    props["rxlan.txn.source-version"] = v
    base["properties"] = props
    new_meta = _add_snapshot(
        dest,
        base,
        {"operation": op, "rxlan-txn-version": v},
        "",
        build,
        sid=_snapshot_id(table.root, v),
    )
    seq = new_meta["last-sequence-number"]
    sid = new_meta["current-snapshot-id"]

    # publish into the slot pinned at READ time (the version the sync's
    # head metadata came from) — never the advisory hint, and never a
    # publish-time re-scan, either of which would let a racing commit
    # be silently built over; a mirror never retries over another
    # writer's commit, it refuses
    mdir = os.path.join(dest, "metadata")
    mp = os.path.join(mdir, f"v{dmeta_v + 1}.metadata.json")
    try:
        _publish_metadata(mdir, dmeta_v + 1, new_meta)
    except FileExistsError:
        raise RuntimeError(
            f"mirror {dest} advanced concurrently while syncing "
            f"(v{dmeta_v + 1}.metadata.json already exists) — it was "
            "modified out-of-band; re-bootstrap"
        ) from None

    _write_sync_state(
        dest,
        {
            "source_root": table.root,
            "source_version": v,
            "field_ids": {f["name"].lower(): f["id"] for f in fields},
            "files": files_map,
            "manifests": new_manifests_meta,
            "expected_manifests": [
                r["manifest_path"] for r in new_ml_rows
            ],
            "next_file_idx": n_file,
        },
    )
    return {
        "snapshot_seq": seq,
        "snapshot_id": sid,
        "n_adds": len(added),
        "n_removes": len(removed),
        "n_rows_added": total_added_rows,
        "schema_changed": schema_changed,
        "synced_from": last,
        "operation": op,
        "metadata_path": mp,
    }


def create_iceberg_table(
    path: str,
    fields: list[dict],
    spec_fields: list[dict] | None = None,
    properties: dict | None = None,
    format_version: int = 2,
) -> dict:
    """CREATE an empty Iceberg table at ``path`` — the metadata shape
    any engine's ``CREATE TABLE`` leaves before the first write
    (``v1.metadata.json`` with no snapshots, ``current-snapshot-id``
    -1).  ``fields`` are spec schema fields (``{"id", "name",
    "required", "type"}``), ``spec_fields`` spec partition fields
    (``{"name", "transform", "source-id", "field-id"}``) — any spec
    transform, including the ``bucket[N]``/``truncate[W]``/temporal
    layouts ``append_iceberg`` computes forward.

    ``format_version=3`` (round 16, r15 verdict task 8) creates a
    v3-native table: row lineage is reserved from birth
    (``next-row-id`` 0; every ``append_iceberg`` snapshot then stamps
    ``first-row-id`` and advances ``next-row-id`` by its added rows,
    the spec's row-lineage assignment rule) and row-level deletes take
    deletion vectors from the first write.  Versions outside 2/3
    refuse by number.  Returns the written metadata dict."""
    import uuid as _uuid

    if int(format_version) not in (2, 3):
        raise ValueError(
            f"cannot create: format-version {format_version} is not "
            "supported (2 and 3 are)"
        )
    spec_fields = list(spec_fields or [])
    mdir = os.path.join(path, "metadata")
    if os.path.isdir(mdir):
        raise FileExistsError(f"{path} already holds an Iceberg table")
    os.makedirs(mdir)
    now_ms = int(time.time() * 1000)
    meta = {
        "format-version": int(format_version),
        "table-uuid": str(_uuid.uuid4()),
        "location": path,
        "last-sequence-number": 0,
        "last-updated-ms": now_ms,
        "last-column-id": max(
            [int(f["id"]) for f in fields] or [0]
        ),
        "schemas": [
            {"type": "struct", "schema-id": 0, "fields": list(fields)}
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": max(
            [int(pf.get("field-id") or 999) for pf in spec_fields]
            or [999]
        ),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": dict(properties or {}),
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
    }
    if int(format_version) >= 3:
        meta["next-row-id"] = 0
    _publish_metadata(mdir, 1, meta)
    return meta


def _plan_append_partitions(spark, part_fields, by_id, schema):
    """Per-partition-field write plan for ``append_iceberg``: the
    source column, the spec transform's RESULT type, and a Spark
    Column computing the transform FORWARD row-level (the partition
    value each row lands in).

    The transforms are the spec's (Appendix B semantics, the same
    functions the importer prunes with): ``identity``, ``bucket[N]``
    (32-bit murmur3 of the canonical long/string encoding — the long
    path is a numpy-vectorized Arrow ``pandas_udf`` over
    ``iceberg_import._bucket_longs``, values shipped as strings so
    int64 precision survives the Arrow->pandas null path), ``truncate
    [W]`` (pure column exprs: ``v - pmod(v, W)`` / ``substring``),
    and ``year``/``month``/``day``/``hour`` (pure column exprs over
    ``unix_micros``/date parts; a TimestampNTZ source rides its
    wall-clock verbatim because the append pins the session tz to UTC
    during the staging write).  Everything else refuses loudly by
    transform name — a wrong partition value would silently corrupt
    pruning."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from .iceberg_import import (
        _BUCKET_RE,
        _DAY_US,
        _HOUR_US,
        _TRUNCATE_RE,
        _bucket_longs,
        _bucket_of,
    )

    def refuse(pf, why):
        raise ValueError(
            f"cannot append: partition field {pf.get('name')!r} "
            f"(transform {pf.get('transform')!r}) — {why}"
        )

    out = []
    for pf in part_fields:
        transform = str(pf.get("transform"))
        src = by_id.get(int(pf.get("source-id", -1)))
        if src is None or not isinstance(src.get("type"), str):
            refuse(pf, "its source field is not a primitive schema column")
        st = src["type"]
        src_name = src["name"]
        col = F.col(src_name).cast(schema[src_name].dataType)
        is_ntz = isinstance(schema[src_name].dataType, T.TimestampNTZType)

        def micros(col=col, is_ntz=is_ntz):
            # spec-internal micros since epoch; the NTZ wall-clock
            # reads as-is only because the append pins session tz=UTC
            return F.unix_micros(col.cast("timestamp") if is_ntz else col)

        def days(col=col, st=st, is_ntz=is_ntz):
            if st == "date":
                return F.datediff(col, F.lit("1970-01-01").cast("date"))
            m = micros(col, is_ntz)
            # (m - pmod) is an exact multiple -> the double division is
            # exact for any timestamp within astronomically many years
            return (
                (m - F.pmod(m, F.lit(_DAY_US))) / F.lit(_DAY_US)
            ).cast("int")

        plan = {
            "name": pf.get("name"),
            "src_name": src_name,
            "src_type": st,
            "transform": transform,
        }
        bm = _BUCKET_RE.fullmatch(transform)
        tm = _TRUNCATE_RE.fullmatch(transform)
        kind = {
            "years": "year", "months": "month", "days": "day",
            "date": "day", "hours": "hour", "date_hour": "hour",
        }.get(transform, transform)
        if transform == "identity":
            if st not in (
                "int", "long", "float", "double", "string", "date",
            ):
                refuse(pf, f"identity over source type {st!r} is not "
                           "supported by this writer")
            plan.update(res=st, shadow=col)
        elif bm:
            n = int(bm.group(1))
            if st == "string":

                @pandas_udf("int")
                def _bucket_s(s, n=n):
                    return s.map(
                        lambda x: None
                        if x is None
                        else _bucket_of("string", x, n)
                    )

                plan.update(res="int", shadow=_bucket_s(col))
            else:
                if st in ("int", "long"):
                    enc = col.cast("long")
                elif st == "date":
                    enc = F.datediff(
                        col, F.lit("1970-01-01").cast("date")
                    ).cast("long")
                elif st in ("timestamp", "timestamptz"):
                    enc = micros()
                else:
                    refuse(pf, f"bucket over source type {st!r} has no "
                               "canonical encoding this writer computes")

                @pandas_udf("int")
                def _bucket_l(s, n=n):
                    import numpy as np
                    import pandas as pd

                    mask = s.notna().to_numpy()
                    vals = np.fromiter(
                        (int(x) for x in s[mask]),
                        dtype=np.int64,
                        count=int(mask.sum()),
                    )
                    res = pd.Series([None] * len(s), dtype="Int32")
                    res[mask] = _bucket_longs(vals, n)
                    return res

                plan.update(res="int", shadow=_bucket_l(enc.cast("string")))
        elif tm:
            w = int(tm.group(1))
            if st in ("int", "long"):
                plan.update(res=st, shadow=col - F.pmod(col, F.lit(w)))
            elif st == "string":
                plan.update(res="string", shadow=F.substring(col, 1, w))
            else:
                refuse(pf, f"truncate over source type {st!r} is not a "
                           "spec transform")
        elif kind in ("year", "month", "day", "hour"):
            if st == "date":
                if kind == "hour":
                    refuse(pf, "hour(date) is not a spec transform")
                if kind == "day":
                    plan.update(res="date", shadow=days())
                elif kind == "year":
                    plan.update(res="int", shadow=F.year(col) - F.lit(1970))
                else:
                    plan.update(
                        res="int",
                        shadow=(F.year(col) - F.lit(1970)) * F.lit(12)
                        + F.month(col)
                        - F.lit(1),
                    )
            elif st in ("timestamp", "timestamptz"):
                if kind == "hour":
                    m = micros()
                    plan.update(
                        res="int",
                        shadow=(
                            (m - F.pmod(m, F.lit(_HOUR_US)))
                            / F.lit(_HOUR_US)
                        ).cast("int"),
                    )
                elif kind == "day":
                    plan.update(res="date", shadow=days())
                else:
                    d = F.date_add(F.lit("1970-01-01").cast("date"), days())
                    if kind == "year":
                        plan.update(res="int", shadow=F.year(d) - F.lit(1970))
                    else:
                        plan.update(
                            res="int",
                            shadow=(F.year(d) - F.lit(1970)) * F.lit(12)
                            + F.month(d)
                            - F.lit(1),
                        )
            else:
                refuse(pf, f"{kind} over source type {st!r} is not a "
                           "spec transform")
        else:
            refuse(pf, "not a spec transform this writer computes "
                       "(identity / bucket[N] / truncate[W] / year / "
                       "month / day / hour are)")
        out.append(plan)
    return out


def append_iceberg(spark, path: str, df, _stage_only: bool = False) -> dict:
    """APPEND a DataFrame to a FOREIGN Iceberg table — one this engine
    did not write (round 14, the Iceberg twin of ``append_delta``,
    r13 verdict "what's missing" #5).

    Spec-faithful fast-append:

    * replay the foreign metadata (format-version 1/2; v3 refuses),
      bind the DataFrame to the table's logical schema (no evolution),
      cast values to the table types;
    * data files are written WITH parquet field ids matching the
      table schema (the id-based reader contract) and CONTAIN their
      partition SOURCE columns per the spec — files are split
      one-partition-value-per-file via shadow transform-result
      columns, then relocated under ``data/``;
    * partition values compute the spec transforms FORWARD (round 15):
      ``identity``, ``bucket[N]`` (murmur3, Appendix B), ``truncate
      [W]``, ``year``/``month``/``day``/``hour`` — the same functions
      the importer's transform-aware pruning runs in reverse, so the
      appended files prune correctly; unknown transforms (``void``,
      future ones) refuse loudly by name.  Merge-on-read tables
      APPEND FINE: existing delete files scope to sequence numbers at
      or below their own, never to the new rows;
    * one new manifest of ADDED entries (sequence inherited), appended
      to the current manifest list BY REFERENCE — untouched manifests
      are never rewritten; per-file ``lower_bounds``/``upper_bounds``
      translate from the parquet footers (zero extra data IO);
    * the snapshot is built by ``_add_snapshot`` and published by
      ``_commit_metadata``; a lost race re-reads the head and retries —
      appends never logically conflict, beyond the schema staying put.

    Returns ``{"snapshot_id", "snapshot_seq", "n_files", "n_rows"}``.

    ``_stage_only`` (internal, used by ``update_iceberg``): stage the
    data files + manifest entries and return them WITHOUT committing
    a snapshot — the caller folds them into its own commit
    (``{"entries", "n_rows", "mf_schema", "spec_id", "partitions",
    "run_id"}``)."""
    import shutil as _shutil
    import struct as _struct
    import tempfile as _tempfile
    import uuid as _uuid

    from pyspark.sql import functions as F

    from .iceberg_import import (
        _current_schema,
        _spark_schema,
        load_table_metadata,
    )

    meta = load_table_metadata(path)
    schema = _spark_schema(meta)
    ice_schema = _current_schema(meta)
    by_id = {int(f["id"]): f for f in ice_schema["fields"]}
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    extra = [c for c in df.columns if c not in schema.fieldNames()]
    if missing or extra:
        raise ValueError(
            f"cannot append: DataFrame columns do not match the table "
            f"schema (missing {missing}, unexpected {extra}); appends "
            "do not evolve a foreign schema"
        )
    specs = {
        int(s["spec-id"]): s for s in (meta.get("partition-specs") or [])
    }
    spec = specs.get(int(meta.get("default-spec-id", 0))) or {
        "spec-id": 0,
        "fields": [],
    }
    part_fields = list(spec.get("fields") or [])
    # Transform-partitioned appends (round 15, r14 verdict task 1):
    # each partition field's SPEC TRANSFORM is computed FORWARD at
    # write time — the same Appendix-B-tested functions the importer
    # prunes with run in reverse (iceberg_import.py ``_bucket_of`` /
    # ``_bucket_longs`` / ``_truncate_of`` / ``_temporal_of``) — so
    # appends onto real ``days(ts)``/``bucket[N]`` production layouts
    # commit partition tuples that PRUNE correctly.  Unknown transforms
    # (``void``, future spec additions) still refuse loudly by name.
    pparts = _plan_append_partitions(spark, part_fields, by_id, schema)
    part_cols = [p["src_name"] for p in pparts]

    fid_of = {f["name"]: int(f["id"]) for f in ice_schema["fields"]}
    # Match the table's EXISTING file-binding convention: id-bearing
    # tables get id-bearing files (the id-based reader contract);
    # migrated/name-mapped tables whose files carry no ids get id-less
    # files under the mapping's physical names — MIXING the two in one
    # table would force every reader onto per-file binding.
    from .iceberg_import import _name_mapping, iceberg_live_files

    nm = _name_mapping(meta)
    live = iceberg_live_files(path)
    write_ids = True
    if live["files"]:
        import pyarrow.parquet as _pq_probe

        first = _pq_probe.read_schema(live["files"][0])
        write_ids = any(
            (f.metadata or {}).get(b"PARQUET:field_id") is not None
            for f in first
        )
    if write_ids:
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    writer_df = df.select(
        *(
            F.col(f.name)
            .cast(f.dataType)
            .alias(
                nm.get(fid_of[f.name], f.name),
                metadata={"parquet.field.id": fid_of[f.name]}
                if write_ids
                else None,
            )
            for f in schema.fields
        ),
        # shadow TRANSFORM-RESULT columns drive the one-value-per-file
        # split and are stripped into dir names; the REAL source
        # columns stay in the files (the spec's convention — partition
        # values are derived, data is not)
        *(p["shadow"].alias(f"__ip_{p['name']}") for p in pparts),
    )
    # adjacent to the table: same-fs hard links + scratch-fs inheritance
    staging = _tempfile.mkdtemp(prefix=".iceberg_append_", dir=path)
    try:
        # session tz pinned to UTC for the staging write so a
        # TimestampNTZ source's wall-clock reads as the spec's micros
        # (instant-typed columns are tz-independent either way)
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            w = writer_df.write.mode("overwrite")
            if pparts:
                w = w.partitionBy(*(f"__ip_{p['name']}" for p in pparts))
            w.parquet(staging)
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)

        import pyarrow.parquet as _pq3

        from urllib.parse import unquote as _unquote

        def typed_pv(res_type: str, raw: str | None):
            """Staged hive-dir value -> spec partition value, typed by
            the transform's RESULT type.  ``date`` results arrive two
            ways: identity writes ISO dir names, the ``day`` transform
            writes the spec's days-since-epoch int directly."""
            if raw is None:
                return None
            if res_type in ("int", "long"):
                return int(raw)
            if res_type in ("float", "double"):
                return float(raw)
            if res_type == "date":
                import datetime as _dt3

                try:
                    return int(raw)
                except ValueError:
                    return (
                        _dt3.date.fromisoformat(raw)
                        - _dt3.date(1970, 1, 1)
                    ).days
            return raw

        def bound(src_type: str, v):
            import datetime as _dt3

            try:
                if src_type == "int":
                    return _struct.pack("<i", int(v))
                if src_type == "long":
                    return _struct.pack("<q", int(v))
                if src_type == "float":
                    return _struct.pack("<f", float(v))
                if src_type == "double":
                    return _struct.pack("<d", float(v))
                if src_type == "string":
                    s = v.decode() if isinstance(v, bytes) else str(v)
                    return s.encode("utf-8")
                if src_type == "date" and isinstance(v, _dt3.date):
                    return _struct.pack(
                        "<i", (v - _dt3.date(1970, 1, 1)).days
                    )
                if src_type in ("timestamp", "timestamptz") and isinstance(
                    v, _dt3.datetime
                ):
                    base = v
                    if base.tzinfo is not None:
                        base = base.astimezone(
                            _dt3.timezone.utc
                        ).replace(tzinfo=None)
                    return _struct.pack(
                        "<q",
                        int(
                            (base - _dt3.datetime(1970, 1, 1)).total_seconds()
                            * 1e6
                        ),
                    )
            except (TypeError, ValueError, OverflowError):
                return None
            return None

        src_type_of = {
            f["name"]: f["type"]
            for f in ice_schema["fields"]
            if isinstance(f["type"], str)
        }
        hive_null = "__HIVE_DEFAULT_PARTITION__"
        seq_placeholder = None  # ADDED entries inherit the snapshot seq
        new_entries = []
        pvs_seen: dict[str, list] = {
            pf.get("name"): [] for pf in part_fields
        }
        n_rows_total = 0
        n_file = 0
        run_id = _uuid.uuid4().hex[:12]
        staged: list[tuple] = []
        for r, _d, ns in sorted(
            (r, d, sorted(ns)) for r, d, ns in os.walk(staging)
        ):
            for n in ns:
                if n.endswith(".parquet"):
                    staged.append((r, n))
        for r, n in staged:
            src = os.path.join(r, n)
            rel_dir = os.path.relpath(r, staging)
            raw_pv: dict[str, str | None] = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    k, _, raw = seg.partition("=")
                    raw_pv[k.replace("__ip_", "", 1)] = (
                        None if raw == hive_null else _unquote(raw)
                    )
            md = _pq3.ParquetFile(src).metadata
            n_rows = md.num_rows
            if n_rows == 0:
                continue  # Spark may emit empty part files
            new_rel = f"data/ap-{run_id}-{n_file:05d}.parquet"
            n_file += 1
            dst = _resolve(path, new_rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(src, dst)
            n_rows_total += n_rows
            partition = {}
            for p in pparts:
                tv = typed_pv(p["res"], raw_pv.get(p["name"]))
                partition[p["name"]] = tv
                pvs_seen[p["name"]].append(tv)
            # footer stats -> spec bound bytes (best-effort per column)
            lowers, uppers, nulls = [], [], []
            arrow_names = [
                md.row_group(0).column(j).path_in_schema
                for j in range(md.num_columns)
            ] if md.num_row_groups else []
            for f in schema.fields:
                st_t = src_type_of.get(f.name, "")
                pname = nm.get(fid_of[f.name], f.name)
                if pname not in arrow_names:
                    continue
                j = arrow_names.index(pname)
                lo = hi = None
                nc = 0
                ok = True
                for i in range(md.num_row_groups):
                    st = md.row_group(i).column(j).statistics
                    if st is None or not st.has_null_count:
                        ok = False
                        break
                    nc += st.null_count
                    if st.has_min_max:
                        mn, mx = st.min, st.max
                        lo = mn if lo is None or mn < lo else lo
                        hi = mx if hi is None or mx > hi else hi
                if not ok:
                    continue
                fid = fid_of[f.name]
                nulls.append({"key": fid, "value": int(nc)})
                blo = bound(st_t, lo) if lo is not None else None
                bhi = bound(st_t, hi) if hi is not None else None
                if blo is not None and bhi is not None:
                    lowers.append({"key": fid, "value": blo})
                    uppers.append({"key": fid, "value": bhi})
            new_entries.append(
                {
                    "status": 1,
                    "snapshot_id": None,  # filled once sid is chosen
                    "sequence_number": seq_placeholder,
                    "file_sequence_number": seq_placeholder,
                    "data_file": {
                        "content": 0,
                        "file_path": new_rel,
                        "file_format": "PARQUET",
                        "partition": partition,
                        "record_count": n_rows,
                        "file_size_in_bytes": os.path.getsize(dst),
                        "null_value_counts": nulls or None,
                        "lower_bounds": lowers or None,
                        "upper_bounds": uppers or None,
                    },
                }
            )
        if not new_entries:
            if _stage_only:
                return {
                    "entries": [],
                    "n_rows": 0,
                    "mf_schema": None,
                    "spec_id": int(spec.get("spec-id") or 0),
                    "partitions": None,
                    "run_id": run_id,
                }
            return {
                "snapshot_id": None,
                "snapshot_seq": None,
                "n_files": 0,
                "n_rows": 0,
            }

        avro_part_fields = []
        _A = {"int": "int", "long": "long", "float": "float",
              "double": "double", "date": "int"}
        for p in pparts:
            avro_part_fields.append(
                {
                    "name": p["name"],
                    "type": ["null", _A.get(p["res"], "string")],
                }
            )
        mf_schema = _manifest_schema(avro_part_fields)
        # manifest-list summary bounds computed over VALUES, then
        # encoded (encoded little-endian ints do not sort numerically);
        # the bound type is the transform's RESULT type — ``date``
        # results (the ``day`` transform / identity dates) are already
        # days-since-epoch ints, encoded as the spec's 4-byte int
        ml_partitions = (
            [
                {
                    "contains_null": any(
                        v is None for v in pvs_seen[p["name"]]
                    ),
                    "contains_nan": None,
                    "lower_bound": bound(
                        {"date": "int"}.get(p["res"], p["res"]),
                        min(nn),
                    )
                    if (
                        nn := [
                            v
                            for v in pvs_seen[p["name"]]
                            if v is not None
                        ]
                    )
                    else None,
                    "upper_bound": bound(
                        {"date": "int"}.get(p["res"], p["res"]),
                        max(nn),
                    )
                    if nn
                    else None,
                }
                for p in pparts
            ]
            if pparts
            else None
        )
        staged = {
            "entries": new_entries,
            "n_rows": n_rows_total,
            "mf_schema": mf_schema,
            "spec_id": int(spec.get("spec-id") or 0),
            "partitions": ml_partitions,
            "run_id": run_id,
        }
        if _stage_only:
            return staged

        def edit(meta):
            if (
                _current_schema(meta).get("fields")
                != ice_schema.get("fields")
            ):
                raise ValueError(
                    "cannot append: a concurrent commit changed the "
                    "table schema mid-append; re-run against the new "
                    "state"
                )
            return _add_snapshot(
                path,
                meta,
                _summary("append", "append"),
                f"ap-{run_id}-",
                lambda seq, sid: (
                    [
                        _added_manifest(
                            path, f"metadata/ap-{run_id}-m{seq}.avro",
                            staged, seq, sid,
                        )
                    ]
                    + _current_manifests(path, meta),
                    n_rows_total,
                ),
            )

        new_meta = _commit_metadata(path, "append", edit)
        return {
            "snapshot_id": new_meta["current-snapshot-id"],
            "snapshot_seq": new_meta["last-sequence-number"],
            "n_files": len(new_entries),
            "n_rows": n_rows_total,
        }
    finally:
        _shutil.rmtree(staging, ignore_errors=True)


def _iceberg_lineage_scan(spark, path: str, st: dict):
    """One scan of a foreign Iceberg snapshot's live data files
    yielding the LOGICAL columns plus row lineage — ``__ic_path`` (the
    manifest ``file_path`` spelling) and ``__ic_ri`` (in-file row
    ordinal) — the matching substrate for ``delete_iceberg``.  Binding
    follows ``import_iceberg``'s probe: id-bearing files bind by
    parquet field id, id-less files through the name mapping with
    identity-partition constants attached by a broadcast basename
    join.  Existing deletes are NOT applied here (callers exclude them
    from the matched set separately — a position mask is idempotent,
    but ``n_matched`` must count live rows only)."""
    import posixpath

    import pyarrow.parquet as _pq2
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    from .iceberg_import import (
        _current_schema,
        _name_mapping,
    )

    meta = st["meta"]
    schema = st["schema"]
    files = st["files"]
    entries = st["entries"]
    basenames = [posixpath.basename(e["file_path"]) for e in entries]
    if len(set(basenames)) != len(basenames):
        raise ValueError(
            "cannot run a row-level operation: duplicate data-file "
            "basenames — row lineage joins on the _metadata.file_path "
            "basename"
        )
    first = _pq2.read_schema(files[0])
    has_ids = any(
        (f.metadata or {}).get(b"PARQUET:field_id") is not None
        for f in first
    )
    nm = {} if has_ids else _name_mapping(meta)
    ice_schema = _current_schema(meta)
    fid_of = {f["name"]: int(f["id"]) for f in ice_schema["fields"]}
    by_id = {int(f["id"]): f for f in ice_schema["fields"]}
    # identity partition source columns the files may not carry
    specs = meta.get("partition-specs") or []
    spec0 = specs[0] if specs else {"fields": []}
    const_cols: dict[str, str] = {}
    if not has_ids:
        for pf in spec0.get("fields") or []:
            if str(pf.get("transform")) != "identity":
                continue
            src = by_id.get(int(pf.get("source-id", -1)))
            if src is not None and fid_of.get(src["name"]) not in nm:
                const_cols[src["name"]] = pf.get("name") or src["name"]
    data_fields = [f for f in schema.fields if f.name not in const_cols]
    if has_ids:
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        data_schema = StructType(
            [
                StructField(
                    f.name,
                    f.dataType,
                    True,
                    {"parquet.field.id": fid_of[f.name]},
                )
                for f in data_fields
            ]
        )
        read_name = {f.name: f.name for f in data_fields}
    else:
        data_schema = StructType(
            [
                StructField(
                    nm.get(fid_of[f.name], f.name), f.dataType, True
                )
                for f in data_fields
            ]
        )
        read_name = {
            f.name: nm.get(fid_of[f.name], f.name) for f in data_fields
        }
    scan = spark.read.schema(data_schema).parquet(*files)
    keyed = scan.withColumn(
        "__ic_base",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
    ).withColumn("__ic_ri", F.col("_metadata.row_index"))
    # broadcast map: basename -> manifest file_path spelling (+ identity
    # partition constants for id-less migrated layouts)
    map_rows = [
        (posixpath.basename(e["file_path"]), e["file_path"])
        + tuple(
            None
            if (pv := (e.get("partition") or {}).get(pname)) is None
            else str(pv)
            for pname in const_cols.values()
        )
        for e in entries
    ]
    map_schema = ", ".join(
        ["__ic_base string", "__ic_path string"]
        + [f"__icp_{i} string" for i in range(len(const_cols))]
    )
    keyed = keyed.join(
        F.broadcast(spark.createDataFrame(map_rows, map_schema)),
        "__ic_base",
        "inner",
    )
    sel = []
    consts = list(const_cols)
    for f in schema.fields:
        if f.name in const_cols:
            i = consts.index(f.name)
            sel.append(
                F.col(f"__icp_{i}").cast(f.dataType).alias(f.name)
            )
        else:
            sel.append(F.col(read_name[f.name]).alias(f.name))
    return keyed.select(*sel, "__ic_path", "__ic_ri")


_ICE_DELETE_MAX_EXISTING = 4_000_000  # existing-delete exclusion bound


def _existing_dead_pairs(path: str, st: dict) -> dict[str, set]:
    """Driver-side (file_path -> dead ordinals) from a snapshot's
    existing POSITION deletes and v3 DELETION VECTORS — the exclusion
    set that keeps already-deleted rows out of ``n_matched`` and the
    union input for DV rewrites.  Bounded by
    ``_ICE_DELETE_MAX_EXISTING`` total rows (refuses loudly above —
    compact first).  EQUALITY delete files are skipped here: expanding
    one is a join, not a lookup, so ``_row_level_iceberg`` excludes
    equality-deleted rows inside the lineage scan instead
    (``_apply_eq_exclusion`` — round 16, r15 verdict task 3; the
    refusal used to live here)."""
    import pyarrow.parquet as _pq2

    from .iceberg_import import _path_variants
    from .puffin_lite import read_dv_blob

    dead: dict[str, set] = {}
    variants: dict[str, str] = {}
    for e in st["entries"]:
        for v in _path_variants(e["file_path"]):
            variants[v] = e["file_path"]
    total = 0
    for d in st["delete_files"]:
        if d["content"] == 2:
            continue  # equality deletes: applied in the lineage scan
        if d.get("dv"):
            idx = read_dv_blob(d["abs"], d["offset"], d["size"])
            canon = variants.get(str(d["referenced"]))
            if canon is None:
                continue  # references a file not live in this snapshot
            dead.setdefault(canon, set()).update(idx)
            total += len(idx)
        else:
            # check the cap from the footer BEFORE materializing rows
            total += _pq2.ParquetFile(d["abs"]).metadata.num_rows
            if total > _ICE_DELETE_MAX_EXISTING:
                raise ValueError(
                    "cannot delete: existing delete files cover more "
                    f"than {_ICE_DELETE_MAX_EXISTING} rows; compact "
                    "the table first"
                )
            t = _pq2.read_table(d["abs"], columns=["file_path", "pos"])
            for fp, pos in zip(
                t.column("file_path").to_pylist(),
                t.column("pos").to_pylist(),
            ):
                canon = variants.get(str(fp))
                if canon is None:
                    continue
                dead.setdefault(canon, set()).add(int(pos))
        if total > _ICE_DELETE_MAX_EXISTING:
            raise ValueError(
                "cannot delete: existing delete files cover more than "
                f"{_ICE_DELETE_MAX_EXISTING} rows; compact the table "
                "first"
            )
    return dead


def _apply_eq_exclusion(spark, path: str, st: dict, lineage):
    """Exclude EQUALITY-deleted rows from a lineage scan (round 16,
    r15 verdict task 3 — ``delete_iceberg`` used to refuse
    equality-delete-bearing tables, which Flink CDC writers produce by
    default; the import side has replayed them since r14).

    Reuses ``iceberg_live_files``' scan-planning verdicts: for each
    (data file, applicable eq delete file) pair from ``delete_specs``
    (already sequence- / partition- / bounds-scoped), the delete
    file's key rows anti-join the lineage on the equality columns with
    NULL matching NULL (``eqNullSafe`` — the spec rule).  Key columns
    bind by parquet FIELD ID (the id-based contract), falling back to
    the schema name for id-less fixture files.  Distributed end to
    end: eq files are read as one Spark scan per equality-column
    signature; no driver-side key materialization."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    # (data_path, eq_abs) applicability + eq files grouped by their
    # equality-column signature
    groups: dict[tuple, dict] = {}
    for entry, specs in zip(st["entries"], st["delete_specs"]):
        for sp in specs:
            if sp[0] != "eq":
                continue
            _, eq_abs, eqcols = sp
            g = groups.setdefault(eqcols, {"files": set(), "pairs": []})
            g["files"].add(eq_abs)
            g["pairs"].append((entry["file_path"], eq_abs))
    if not groups:
        return lineage
    type_of = {f.name: f.dataType for f in lineage.schema.fields}
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    for eqcols, g in groups.items():
        files = sorted(g["files"])
        bases = [posixpath.basename(f) for f in files]
        read_schema = StructType(
            [
                StructField(
                    name,
                    type_of[name],
                    True,
                    {"parquet.field.id": int(fid)},
                )
                for fid, name in eqcols
            ]
        )
        if len(set(bases)) == len(bases):
            keys = (
                spark.read.schema(read_schema)
                .parquet(*files)
                .withColumn(
                    "__eq_base",
                    F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ),
                )
            )
            pairs = spark.createDataFrame(
                [
                    (p, posixpath.basename(a))
                    for p, a in g["pairs"]
                ],
                "__eqp_path string, __eq_base string",
            )
            dead_keys = keys.join(
                F.broadcast(pairs), "__eq_base"
            ).select(
                F.col("__eqp_path"),
                *(
                    F.col(name).alias(f"__eqk_{name}")
                    for _fid, name in eqcols
                ),
            )
        else:
            # duplicate basenames: per-file scans with the abs path
            # attached as a literal (eq delete files are few)
            parts = []
            path_of = {}
            for p, a in g["pairs"]:
                path_of.setdefault(a, []).append(p)
            for a in files:
                one = spark.read.schema(read_schema).parquet(a)
                pairs1 = spark.createDataFrame(
                    [(p,) for p in path_of.get(a, [])],
                    "__eqp_path string",
                )
                parts.append(
                    one.crossJoin(F.broadcast(pairs1)).select(
                        "__eqp_path",
                        *(
                            F.col(name).alias(f"__eqk_{name}")
                            for _fid, name in eqcols
                        ),
                    )
                )
            dead_keys = parts[0]
            for x in parts[1:]:
                dead_keys = dead_keys.unionByName(x)
        on = lineage["__ic_path"] == dead_keys["__eqp_path"]
        for _fid, name in eqcols:
            on = on & lineage[name].eqNullSafe(
                dead_keys[f"__eqk_{name}"]
            )
        lineage = lineage.join(dead_keys, on, "left_anti")
    return lineage


def _live_lineage(spark, path: str, st: dict):
    """The lineage scan of snapshot ``st``'s LIVE rows: equality
    deletes applied inside the scan, position deletes and DVs by a
    broadcast anti-join (bounded by ``_ICE_DELETE_MAX_EXISTING``).
    Returns ``(rows, dead)``, ``dead`` being the driver-side exclusion
    map of ``_existing_dead_pairs``."""
    from pyspark.sql import functions as F

    dead = _existing_dead_pairs(path, st)
    rows = _iceberg_lineage_scan(spark, path, st)
    rows = _apply_eq_exclusion(spark, path, st, rows)
    if dead:
        rows = rows.join(
            F.broadcast(
                spark.createDataFrame(
                    [(fp, int(ri)) for fp, s in dead.items() for ri in s],
                    "__ic_path string, __ic_ri bigint",
                )
            ),
            ["__ic_path", "__ic_ri"],
            "left_anti",
        )
    return rows, dead


def delete_iceberg(spark, path: str, where, mode: str = "auto") -> dict:
    """Row-level DELETE committed against a FOREIGN Iceberg table
    (round 15 — the Iceberg twin of ``delete_delta``; write interop
    now covers row-level ops on BOTH open formats).
    See ``_row_level_iceberg`` for the strategy notes shared with
    ``update_iceberg``."""
    return _row_level_iceberg(spark, path, where, mode)


def update_iceberg(
    spark, path: str, set_map: dict, where, mode: str = "auto"
) -> dict:
    """Row-level UPDATE committed against a FOREIGN Iceberg table
    (round 16, r15 verdict task 2 — the Iceberg twin of
    ``update_delta``).

    ``set_map`` maps logical column names to SQL expressions (or
    Columns) over the matched rows; ``where`` as in
    ``delete_iceberg``.  ONE snapshot (operation ``overwrite``)
    carries (a) the matched rows' removal — a spec position-delete
    file on v2, Puffin deletion vectors on v3 — and (b) the updated
    copies staged as fresh data files through ``append_iceberg``'s
    write half (spec transforms computed forward, footer-derived
    bounds), so updates that move rows across partitions land
    naturally.  Returns ``{"snapshot_id", "snapshot_seq",
    "n_matched", "n_files_touched", "mode"}``."""
    if not set_map:
        raise ValueError("cannot update: empty SET clause")
    return _row_level_iceberg(spark, path, where, mode, set_map=set_map)


def restore_iceberg(spark, path: str, snapshot_id: int) -> dict:
    """RESTORE a FOREIGN Iceberg table to an earlier snapshot (round
    16 — the undo verb; the spec's ``set-current-snapshot``/rollback).

    A NEW metadata version re-points ``current-snapshot-id`` at the
    target (which must still be in ``snapshots`` — an expired snapshot
    refuses by id, listing what remains) and appends to the snapshot
    log; the snapshots list, sequence numbers and (v3) ``next-row-id``
    are untouched, so history is preserved and a later roll-FORWARD
    works the same way.  O(metadata) — no manifest or data IO at all.
    Streaming tails see no new snapshot and emit nothing, matching
    the incremental contract (the rolled-back rows were already
    emitted; a stream cannot retract them).  A lost race retries from
    the new head (``_commit_metadata``).

    Returns ``{"snapshot_id", "previous_snapshot_id"}``."""
    snapshot_id = int(snapshot_id)
    prev: dict = {}

    def edit(meta):
        have = [
            int(s.get("snapshot-id"))
            for s in (meta.get("snapshots") or [])
        ]
        if snapshot_id not in have:
            raise ValueError(
                f"cannot restore: snapshot {snapshot_id} is not in "
                f"the table's metadata (kept: {sorted(have)}); it "
                "may have been expired"
            )
        prev["id"] = meta.get("current-snapshot-id")
        if prev["id"] == snapshot_id:
            return None
        now_ms = _next_ts(meta)
        new_meta = dict(meta)
        new_meta["current-snapshot-id"] = snapshot_id
        new_meta["last-updated-ms"] = now_ms
        new_meta["snapshot-log"] = list(
            meta.get("snapshot-log") or []
        ) + [{"timestamp-ms": now_ms, "snapshot-id": snapshot_id}]
        return new_meta

    _commit_metadata(path, "restore", edit)
    return {"snapshot_id": snapshot_id, "previous_snapshot_id": prev["id"]}


def overwrite_iceberg(spark, path: str, df) -> dict:
    """Full-table ``INSERT OVERWRITE`` committed against a FOREIGN
    Iceberg table (round 16 — the Iceberg twin of
    ``overwrite_delta``).

    ONE snapshot with operation ``overwrite``: the new rows are staged
    through ``append_iceberg``'s write half (spec transforms computed
    forward, footer bounds, the table's file-binding convention) and
    the manifest list is REPLACED by the single new ADDED manifest —
    every prior data and delete manifest drops, which is the spec's
    live-set semantics (a snapshot's content IS its manifest list).
    Streaming tails correctly refuse the snapshot without
    ``ignoreChanges`` — an overwrite retracts rows.  An empty
    DataFrame truncates the table.  The publish goes through
    ``_commit_metadata``; a lost race re-reads the head and retries
    (an overwrite replaces whatever the head holds and never logically
    conflicts, beyond the format-version staying put).  Returns
    ``{"snapshot_id", "snapshot_seq", "n_files", "n_rows",
    "n_files_removed"}``."""
    from .iceberg_import import iceberg_live_files

    fv = int(iceberg_live_files(path)["meta"].get("format-version", 1))
    if fv < 2:
        raise ValueError(
            "cannot overwrite: format-version 1 tables are read-only "
            "to this writer"
        )
    staged = append_iceberg(spark, path, df, _stage_only=True)
    run_id = staged["run_id"]
    removed: dict = {}

    def edit(meta):
        if int(meta.get("format-version", 1)) != fv:
            raise ValueError(
                "cannot overwrite: the table's format-version changed "
                "mid-operation; re-run"
            )
        removed["n"] = len(iceberg_live_files(path)["files"])
        return _add_snapshot(
            path,
            meta,
            _summary("overwrite", "overwrite"),
            f"ow-{run_id}-",
            lambda seq, sid: (
                [
                    _added_manifest(
                        path, f"metadata/ow-{run_id}-m{seq}.avro",
                        staged, seq, sid,
                    )
                ]
                if staged["entries"]
                else [],
                staged["n_rows"],
            ),
        )

    new_meta = _commit_metadata(path, "overwrite", edit)
    return {
        "snapshot_id": new_meta["current-snapshot-id"],
        "snapshot_seq": new_meta["last-sequence-number"],
        "n_files": len(staged["entries"]),
        "n_rows": int(staged["n_rows"]),
        "n_files_removed": removed["n"],
    }


def merge_iceberg(
    spark,
    path: str,
    updates,
    keys: list[str],
    delete_keys=None,
    mode: str = "auto",
) -> dict:
    """SCD1 MERGE committed against a FOREIGN Iceberg table (round
    16 — the Iceberg twin of ``merge_delta``; the native shape is
    ``TxnTable.merge_upsert_dv``).

    ``updates`` holds the post-merge rows (matched keys' replacements
    AND brand-new inserts — the ANSI result set); ``keys`` are the
    equi-join merge keys; ``delete_keys`` optionally names matched
    keys to remove with NO replacement (``WHEN MATCHED THEN
    DELETE``).  ONE snapshot: matched rows leave via a spec position-
    delete file (v2) or Puffin deletion vectors (v3), and ``updates``
    lands as fresh data files staged through ``append_iceberg``'s
    write half — write cost is O(|updates|) data bytes + O(matched
    positions), never a whole-table rewrite.  A merge matching
    nothing (or into an empty table) degrades to a pure fast-append
    snapshot.  Duplicate merge keys in ``updates`` refuse loudly
    (``txn.bind_foreign_dml``).  Returns ``{"snapshot_id",
    "snapshot_seq", "n_matched", "n_files_touched", "mode"}``."""
    return _row_level_iceberg(
        spark,
        path,
        None,
        mode,
        merge={
            "updates": updates,
            "keys": list(keys),
            "delete_keys": delete_keys,
        },
    )


def _row_level_iceberg(
    spark,
    path: str,
    where,
    mode: str = "auto",
    set_map: dict = None,
    merge: dict = None,
) -> dict:
    """Shared core of ``delete_iceberg`` / ``update_iceberg`` /
    ``merge_iceberg``.

    Merge-on-read, per the spec's two delete encodings:

    * ``mode="pos"`` (the v2 default): matched (file_path, pos) pairs
      are written as ONE spec position-delete parquet file (reserved
      field ids 2147483546/2147483545, sorted) by the executors, and
      committed in a delete manifest under an UNPARTITIONED spec (a
      global delete — added to ``partition-specs`` if the table lacks
      one) at the new sequence number, so it scopes to every data file
      at or below it.
    * ``mode="dv"`` (the v3 default): per-file deletion vectors in one
      Puffin file (``puffin_lite``), each the UNION of the new
      ordinals, the file's existing DV, and any position deletes the
      v3 replacement rule supersedes; delete manifests whose every
      entry is superseded drop from the manifest list, partially
      superseded DV manifests are rewritten with DELETED entries.

    Matching runs one lineage scan (``_iceberg_lineage_scan``) with
    already-deleted rows excluded exactly: position deletes and DVs
    driver-side (bounded), EQUALITY deletes distributed inside the
    scan (``_apply_eq_exclusion`` — eq-bearing tables no longer
    refuse; their delete files stay live in the manifests and keep
    applying on read).  Format-version 1 refuses loudly.  For UPDATE
    (``set_map``), the matched rows' updated copies are staged
    through ``append_iceberg``'s write half and committed in the SAME
    snapshot (operation ``overwrite``); existing equality deletes
    never re-kill the copies — they scope strictly below the new
    sequence number.  The snapshot is built by ``_add_snapshot`` and
    published by ``_commit_metadata``; a lost race retries only while
    every touched data file is still live and the delete files are
    unchanged.

    Returns ``{"snapshot_id", "snapshot_seq", "n_matched",
    "n_files_touched", "mode"}``."""
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    from pyspark.sql import functions as F

    from .iceberg_import import _spark_schema, iceberg_live_files

    is_update = set_map is not None
    is_merge = merge is not None
    opl = "merge" if is_merge else ("update" if is_update else "delete")
    if mode not in ("auto", "pos", "dv"):
        raise ValueError(f"unknown {opl} mode {mode!r} (auto/pos/dv)")
    st = iceberg_live_files(path)
    meta = st["meta"]
    fv = int(meta.get("format-version", 1))
    if fv < 2:
        raise ValueError(
            f"cannot {opl}: format-version 1 has no row-level delete "
            "encoding (upgrade the table or rewrite it)"
        )
    if mode == "auto":
        mode = "dv" if fv >= 3 else "pos"
    if mode == "dv" and fv < 3:
        raise ValueError(
            f"cannot {opl}: deletion vectors need format-version 3 "
            "(this table is v2 — use mode='pos')"
        )
    if mode == "pos" and fv >= 3:
        raise ValueError(
            f"cannot {opl}: format-version 3 forbids adding new "
            "position delete files (use mode='dv')"
        )
    schema_l = _spark_schema(meta)
    set_exprs, mkeys, upd_src, dels_src, all_keys = bind_foreign_dml(
        schema_l, set_map, merge
    )
    if not st["files"]:
        if is_merge:
            # empty-table merge: pure insert — one fast-append snapshot
            res = append_iceberg(spark, path, upd_src)
            return {
                "snapshot_id": res["snapshot_id"],
                "snapshot_seq": res["snapshot_seq"],
                "n_matched": 0,
                "n_files_touched": 0,
                "mode": mode,
            }
        return {
            "snapshot_id": None,
            "snapshot_seq": None,
            "n_matched": 0,
            "n_files_touched": 0,
            "mode": mode,
        }
    cond = (
        None
        if is_merge
        else (F.expr(where) if isinstance(where, str) else where)
    )
    lineage, dead = _live_lineage(spark, path, st)
    # MERGE matches by key membership (NULL-safe by construction: a
    # NULL key never equi-joins, per ANSI MERGE); DELETE/UPDATE match
    # by predicate
    matched_full = (
        lineage.join(all_keys, mkeys, "left_semi")
        if is_merge
        else lineage.filter(cond)
    )
    matched = matched_full.select("__ic_path", "__ic_ri")

    # adjacent to the table: same-fs hard links + scratch-fs inheritance
    staging = _tempfile.mkdtemp(prefix=".iceberg_delete_", dir=path)
    run_id = _uuid.uuid4().hex[:12]
    try:
        if mode == "pos":
            # executors write the spec position-delete parquet (file
            # ids via the field-id write path), driver only links it
            spark.conf.set(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
            (
                matched.select(
                    F.col("__ic_path").alias(
                        "file_path",
                        metadata={"parquet.field.id": 2147483546},
                    ),
                    F.col("__ic_ri").alias(
                        "pos", metadata={"parquet.field.id": 2147483545}
                    ),
                )
                .sort("file_path", "pos")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(staging)
            )
            import pyarrow.parquet as _pq2

            part = None
            for r, _d, ns in os.walk(staging):
                for n in sorted(ns):
                    if n.endswith(".parquet"):
                        md = _pq2.ParquetFile(
                            os.path.join(r, n)
                        ).metadata
                        if md.num_rows:
                            part = (os.path.join(r, n), md)
            if part is None and not is_merge:
                return {
                    "snapshot_id": None,
                    "snapshot_seq": None,
                    "n_matched": 0,
                    "n_files_touched": 0,
                    "mode": mode,
                }
            if part is None:
                # merge matching nothing: pure insert — no delete
                # file, the updates still land as adds below
                n_matched = 0
                touched = []
                new_delete_entries = []
                _pos_empty = True
            else:
                _pos_empty = False
            if not _pos_empty:
                src, md = part
                n_matched = md.num_rows
                # bounds + touched set WITHOUT collecting matched rows:
                # min/max from the sorted file's row-group stats, distinct
                # file paths via one tiny single-file Spark agg (O(touched
                # files) driver state, never O(matched rows))
                st0 = md.row_group(0).column(0).statistics
                stn = md.row_group(md.num_row_groups - 1).column(0).statistics

                def _bound_bytes(v):
                    return v if isinstance(v, bytes) else str(v).encode()

                # bounds only when the row-group stats really carry them —
                # missing statistics must degrade to no-pruning (None
                # bounds), never to b'None' strings that would make
                # _applicable_deletes skip this delete file
                if (
                    st0 is not None
                    and stn is not None
                    and st0.has_min_max
                    and stn.has_min_max
                ):
                    fp_lower = [
                        {"key": 2147483546, "value": _bound_bytes(st0.min)}
                    ]
                    fp_upper = [
                        {"key": 2147483546, "value": _bound_bytes(stn.max)}
                    ]
                else:
                    fp_lower = fp_upper = None
                touched = sorted(
                    r["file_path"]
                    for r in spark.read.parquet(src)
                    .select("file_path")
                    .distinct()
                    .collect()
                )
                del_rel = f"data/del-{run_id}.parquet"
                dst = _resolve(path, del_rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(src, dst)
                new_delete_entries = [
                    {
                        "status": 1,
                        "snapshot_id": None,  # filled at commit
                        "sequence_number": None,
                        "file_sequence_number": None,
                        "data_file": {
                            "content": 1,
                            "file_path": del_rel,
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": n_matched,
                            "file_size_in_bytes": os.path.getsize(dst),
                            "null_value_counts": None,
                            "lower_bounds": fp_lower,
                            "upper_bounds": fp_upper,
                        },
                    }
                ]
        else:
            # v3 deletion vectors: per-file union of new ordinals +
            # existing DV + superseded position deletes.  Union AND the
            # portable-Roaring64 encode run EXECUTOR-side
            # (``applyInPandas`` keyed by data file — the
            # ``delta_export`` ``encode_group`` pattern): the driver
            # collects ONE compact (path, blob bytes, cardinality) row
            # per touched file, never the matched-row ordinals, so a
            # DELETE matching 10^8 rows keeps driver state O(touched
            # files).
            from .puffin_lite import dv_blob_bytes, write_puffin

            new_rows = matched.select(
                "__ic_path", "__ic_ri", F.lit(1).alias("__ic_new")
            )
            if dead:
                # fold each file's existing dead ordinals into its new
                # DV inside the kernel: ship the (bounded) exclusion
                # set back in flagged 0 — a file with no NEW ordinal
                # encodes to nothing (its existing delete files stay)
                new_rows = new_rows.unionByName(
                    spark.createDataFrame(
                        [
                            (fp, int(ri), 0)
                            for fp, s in dead.items()
                            for ri in s
                        ],
                        "__ic_path string, __ic_ri bigint, "
                        "__ic_new int",
                    )
                )

            def encode_dv_group(key, pdf):
                import pandas as pd

                n_new = int((pdf["__ic_new"] == 1).sum())
                if n_new == 0:
                    return pd.DataFrame(
                        {
                            "fp": pd.Series([], dtype=object),
                            "dv": pd.Series([], dtype=object),
                            "card": pd.Series([], dtype="int64"),
                            "n_new": pd.Series([], dtype="int64"),
                        }
                    )
                idx = sorted(set(int(x) for x in pdf["__ic_ri"]))
                return pd.DataFrame(
                    {
                        "fp": [key[0]],
                        "dv": [dv_blob_bytes(idx)],
                        "card": [len(idx)],
                        "n_new": [n_new],
                    }
                )

            enc = (
                new_rows.groupBy("__ic_path")
                .applyInPandas(
                    encode_dv_group,
                    "fp string, dv binary, card long, n_new long",
                )
                .collect()
            )
            if not enc and not is_merge:
                return {
                    "snapshot_id": None,
                    "snapshot_seq": None,
                    "n_matched": 0,
                    "n_files_touched": 0,
                    "mode": mode,
                }
            enc.sort(key=lambda r: r["fp"])
            n_matched = int(sum(r["n_new"] for r in enc))
            touched = [r["fp"] for r in enc]
            dv_blobs = [
                (bytes(r["dv"]), {"referenced-data-file": r["fp"]})
                for r in enc
            ]
            dv_cards = [int(r["card"]) for r in enc]
            puf_rel = f"data/dv-{run_id}.puffin"
            # the Puffin file + its manifest entries are written inside
            # the commit loop: blob FileMetadata stamps the committing
            # snapshot-id/sequence-number, which each retry re-picks
            new_delete_entries = []
            # supersede: every prior delete file whose rows this DV set
            # now carries (old DVs and position deletes for touched
            # files) — drop all-superseded delete manifests from the
            # list; anything partial refuses (the union above already
            # folded their rows in, so correctness never depends on a
            # partial rewrite)
            touched_set = set(touched)
            from .iceberg_import import _path_variants

            def superseded(d) -> bool:
                if d.get("dv"):
                    return any(
                        v in touched_set
                        for v in _path_variants(str(d["referenced"]))
                    )
                if d["content"] == 1:
                    import pyarrow.parquet as _pq3

                    t = _pq3.read_table(d["abs"], columns=["file_path"])
                    fps = {
                        str(x)
                        for x in t.column("file_path").to_pylist()
                    }
                    canon = set()
                    for fp in fps:
                        canon.update(
                            v
                            for v in _path_variants(fp)
                            if v in touched_set
                        )
                    return bool(canon) and all(
                        any(
                            v in touched_set
                            for v in _path_variants(fp)
                        )
                        for fp in fps
                    )
                return False

        n_files_touched = len(touched)

        upd_staged = None
        if is_update or is_merge:
            # UPDATE: the matched rows' UPDATED COPIES; MERGE: the
            # full ANSI result set (replacements + inserts) — staged
            # as fresh data files through append_iceberg's write half
            # (spec transforms computed forward, footer bounds),
            # committed below in the SAME snapshot as the removal
            updated_df = (
                upd_src
                if is_merge
                else matched_full.select(
                    *(
                        (
                            set_exprs[f.name].cast(f.dataType)
                            if f.name in set_exprs
                            else F.col(f.name)
                        ).alias(f.name)
                        for f in schema_l.fields
                    )
                )
            )
            upd_staged = append_iceberg(
                spark, path, updated_df, _stage_only=True
            )

        mf_schema_del = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": ["null", "long"]},
                {"name": "sequence_number", "type": ["null", "long"]},
                {
                    "name": "file_sequence_number",
                    "type": ["null", "long"],
                },
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "rdel",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {
                                "name": "partition",
                                "type": {
                                    "type": "record",
                                    "name": "rp0",
                                    "fields": [],
                                },
                            },
                            {"name": "record_count", "type": "long"},
                            {
                                "name": "file_size_in_bytes",
                                "type": "long",
                            },
                            {
                                "name": "referenced_data_file",
                                "type": ["null", "string"],
                            },
                            {
                                "name": "content_offset",
                                "type": ["null", "long"],
                            },
                            {
                                "name": "content_size_in_bytes",
                                "type": ["null", "long"],
                            },
                            {
                                "name": "null_value_counts",
                                "type": ["null", _KV_LONG],
                            },
                            {
                                "name": "lower_bounds",
                                "type": ["null", _KV_BYTES],
                            },
                            {
                                "name": "upper_bounds",
                                "type": ["null", _KV_BYTES],
                            },
                        ],
                    },
                },
            ],
        }
        touched_set = set(touched)
        operation = (
            ("overwrite" if n_matched else "append")
            if is_merge
            else ("overwrite" if is_update else "delete")
        )

        def keep_manifests(rows, seq, sid):
            """The DV supersede rule over the head's manifest list:
            drop delete manifests whose every live entry this DV set
            replaces, rewrite partially superseded ones."""
            keep_rows = []
            for row in rows:
                if int(row.get("content") or 0) == 1:
                    # classify this delete manifest's entries
                    _, ents = read_avro(
                        _resolve(path, row["manifest_path"])
                    )
                    live_ents = [
                        e for e in ents if int(e.get("status") or 0) != 2
                    ]
                    flags = [
                        superseded(
                            {
                                "dv": (
                                    e["data_file"].get(
                                        "referenced_data_file"
                                    )
                                    is not None
                                ),
                                "referenced": e["data_file"].get(
                                    "referenced_data_file"
                                ),
                                "content": int(
                                    e["data_file"].get("content") or 1
                                ),
                                "abs": _resolve(
                                    path, e["data_file"]["file_path"]
                                ),
                            }
                        )
                        for e in live_ents
                    ]
                    if live_ents and all(flags):
                        continue
                    if any(flags):
                        # PARTIAL supersede: rewrite the manifest
                        # keeping the still-live delete entries as
                        # EXISTING (explicit original sequence
                        # numbers — inheritance is ADDED-only);
                        # superseded entries are simply omitted
                        if any(
                            (e["data_file"].get("partition") or {})
                            for e in live_ents
                        ):
                            raise ValueError(
                                f"cannot {opl}: a partially "
                                "superseded delete manifest carries "
                                "PARTITIONED entries this writer "
                                "cannot rewrite; compact the table's "
                                "deletes first"
                            )
                        m_seq = int(row.get("sequence_number") or 0)
                        keep_ents = []
                        min_seq = seq
                        for e, fl in zip(live_ents, flags):
                            if fl:
                                continue
                            eseq = e.get("sequence_number")
                            eseq = int(eseq) if eseq is not None else m_seq
                            min_seq = min(min_seq, eseq)
                            keep_ents.append(
                                {
                                    "status": 0,
                                    "snapshot_id": e.get("snapshot_id")
                                    or row.get("added_snapshot_id"),
                                    "sequence_number": eseq,
                                    "file_sequence_number": e.get(
                                        "file_sequence_number"
                                    )
                                    or eseq,
                                    "data_file": dict(e["data_file"]),
                                }
                            )
                        new_mpath = (
                            f"metadata/del-{run_id}-rw{len(keep_rows)}.avro"
                        )
                        write_avro(
                            _resolve(path, new_mpath),
                            mf_schema_del,
                            keep_ents,
                        )
                        keep_rows.append(
                            _ml_row(
                                path,
                                new_mpath,
                                int(row.get("partition_spec_id") or 0),
                                1,
                                seq,
                                sid,
                                min_seq=min_seq,
                                existing=(
                                    len(keep_ents),
                                    sum(
                                        int(
                                            e["data_file"].get(
                                                "record_count"
                                            )
                                            or 0
                                        )
                                        for e in keep_ents
                                    ),
                                ),
                            )
                        )
                        continue
                keep_rows.append(row)
            return keep_rows

        def edit(meta):
            if int(meta.get("format-version", 1)) != fv:
                raise ValueError(
                    f"cannot {opl}: the table's format-version changed "
                    "mid-operation; re-run"
                )
            cur = iceberg_live_files(path)
            live_paths = {e["file_path"] for e in cur["entries"]}
            if not touched_set <= live_paths:
                raise ValueError(
                    f"cannot {opl}: a concurrent commit rewrote or "
                    f"removed data file(s) this {opl.upper()} touches; "
                    "re-run against the new state"
                )
            if mode == "dv":
                # the DV union and the supersede classification were
                # computed from the snapshot read up front; a delete
                # file committed concurrently (a new DV or position
                # delete for a touched file) would be dropped/
                # superseded WITHOUT its ordinals folded in,
                # resurrecting its rows — refuse if the head's delete
                # files differ at all from the snapshot this DELETE
                # read (the data-file liveness check above does not
                # see delete manifests)
                def _delete_sig(s):
                    return {
                        (
                            d["abs"],
                            int(d.get("content") or 1),
                            bool(d.get("dv")),
                            str(d.get("referenced")),
                            d.get("offset"),
                            d.get("size"),
                        )
                        for d in s["delete_files"]
                    }

                if _delete_sig(cur) != _delete_sig(st):
                    raise ValueError(
                        f"cannot {opl}: a concurrent commit changed "
                        "the table's delete files after this DELETE "
                        "read its snapshot; re-run against the new "
                        "state"
                    )
            specs = list(meta.get("partition-specs") or [])
            unpart = next(
                (s for s in specs if not (s.get("fields") or [])), None
            )
            if unpart is None:
                unpart = {
                    "spec-id": max(
                        [int(s["spec-id"]) for s in specs] or [0]
                    )
                    + 1,
                    "fields": [],
                }
                meta = {**meta, "partition-specs": specs + [unpart]}

            def build(seq, sid):
                entries = new_delete_entries
                if mode == "dv" and touched:
                    # write the Puffin file now that this attempt's
                    # snapshot-id/sequence-number are known (blob
                    # FileMetadata carries them); a retried attempt
                    # rewrites the same not-yet-committed path
                    metas = write_puffin(
                        _resolve(path, puf_rel),
                        dv_blobs,
                        snapshot_id=sid,
                        sequence_number=seq,
                    )
                    puf_size = os.path.getsize(_resolve(path, puf_rel))
                    entries = [
                        {
                            "status": 1,
                            "snapshot_id": None,
                            "sequence_number": None,
                            "file_sequence_number": None,
                            "data_file": {
                                "content": 1,
                                "file_path": puf_rel,
                                "file_format": "PUFFIN",
                                "partition": {},
                                "record_count": card,
                                "file_size_in_bytes": puf_size,
                                "referenced_data_file": fp,
                                "content_offset": m["offset"],
                                "content_size_in_bytes": m["length"],
                                "null_value_counts": None,
                                "lower_bounds": None,
                                "upper_bounds": None,
                            },
                        }
                        for fp, card, m in zip(touched, dv_cards, metas)
                    ]
                rows = _current_manifests(path, meta)
                if mode == "dv":
                    rows = keep_manifests(rows, seq, sid)
                if upd_staged and upd_staged["entries"]:
                    # the updated copies' data manifest, committed in
                    # the SAME snapshot as their removal (ADDED
                    # entries inherit the snapshot's sequence number)
                    rows.append(
                        _added_manifest(
                            path, f"metadata/up-{run_id}-m{seq}.avro",
                            upd_staged, seq, sid,
                        )
                    )
                if entries:
                    # a merge matching nothing writes NO delete manifest
                    for e in entries:
                        e["snapshot_id"] = sid
                        e["sequence_number"] = seq
                        e["file_sequence_number"] = seq
                    mpath = f"metadata/del-{run_id}-m{seq}.avro"
                    write_avro(_resolve(path, mpath), mf_schema_del, entries)
                    rows.append(
                        _ml_row(
                            path, mpath, unpart["spec-id"], 1, seq, sid,
                            added=(len(entries), n_matched),
                        )
                    )
                # v3 row lineage: a DELETE adds no rows; an UPDATE's/
                # MERGE's appended files advance next-row-id
                return rows, (int(upd_staged["n_rows"]) if upd_staged else 0)

            return _add_snapshot(
                path, meta, _summary(operation, opl), f"del-{run_id}-", build
            )

        new_meta = _commit_metadata(path, opl, edit)
        return {
            "snapshot_id": new_meta["current-snapshot-id"],
            "snapshot_seq": new_meta["last-sequence-number"],
            "n_matched": n_matched,
            "n_files_touched": n_files_touched,
            "mode": mode,
        }
    finally:
        _shutil.rmtree(staging, ignore_errors=True)


def _transform_result_type(transform: str, src_type: str) -> str:
    """A partition transform's RESULT type (Iceberg spec, Partitioning
    section) — used to author avro partition fields when rewriting
    foreign manifests."""
    if transform == "identity" or transform.startswith("truncate["):
        return src_type
    if transform.startswith("bucket["):
        return "int"
    if transform in ("year", "month", "hour"):
        return "int"
    if transform == "day":
        return "date"
    if transform == "void":
        return src_type
    raise ValueError(
        f"cannot rewrite manifests: unknown partition transform "
        f"{transform!r}"
    )


_AVRO_OF = {
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "int",
    "timestamp": "long",
    "timestamptz": "long",
}


def _spec_avro_part_fields(spec: dict, by_id: dict, opname: str) -> list:
    """Author the avro partition-field schema for manifests rewritten
    under a foreign spec (transform RESULT types per the spec's
    Partitioning section)."""
    part_fields = []
    for pf in spec.get("fields") or []:
        src = by_id.get(int(pf["source-id"])) or {}
        src_t = src.get("type")
        if not isinstance(src_t, str):
            raise ValueError(
                f"cannot {opname}: partition source field "
                f"{pf.get('name')!r} has a non-primitive type"
            )
        res = _transform_result_type(str(pf["transform"]), src_t)
        part_fields.append(
            {
                "name": pf["name"],
                "type": ["null", _AVRO_OF.get(res, "string")],
            }
        )
    return part_fields


def rewrite_manifests_iceberg(spark, path: str) -> dict:
    """MERGE a FOREIGN Iceberg table's data manifests (round 16, r15
    verdict task 7 — the Iceberg half of ``OPTIMIZE <attachment>``;
    the metadata-maintenance op every long-lived table needs after
    many small appends).

    The current snapshot's data manifests are read and re-written as
    ONE manifest per partition-spec-id holding every live entry as
    EXISTING with its EXPLICIT original sequence numbers (inheritance
    is ADDED-only); DELETED tombstone entries drop.  Delete manifests
    pass through untouched.  The new snapshot commits with operation
    ``replace`` and adds ZERO data files — streaming tails emit
    nothing for it (added-entries-only rule).  Data bytes are never
    read or moved: this is O(manifest bytes), not O(data).  A lost
    metadata race refuses.

    Returns ``{"snapshot_id", "snapshot_seq", "n_manifests_before",
    "n_manifests_after"}`` (snapshot_id None = nothing to merge)."""
    import uuid as _uuid

    from .iceberg_import import _current_schema

    run_id = _uuid.uuid4().hex[:12]
    counts = {"before": 0, "after": 0}

    def edit(meta):
        ml_rows = _current_manifests(path, meta)
        data_rows = [
            r for r in ml_rows if int(r.get("content") or 0) == 0
        ]
        counts["before"] = counts["after"] = len(data_rows)
        if len(data_rows) <= 1:
            return None
        by_id = {
            int(f["id"]): f for f in _current_schema(meta)["fields"]
        }
        specs = {
            int(s["spec-id"]): s
            for s in (meta.get("partition-specs") or [])
        }
        # group entries per spec id, EXISTING with explicit seqs
        merged: dict[int, list] = {}
        n_rows: dict[int, int] = {}
        for row in data_rows:
            m_seq = int(row.get("sequence_number") or 0)
            m_sid = row.get("added_snapshot_id")
            _, ents = read_avro(_resolve(path, row["manifest_path"]))
            spid = int(row.get("partition_spec_id") or 0)
            for e in ents:
                if int(e.get("status") or 0) == 2:
                    continue  # tombstone: drops in the rewrite
                eseq = e.get("sequence_number")
                eseq = int(eseq) if eseq is not None else m_seq
                efseq = e.get("file_sequence_number")
                efseq = int(efseq) if efseq is not None else eseq
                merged.setdefault(spid, []).append(
                    {
                        "status": 0,
                        "snapshot_id": e.get("snapshot_id") or m_sid,
                        "sequence_number": eseq,
                        "file_sequence_number": efseq,
                        "data_file": dict(e["data_file"]),
                    }
                )
                n_rows[spid] = n_rows.get(spid, 0) + int(
                    e["data_file"].get("record_count") or 0
                )
        counts["after"] = len(merged)

        def build(seq, sid):
            rows = []
            for spid, ents in sorted(merged.items()):
                spec = specs.get(spid) or {"spec-id": spid, "fields": []}
                part_fields = _spec_avro_part_fields(
                    spec, by_id, "rewrite manifests"
                )
                mpath = f"metadata/rw-{run_id}-s{spid}.avro"
                write_avro(
                    _resolve(path, mpath),
                    _manifest_schema(part_fields),
                    ents,
                )
                rows.append(
                    _ml_row(
                        path, mpath, spid, 0, seq, sid,
                        min_seq=min(e["sequence_number"] for e in ents),
                        existing=(len(ents), n_rows.get(spid, 0)),
                    )
                )
            delete_rows = [
                r for r in ml_rows if int(r.get("content") or 0) != 0
            ]
            return rows + delete_rows, 0  # a manifest rewrite adds no rows

        return _add_snapshot(
            path,
            meta,
            _summary("replace", "rewrite-manifests"),
            f"rw-{run_id}-",
            build,
        )

    new_meta = _commit_metadata(path, "rewrite manifests", edit, attempts=1)
    return {
        "snapshot_id": new_meta and new_meta["current-snapshot-id"],
        "snapshot_seq": new_meta and new_meta["last-sequence-number"],
        "n_manifests_before": counts["before"],
        "n_manifests_after": counts["after"],
    }


def compact_data_files_iceberg(
    spark,
    path: str,
    target_bytes: int = 64 * 1024 * 1024,
    min_input_files: int = 2,
) -> dict:
    """BIN-PACK a FOREIGN Iceberg table's small data files (round 16 —
    the data half of compaction; ``rewrite_manifests_iceberg`` is the
    metadata half).

    Candidates are live data files under ``target_bytes`` plus any
    file carrying applicable delete files (their rewrite PURGES the
    dead rows).  The candidates' LIVE rows are read in one distributed
    lineage scan — position/DV deletes excluded by bounded anti-join,
    equality deletes applied inside the scan — and re-staged through
    ``append_iceberg``'s write half, so the rewritten rows land under
    the table's CURRENT default spec (compaction doubles as spec
    migration for files written under old specs).  ONE snapshot with
    operation ``replace`` commits the swap: affected data manifests
    are rewritten (survivors EXISTING with explicit original sequence
    numbers, compacted files recorded as DELETED tombstones), delete
    manifests whose every live entry references only compacted files
    drop, and the new files land as ADDED at the new sequence number.
    Content is IDENTICAL before and after — streaming tails skip the
    ``replace`` snapshot by the incremental-append-scan rule, so
    maintenance never re-emits rows downstream.

    Correctness under rewrite-at-higher-sequence: every applicable
    delete (position, DV, equality) is APPLIED while reading the
    candidates' rows, so the rewritten files carry only live rows and
    escaping the old delete files' sequence scope cannot resurrect
    anything.  Equality deletes always stay live (they still scope
    other, older files); a position delete referencing both compacted
    and kept files stays too — its references to dead paths match
    nothing.

    Format-version 3 refuses: v3 row lineage requires ID-PRESERVING
    rewrites (carry each file's first-row-id forward) which this
    writer does not produce; use the metadata-only maintenance ops.

    Returns ``{"snapshot_id", "snapshot_seq", "n_files_before",
    "n_files_after", "n_rewritten", "n_delete_files_dropped"}``
    (``snapshot_id`` None = nothing to compact).  Scale: one scan of
    the candidate files' rows + O(manifest bytes); driver state is
    O(files), never O(rows)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from .iceberg_import import (
        _current_schema,
        _path_variants,
        _spark_schema,
        iceberg_live_files,
    )

    st = iceberg_live_files(path)
    meta0 = st["meta"]
    fv = int(meta0.get("format-version", 1))
    if fv < 2:
        raise ValueError(
            "cannot compact: format-version 1 tables are read-only to "
            "this writer"
        )
    if fv >= 3:
        raise ValueError(
            "cannot compact: format-version 3 row lineage requires "
            "id-preserving rewrites this writer does not produce; "
            "rewrite_manifests_iceberg / expire_snapshots_iceberg "
            "remain available"
        )
    none_result = {
        "snapshot_id": None,
        "snapshot_seq": None,
        "n_files_before": len(st["files"]),
        "n_files_after": len(st["files"]),
        "n_rewritten": 0,
        "n_delete_files_dropped": 0,
    }
    if not st["files"]:
        return none_result
    cand_set: set = set()
    any_deletes = False
    for df_e, specs_d in zip(st["entries"], st["delete_specs"]):
        has_del = bool(specs_d)
        if int(df_e.get("file_size_in_bytes") or 0) < int(
            target_bytes
        ) or has_del:
            cand_set.add(df_e["file_path"])
            any_deletes = any_deletes or has_del
    if not cand_set or (
        len(cand_set) < int(min_input_files) and not any_deletes
    ):
        return none_result

    # the candidates' LIVE rows: one distributed scan of ONLY the
    # candidate files (the scan substrate is restricted up front, so
    # a small candidate set in a huge table never touches the
    # at-target files), every applicable delete applied (same
    # exclusion as the row-level ops)
    keep_idx = [
        i
        for i, e in enumerate(st["entries"])
        if e["file_path"] in cand_set
    ]
    st_cand = dict(
        st,
        files=[st["files"][i] for i in keep_idx],
        entries=[st["entries"][i] for i in keep_idx],
        delete_specs=[st["delete_specs"][i] for i in keep_idx],
    )
    rows, _ = _live_lineage(spark, path, st_cand)
    rows = rows.filter(F.col("__ic_path").isin(sorted(cand_set)))
    schema_l = _spark_schema(meta0)
    rows = rows.select(*(F.col(f.name) for f in schema_l.fields))
    # bin-pack: size the write to ceil(candidate bytes / target) tasks
    # (the staged append splits per partition VALUE on top of this, so
    # partitioned tables still get one-partition-per-file files)
    cand_bytes = sum(
        int(e.get("file_size_in_bytes") or 0)
        for e in st["entries"]
        if e["file_path"] in cand_set
    )
    n_out = max(1, -(-cand_bytes // max(1, int(target_bytes))))
    rows = rows.coalesce(n_out)
    staged = append_iceberg(spark, path, rows, _stage_only=True)

    run_id = _uuid.uuid4().hex[:12]
    n_delete_dropped = 0

    def _fully_superseded(e) -> bool:
        d = e["data_file"]
        ref = d.get("referenced_data_file")
        if ref is not None:
            return any(
                v in cand_set for v in _path_variants(str(ref))
            )
        if int(d.get("content") or 1) == 2:
            return False  # equality delete: still scopes kept files
        import pyarrow.parquet as _pqc

        t = _pqc.read_table(
            _resolve(path, d["file_path"]), columns=["file_path"]
        )
        fps = {str(x) for x in t.column("file_path").to_pylist()}
        return bool(fps) and all(
            any(v in cand_set for v in _path_variants(fp))
            for fp in fps
        )

    def edit(meta):
        if meta.get("current-snapshot-id") != (st["snapshot"] or {}).get(
            "snapshot-id"
        ):
            raise ValueError(
                "cannot compact: a concurrent commit moved the table "
                "head; re-run against the new state"
            )
        by_id = {
            int(f["id"]): f for f in _current_schema(meta)["fields"]
        }
        specs = {
            int(s["spec-id"]): s
            for s in (meta.get("partition-specs") or [])
        }

        def build(seq, sid):
            nonlocal n_delete_dropped
            new_rows: list = []
            for row in _current_manifests(path, meta):
                m_seq = int(row.get("sequence_number") or 0)
                m_sid = row.get("added_snapshot_id")
                spid = int(row.get("partition_spec_id") or 0)
                _, ents = read_avro(_resolve(path, row["manifest_path"]))
                live = [e for e in ents if int(e.get("status") or 0) != 2]
                if int(row.get("content") or 0) == 1:
                    if live and all(_fully_superseded(e) for e in live):
                        n_delete_dropped += len(live)
                        continue
                    new_rows.append(row)
                    continue
                if not any(
                    e["data_file"]["file_path"] in cand_set for e in live
                ):
                    new_rows.append(row)
                    continue
                spec = specs.get(spid) or {"spec-id": spid, "fields": []}
                part_fields = _spec_avro_part_fields(spec, by_id, "compact")
                out_ents, min_seq = [], seq
                for e in live:
                    eseq = e.get("sequence_number")
                    eseq = int(eseq) if eseq is not None else m_seq
                    efseq = e.get("file_sequence_number")
                    efseq = int(efseq) if efseq is not None else eseq
                    min_seq = min(min_seq, eseq)
                    compacted = e["data_file"]["file_path"] in cand_set
                    out_ents.append(
                        {
                            "status": 2 if compacted else 0,
                            "snapshot_id": (
                                sid
                                if compacted
                                else (e.get("snapshot_id") or m_sid)
                            ),
                            "sequence_number": eseq,
                            "file_sequence_number": efseq,
                            "data_file": dict(e["data_file"]),
                        }
                    )
                mpath = f"metadata/cp-{run_id}-rw{len(new_rows)}.avro"
                write_avro(
                    _resolve(path, mpath),
                    _manifest_schema(part_fields),
                    out_ents,
                )

                def count(status):
                    ents_s = [e for e in out_ents if e["status"] == status]
                    return (
                        len(ents_s),
                        sum(
                            int(e["data_file"].get("record_count") or 0)
                            for e in ents_s
                        ),
                    )

                new_rows.append(
                    _ml_row(
                        path, mpath, spid, 0, seq, sid, min_seq=min_seq,
                        existing=count(0), deleted=count(2),
                    )
                )
            if staged["entries"]:
                new_rows.append(
                    _added_manifest(
                        path, f"metadata/cp-{run_id}-add.avro",
                        staged, seq, sid,
                    )
                )
            return new_rows, staged["n_rows"]

        return _add_snapshot(
            path, meta, _summary("replace", "compact"), f"cp-{run_id}-",
            build,
        )

    new_meta = _commit_metadata(path, "compact", edit, attempts=1)
    return {
        "snapshot_id": new_meta["current-snapshot-id"],
        "snapshot_seq": new_meta["last-sequence-number"],
        "n_files_before": len(st["files"]),
        "n_files_after": len(st["files"])
        - len(cand_set)
        + len(staged["entries"]),
        "n_rewritten": len(cand_set),
        "n_delete_files_dropped": n_delete_dropped,
    }


def expire_snapshots_iceberg(
    spark,
    path: str,
    older_than_ms: int | None = None,
    keep_last: int = 1,
    dry_run: bool = False,
) -> dict:
    """EXPIRE a FOREIGN Iceberg table's old snapshots and garbage-
    collect the files only they reference (round 16, r15 verdict task
    7 — the Iceberg half of ``VACUUM <attachment>``).

    Keeps the current snapshot, every snapshot newer than
    ``older_than_ms`` (default: keep all but apply ``keep_last``), and
    the ``keep_last`` most recent regardless.  Expired snapshots drop
    from ``snapshots``/``snapshot-log`` in a new metadata version
    (``_commit_metadata``; a lost race refuses); then any manifest
    list, manifest,
    data/delete file reachable ONLY from expired snapshots is deleted
    — reachability from every KEPT snapshot is collected first, so
    shared files always survive.  ``dry_run`` reports without
    deleting or committing."""
    result = {"n_expired": 0, "n_files_deleted": 0, "dry_run": dry_run}
    doomed: set[str] = set()

    def reach(snapshot) -> set[str]:
        """Every file a snapshot's tree references (manifest list,
        manifests, data/delete file paths), as realpaths."""
        out = set()
        ml = _resolve(path, snapshot["manifest-list"])
        out.add(os.path.realpath(ml))
        _, rows = read_avro(ml)
        for row in rows:
            mp = _resolve(path, row["manifest_path"])
            out.add(os.path.realpath(mp))
            _, ents = read_avro(mp)
            for e in ents:
                out.add(
                    os.path.realpath(
                        _resolve(path, e["data_file"]["file_path"])
                    )
                )
        return out

    def edit(meta):
        snaps = list(meta.get("snapshots") or [])
        cur_sid = meta.get("current-snapshot-id")
        by_time = sorted(
            snaps, key=lambda s: int(s.get("timestamp-ms") or 0)
        )
        keep_ids = {cur_sid}
        keep_ids.update(
            s["snapshot-id"] for s in by_time[-max(1, keep_last):]
        )
        if older_than_ms is not None:
            keep_ids.update(
                s["snapshot-id"]
                for s in snaps
                if int(s.get("timestamp-ms") or 0) >= older_than_ms
            )
        expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
        if not expired:
            return None
        kept_reach: set[str] = set()
        for s in snaps:
            if s["snapshot-id"] in keep_ids:
                kept_reach |= reach(s)
        root_real = os.path.realpath(path)
        for s in expired:
            for p in reach(s):
                if p not in kept_reach and p.startswith(
                    root_real + os.sep
                ):
                    doomed.add(p)
        result["n_expired"] = len(expired)
        result["n_files_deleted"] = len(doomed)
        if dry_run:
            return None
        new_meta = dict(meta)
        new_meta["snapshots"] = [
            s for s in snaps if s["snapshot-id"] in keep_ids
        ]
        new_meta["snapshot-log"] = [
            x
            for x in (meta.get("snapshot-log") or [])
            if x.get("snapshot-id") in keep_ids
        ]
        new_meta["last-updated-ms"] = max(
            int(meta.get("last-updated-ms") or 0),
            int(time.time() * 1000),
        )
        return new_meta

    if _commit_metadata(path, "expire snapshots", edit, attempts=1) is None:
        return result
    n_del = 0
    for p in sorted(doomed):
        try:
            os.unlink(p)
            n_del += 1
        except OSError:
            pass
    return dict(result, n_files_deleted=n_del)
