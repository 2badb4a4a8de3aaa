"""Replayable Kinesis-shaped streaming source: ``format("replaylog")``.

The reference's stream transport is Kinesis (/root/reference/README.md:
147-154): shards, per-shard monotonically increasing sequence numbers,
and — the property that makes it production-grade — REPLAY: a consumer
that crashes before checkpointing its position re-reads the same records,
so the pipeline is at-least-once end to end and exactly-once behind an
idempotent sink. The TCP socket source (``streaming/net.py``) is real
network IO but at-most-once by construction: bytes not consumed are gone.
This module closes that gap with a replay-capable source of the same
SHAPE as Kinesis, served over a durable file-backed shard log:

    root/
      shard=00/000000000001-000000000500.ndjson   # immutable once renamed
      shard=01/...

* Each shard is an append-only sequence of NDJSON record files named by
  the inclusive ``[first_seq, last_seq]`` range they hold; one line per
  record: ``{"seq": N, "data": "..."}``. A producer writes to a temp
  name and renames — readers never observe a torn file.
* **Offsets are per-shard sequence numbers** (``{"shard=00": 500, ...}``,
  tiny JSON), exactly Kinesis's checkpoint shape. ``latestOffset`` reads
  NO record data — the frontier comes off the file NAMES (one directory
  listing per shard).
* **partitions(start, end) is a pure function of the immutable log**: one
  InputPartition per shard covering ``(start_seq, end_seq]``; the
  executor reads only the files whose name-range overlaps, filtering to
  the exact range. Re-planning the same offset range — which is what
  Spark does when restarting from a checkpoint whose last batch never
  committed — REDELIVERS the same records bit-for-bit: at-least-once
  with deterministic replay, the semantics the socket source cannot
  give. (Proven by the forced mid-stream-restart pytest and the
  ``streaming_replay_counts`` registry lane.)
* **Rate limiting**: ``maxSeqsPerTrigger`` caps how far past the
  consumed frontier one micro-batch may advance PER SHARD (Kinesis
  ``maxFetchRecordsPerShard`` / Delta ``maxFilesPerTrigger`` analogue),
  so a consumer waking up behind a long backlog drains it in bounded
  batches. Same ``Trigger.AvailableNow`` caveat as the txn source: the
  wrapper snapshots ``latestOffset`` once per RUN, so a capped
  available-now run drains at most the cap — use the cap for continuous
  tailing, drain backlogs uncapped or over several runs.
* New shards appearing after the stream started (Kinesis resharding) are
  picked up at the next ``latestOffset`` and read from sequence 0.
* **Shard split/merge (round 10)** models Kinesis resharding proper:
  every shard owns a partition-key HASH RANGE (``_shard.json``:
  ``{"range": [lo, hi), "parents": {name: close_seq}, "closed_at"}``).
  ``split_shard`` closes the parent at its current frontier and opens
  two children owning the halves of its range; ``merge_shards`` closes
  two adjacent shards and opens one child owning the union. Producers
  route by ``crc32(key)`` into the OPEN shard owning the hash (closed
  shards refuse appends), so a key's records live in the parent up to
  the close sequence and in exactly one child after — Kinesis's
  key-range contract. The stream reader enforces the KCL ordering rule:
  a child shard is HELD (its offset does not advance) until every
  parent's consumed watermark reaches its close sequence, so parent
  records always land in an earlier micro-batch than any child record —
  per-key order survives the reshard. Lineage metadata is immutable
  once written and cached on the driver; planning stays ∝ shard count.

At 100 TB scale the design holds because nothing ever scans the log to
plan: planning cost ∝ shard count, batch IO ∝ the record range consumed,
and parallelism = shard count (Kinesis's own model — want more
parallelism, add shards).

Wire schema (fixed, like Kinesis's record envelope): ``shard string,
seq bigint, data string`` — consumers ``from_json`` the data blob.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..store import LOCAL

RECORD_SCHEMA = StructType(
    [
        StructField("shard", StringType()),
        StructField("seq", LongType()),
        StructField("data", StringType()),
    ]
)

_SUFFIX = ".ndjson"


def _shard_dirs(root: str) -> list[str]:
    return sorted(
        d
        for d in os.listdir(root)
        if d.startswith("shard=")
        and os.path.isdir(os.path.join(root, d))
    )


def _file_range(name: str) -> tuple[int, int]:
    a, _, b = name[: -len(_SUFFIX)].partition("-")
    return int(a), int(b)


def _shard_frontier(shard_dir: str) -> int:
    """Highest published sequence number — off file NAMES only."""
    hi = 0
    for n in os.listdir(shard_dir):
        if n.endswith(_SUFFIX):
            hi = max(hi, _file_range(n)[1])
    return hi


_META = "_shard.json"
_HASH_SPAN = 1 << 32  # crc32 key space


def _shard_meta(shard_dir: str) -> dict | None:
    """Reshard lineage metadata, or None for a legacy (pre-r10) shard.
    ``range``/``parents`` are immutable once written; ``closed_at``
    flips null -> int exactly once (a durable ``put``)."""
    try:
        with open(os.path.join(shard_dir, _META)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _write_meta(shard_dir: str, meta: dict) -> None:
    LOCAL.put(os.path.join(shard_dir, _META), json.dumps(meta))


class ReplayLog:
    """Producer/admin handle for a file-backed shard log.

    Single writer per shard (Kinesis's per-shard ordering contract);
    ``put_many`` distributes records to shards by a caller key, exactly
    like a Kinesis partition key."""

    def __init__(self, root: str, n_shards: int | None = None):
        self.root = root
        if n_shards is not None:
            for i in range(n_shards):
                sdir = os.path.join(root, f"shard={i:02d}")
                fresh = not os.path.isdir(sdir)
                os.makedirs(sdir, exist_ok=True)
                if fresh and _shard_meta(sdir) is None:
                    # even slice of the crc32 key space (Kinesis's
                    # explicit-hash-range model)
                    lo = i * _HASH_SPAN // n_shards
                    hi = (i + 1) * _HASH_SPAN // n_shards
                    _write_meta(
                        sdir,
                        {
                            "range": [lo, hi],
                            "parents": {},
                            "closed_at": None,
                        },
                    )

    @property
    def shards(self) -> list[str]:
        return _shard_dirs(self.root)

    def open_shards(self) -> list[str]:
        """Shards accepting appends: no meta (legacy) or not closed."""
        out = []
        for s in self.shards:
            meta = _shard_meta(os.path.join(self.root, s))
            if meta is None or meta.get("closed_at") is None:
                out.append(s)
        return out

    def put_batch(self, shard: str, datas: list[str]) -> tuple[int, int]:
        """Append ``datas`` to one shard as ONE immutable file; returns
        the assigned ``(first_seq, last_seq)``. Write-then-rename: a
        concurrent reader sees the whole batch or none of it."""
        if not datas:
            raise ValueError("empty batch")
        sdir = os.path.join(self.root, shard)
        meta = _shard_meta(sdir)
        if meta is not None and meta.get("closed_at") is not None:
            raise ValueError(
                f"{shard} is closed at seq {meta['closed_at']} "
                "(resharded); route by key via put_many"
            )
        first = _shard_frontier(sdir) + 1
        last = first + len(datas) - 1
        tmp = os.path.join(sdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            for i, d in enumerate(datas):
                f.write(json.dumps({"seq": first + i, "data": d}) + "\n")
        os.rename(
            tmp, os.path.join(sdir, f"{first:012d}-{last:012d}{_SUFFIX}")
        )
        return first, last

    def put_many(self, records: list[tuple[str, str]]) -> None:
        """(partition_key, data) pairs -> OPEN shards by key hash, one
        batch file per touched shard, preserving within-key arrival
        order. When every open shard carries a hash range (any log
        created since r10), a key routes to the shard OWNING
        ``crc32(key)`` — stable across resharding, so a key's records
        move parent -> one child at the split point; legacy range-less
        logs keep the modulo routing."""
        import zlib

        shards = self.open_shards()
        if not shards:
            raise ValueError(f"no open shards at {self.root}")
        ranges = {
            s: (_shard_meta(os.path.join(self.root, s)) or {}).get("range")
            for s in shards
        }
        by_range = all(r is not None for r in ranges.values())

        def route(key) -> str:
            h = zlib.crc32(str(key).encode())
            if not by_range:
                return shards[h % len(shards)]
            for s, (lo, hi) in ranges.items():
                if lo <= h < hi:
                    return s
            raise ValueError(
                f"no open shard owns hash {h} (ranges: {ranges})"
            )

        by_shard: dict[str, list[str]] = {}
        for key, data in records:
            by_shard.setdefault(route(key), []).append(data)
        for s, datas in by_shard.items():
            self.put_batch(s, datas)

    def frontier(self) -> dict[str, int]:
        return {
            s: _shard_frontier(os.path.join(self.root, s))
            for s in self.shards
        }

    def _close(self, shard: str) -> tuple[dict, int]:
        sdir = os.path.join(self.root, shard)
        meta = _shard_meta(sdir)
        if meta is None or meta.get("range") is None:
            raise ValueError(
                f"{shard} has no hash-range metadata (legacy log); "
                "resharding needs a log created with n_shards"
            )
        if meta.get("closed_at") is not None:
            raise ValueError(f"{shard} is already closed")
        close_at = _shard_frontier(sdir)
        meta["closed_at"] = close_at
        _write_meta(sdir, meta)
        return meta, close_at

    def _new_shard(
        self, rng: list[int], parents: dict[str, int]
    ) -> str:
        nxt = (
            max(
                (int(s.split("=")[1]) for s in self.shards),
                default=-1,
            )
            + 1
        )
        name = f"shard={nxt:02d}"
        sdir = os.path.join(self.root, name)
        os.makedirs(sdir)
        _write_meta(
            sdir, {"range": rng, "parents": parents, "closed_at": None}
        )
        return name

    def split_shard(self, shard: str) -> tuple[str, str]:
        """Kinesis SplitShard: close ``shard`` at its current frontier
        and open two children owning the halves of its hash range.
        Returns the child names. Readers drain the parent to the close
        sequence before either child advances."""
        meta, close_at = self._close(shard)
        lo, hi = meta["range"]
        mid = (lo + hi) // 2
        if not (lo < mid < hi):
            raise ValueError(f"{shard} range {meta['range']} too narrow")
        parents = {shard: close_at}
        return (
            self._new_shard([lo, mid], dict(parents)),
            self._new_shard([mid, hi], dict(parents)),
        )

    def merge_shards(self, a: str, b: str) -> str:
        """Kinesis MergeShards: close two ADJACENT shards at their
        frontiers and open one child owning the union of their ranges.
        Readers drain BOTH parents before the child advances."""
        ma = _shard_meta(os.path.join(self.root, a))
        mb = _shard_meta(os.path.join(self.root, b))
        for n, m in ((a, ma), (b, mb)):
            if m is None or m.get("range") is None:
                raise ValueError(f"{n} has no hash-range metadata")
        (alo, ahi), (blo, bhi) = ma["range"], mb["range"]
        if ahi == blo:
            rng = [alo, bhi]
        elif bhi == alo:
            rng = [blo, ahi]
        else:
            raise ValueError(
                f"{a} {ma['range']} and {b} {mb['range']} are not "
                "adjacent"
            )
        _, ca = self._close(a)
        _, cb = self._close(b)
        return self._new_shard(rng, {a: ca, b: cb})


@dataclass
class _RangePartition(InputPartition):
    shard_dir: str  # absolute
    shard: str  # "shard=NN"
    lo: int  # exclusive
    hi: int  # inclusive


def _read_range(part: _RangePartition) -> Iterator[tuple]:
    """Executor-side: records with ``lo < seq <= hi`` from the files
    whose NAME range overlaps — IO ∝ the consumed range, not the log."""
    for name in sorted(os.listdir(part.shard_dir)):
        if not name.endswith(_SUFFIX):
            continue
        first, last = _file_range(name)
        if last <= part.lo or first > part.hi:
            continue
        with open(os.path.join(part.shard_dir, name)) as f:
            for line in f:
                rec = json.loads(line)
                if part.lo < rec["seq"] <= part.hi:
                    yield (part.shard, rec["seq"], rec["data"])


class ReplayLogStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self._root = options["path"]
        start = str(options.get("startingPosition", "earliest")).lower()
        if start == "earliest":
            self._initial = {s: 0 for s in _shard_dirs(self._root)}
        elif start == "latest":
            self._initial = ReplayLog(self._root).frontier()
        else:
            raise ValueError(
                f"startingPosition must be earliest|latest, got {start}"
            )
        cap = int(options.get("maxSeqsPerTrigger", 0))
        self._cap = cap if cap > 0 else None
        # shard -> {parent: close_seq}; lineage is immutable once a
        # child exists, so one read per shard per reader lifetime
        self._parents: dict[str, dict[str, int]] = {}

    def initialOffset(self) -> dict:
        return dict(self._initial)

    def _parents_of(self, s: str) -> dict[str, int]:
        got = self._parents.get(s)
        if got is None:
            meta = _shard_meta(os.path.join(self._root, s))
            got = dict((meta or {}).get("parents") or {})
            self._parents[s] = got
        return got

    def latestOffset(self) -> dict:
        # self._initial doubles as the consumed watermark for capping;
        # partitions()/commit() advance it. New shards enter at 0.
        out: dict[str, int] = {}
        for s in _shard_dirs(self._root):
            head = _shard_frontier(os.path.join(self._root, s))
            low = self._initial.get(s, 0)
            # KCL ordering rule: a reshard child is HELD until every
            # parent is consumed through its close sequence, so parent
            # records always land in an EARLIER micro-batch than any
            # child record (per-key order across the handoff). Parents
            # the stream never consumed (startingPosition=latest took
            # effect after the reshard) don't hold their children.
            for p, close_seq in self._parents_of(s).items():
                started = self._initial.get(p, 0)
                if started < close_seq and os.path.isdir(
                    os.path.join(self._root, p)
                ):
                    head = low
                    break
            if self._cap is not None:
                head = min(head, low + self._cap)
            out[s] = max(head, low)
        return out

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        parts = []
        for s, hi in end.items():
            lo = start.get(s, 0)
            if hi > self._initial.get(s, 0):
                self._initial[s] = hi
            if hi > lo:
                parts.append(
                    _RangePartition(
                        shard_dir=os.path.join(self._root, s),
                        shard=s,
                        lo=lo,
                        hi=hi,
                    )
                )
        return parts

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        yield from _read_range(partition)

    def commit(self, end: dict) -> None:
        for s, v in end.items():
            if v > self._initial.get(s, 0):
                self._initial[s] = v

    def stop(self) -> None:
        pass


class ReplayLogBatchReader(DataSourceReader):
    """Batch read of the whole log (or ``upToSeq`` per shard) — one
    partition per shard, the same executor read path the stream uses."""

    def __init__(self, options):
        self._root = options["path"]
        self._upto = int(options.get("upToSeq", 0)) or None

    def partitions(self) -> Sequence[InputPartition]:
        return [
            _RangePartition(
                shard_dir=os.path.join(self._root, s),
                shard=s,
                lo=0,
                hi=self._upto
                or _shard_frontier(os.path.join(self._root, s)),
            )
            for s in _shard_dirs(self._root)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        yield from _read_range(partition)


class ReplayLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "replaylog"

    def schema(self) -> StructType:
        return RECORD_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return ReplayLogBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return ReplayLogStreamReader(self.options)


def register_replay_source(spark) -> None:
    # record the name for the pushdown guard's zero-load fast path even
    # when this registration runs BEFORE any guard install wraps
    # DataSourceRegistration.register (driver-side only; cheap import)
    from .pushdown_guard import _note_registration

    _note_registration(ReplayLogDataSource.name())
    spark.dataSource.register(ReplayLogDataSource)
