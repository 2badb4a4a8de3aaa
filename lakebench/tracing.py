"""Traced mode: spans, per-op Spark job counts and py4j roundtrips.

Every span comes from this benchmark's own files. ``Tracer.install`` wraps
the engine's public entry points at their module (or class) attributes;
each wrapper opens a span when the tracer is active and calls straight
through otherwise. A span records name, start, end, parent and op id; spans
stay in memory and are written out once, at exit.

Per op the tracer also sets one Spark job group and reads the status
tracker afterwards (as ``tools/job_stats.py`` does), and counts py4j
``send_command`` roundtrips and the time the driver blocked in them. Both
bookkeeping steps run with the counter paused.

Python-data-source planning and reads (``format("txn")``) run in Spark's
Python worker processes, where no driver-side wrapper can see them; the
DML workload measures pruning by calling ``TxnTable.pruned_files`` itself.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from collections import defaultdict

_ENGINE = "rxlan_aws_lakehouse_spark"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False  # the current op is traced
        self.spans: list[dict] = []
        self.op_stats: list[dict] = []  # one per traced op
        self.commits: list[dict] = []  # one per traced write commit
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._op_id: str | None = None  # set while a traced op runs
        self._op_kind = ""
        self._op_span = 0
        self._t0 = 0.0
        self._kind_count: dict[str, int] = {}
        self._groups: list[str] = []
        self._py4j_calls = 0
        self._py4j_s = 0.0
        self._paused = True
        self._sc = None
        self._undo: list = []

    # -- ops ------------------------------------------------------------
    def begin_op(self, kind: str, timed: bool) -> bool:
        """Start an op; returns whether it is traced. In a traced run the
        timed ops of each kind alternate between untraced and traced, so
        both sides of the overhead ratio see the same mix of kinds; every
        other kind starts on the traced side, so warm-up favours neither.
        The op stays ``active`` after ``end_op`` so its untimed check can
        record samples."""
        self.active = False
        if not (self.enabled and timed):
            return False
        if kind not in self._kind_count:
            self._kind_count[kind] = len(self._kind_count) % 2
        n = self._kind_count[kind]
        self._kind_count[kind] = n + 1
        if n % 2 == 0:
            return False
        self.active = True
        self._op_id = f"lakebench-op-{len(self.op_stats)}"
        self._op_kind, self._groups = kind, [self._op_id]
        self._sc.setJobGroup(self._op_id, kind)
        self._py4j_calls, self._py4j_s = 0, 0.0
        self._paused = False
        self._op_span = self._open(f"op.{kind}")
        self._t0 = time.perf_counter()
        return True

    def end_op(self) -> None:
        if not self.active:
            return
        wall = time.perf_counter() - self._t0
        self._close(self._op_span)
        self._paused = True
        self._sc.setJobGroup(None, None)
        jobs, stages, tasks = self._job_counts()
        self.op_stats.append({
            "op": self._op_id, "kind": self._op_kind, "wall_s": wall, "jobs": jobs,
            "stages": stages, "tasks": tasks, "py4j_roundtrips": self._py4j_calls,
            "py4j_wait_s": self._py4j_s,
        })
        self._op_id = None

    def add_job_group(self, group: str) -> None:
        """Count another job group (a streaming query's run id) towards the
        current op: Structured Streaming runs its batches in its own group."""
        if self._op_id is not None:
            self._groups.append(group)

    def _job_counts(self) -> tuple[int, int, int]:
        st = self._sc.statusTracker()
        jobs = stages = tasks = 0
        for group in self._groups:
            for jid in st.getJobIdsForGroup(group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
        return jobs, stages, tasks

    # -- spans ------------------------------------------------------------
    def _open(self, name: str) -> int:
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self._op_id,
        })
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        if self._op_id is None:  # outside a traced op
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def sample(self, name: str, value: float) -> None:
        if self.active:
            self.samples[name].append(value)

    # -- wrappers ---------------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if tracer._op_id is None:
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def wrap_everywhere(self, func, name: str) -> None:
        """Wrap a function under every engine module attribute bound to it:
        ``from ..catalog import load`` gives each lane module its own name."""
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(_ENGINE):
                for attr, value in list(vars(mod).items()):
                    if value is func:
                        self.wrap(mod, attr, name)

    def install(self, spark) -> None:
        """Wrap the engine's public entry points and py4j's send_command."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        import rxlan_aws_lakehouse_spark.queries  # noqa: F401 - binds the lanes' names
        from rxlan_aws_lakehouse_spark import catalog, sql_dml, txn
        from rxlan_aws_lakehouse_spark.ops import asof, similarity, topk
        from rxlan_aws_lakehouse_spark.pipeline import batch
        from rxlan_aws_lakehouse_spark.streaming import cdc

        self.wrap(cdc, "forward_cdc", "streaming.cdc.forward_cdc")
        self.wrap(batch, "run_batch", "pipeline.batch.run_batch")
        # run_batch calls the write_gold name bound in its own module
        self.wrap(batch, "write_gold", "pipeline.gold.write_gold")
        for m in ("overwrite_partitions", "merge_upsert", "update_where", "delete_where",
                  "append", "compact", "read", "commit"):
            self.wrap(txn.TxnTable, m, f"txn.{m}")
        self.wrap(sql_dml.TxnSqlRouter, "sql", "sql_dml.sql")
        self.wrap_everywhere(catalog.load, "catalog.load")
        self.wrap_everywhere(asof.asof_join, "ops.asof.asof_join")
        self.wrap_everywhere(topk.topk_per_group, "ops.topk.topk_per_group")
        self.wrap_everywhere(similarity.prepare, "ops.similarity.prepare")
        self.wrap_everywhere(similarity.cosine_topk, "ops.similarity.cosine_topk")

        client_cls = type(self._sc._gateway._gateway_client)
        orig_send = client_cls.send_command

        @functools.wraps(orig_send)
        def send_command(client, *args, **kwargs):
            if self._paused:
                return orig_send(client, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig_send(client, *args, **kwargs)
            finally:
                self._py4j_calls += 1
                self._py4j_s += time.perf_counter() - t0

        client_cls.send_command = send_command
        self._undo.append((client_cls, "send_command", orig_send))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- commits ------------------------------------------------------------
    def commit_stats(self, table_root: str, label: str) -> None:
        """Bytes and files a commit added, read from its new version dir:
        files with one link were written by this commit; carried files are
        hard links. Untimed; traced rounds only."""
        if not self.active:
            return
        from rxlan_aws_lakehouse_spark.txn import TxnTable

        t = TxnTable(table_root)
        v = t.current_version()
        vdir = os.path.join(table_root, "_versions", v)
        added = written = manifest = 0
        for dirpath, _dirs, files in os.walk(vdir):
            for fn in files:
                st = os.stat(os.path.join(dirpath, fn))
                if st.st_nlink != 1:
                    continue
                written += st.st_size
                if fn.endswith(".parquet"):
                    added += 1
                elif fn.endswith(".json"):
                    manifest += st.st_size
        self.commits.append({
            "label": label, "version": v, "files_added": added,
            "bytes_written": written, "manifest_bytes": manifest,
            "live_files": len(t.files()),
        })

    # -- report ---------------------------------------------------------------
    def span_table(self) -> dict[str, dict]:
        """name -> calls, mean inclusive seconds, mean self seconds."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        agg: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            a = agg[s["name"]]
            a[0] += 1
            a[1] += d
            a[2] += d - child_s[i]
        return {
            n: {"calls": c, "mean_s": tot / c, "self_mean_s": self_ / c}
            for n, (c, tot, self_) in sorted(agg.items())
        }

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.op_stats,
                       "commits": self.commits, **extra}, f)
