"""ingest_dml: the lakehouse's write side, hourly ingest beside analyst DML.

One process holds both write paths of ``medallion_hourly`` and ``txn_dml``
and alternates them, so a run measures every layer that commits:

    round i = one CDC hour (landing file -> ``forward_cdc`` -> ``run_batch``
              -> gold commit -> verification), then half-cycle ``i % 2`` of
              the ``orders`` statement stream through ``TxnSqlRouter.sql``
              (MERGE or INSERT, UPDATE, DELETE, two SELECTs, OPTIMIZE)

The two paths write different tables (gold, ``orders``), so each keeps its
own untimed checks: per-hour gold/quarantine/CDC counts against the
generator, every SELECT and the final ``orders`` hash against the DuckDB
replay. Two rounds make one whole statement cycle; a run has at least two.

Set-up warms both paths: two hours, then the statement warm-up of
``txn_dml``. The shared Spark code (parquet writes, commits,
small jobs) warms from either side.
"""

from __future__ import annotations

from .dml import Dml
from .medallion import Medallion

# The cold hour and one more: the first hour after the cold one still ran
# 0.5-1 s slower than the next.
WARMUP_HOURS = 2
# Half the hour of ``medallion_hourly``, to keep a whole cycle near 18 s.
EVENTS_PER_HOUR = 5_000


class IngestDml:
    name = "ingest_dml"
    min_rounds = 2
    mix = {"hour": 2, **Dml.mix}  # op kind -> ops per cycle of two rounds

    def __init__(self, medallion: Medallion | None = None, dml: Dml | None = None):
        self.medallion = medallion or Medallion(EVENTS_PER_HOUR, WARMUP_HOURS)
        self.dml = dml or Dml()

    def inputs(self, ctx) -> None:
        self.medallion.inputs(ctx)
        self.dml.inputs(ctx)

    def warmup(self, ctx) -> None:
        self.medallion.warmup(ctx)
        self.dml.warmup(ctx)

    def round(self, ctx, i: int) -> None:
        self.medallion.round(ctx, i)
        self.dml.half(ctx, i)

    def finish(self, ctx) -> None:
        self.medallion.finish(ctx)
        self.dml.finish(ctx)
