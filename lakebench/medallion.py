"""medallion_hourly: landing file -> CDC stream -> bronze -> gold, hour by hour.

Each hour the generator lands one gzip NDJSON file of DynamoDB-Streams
envelopes. The timed op (the hour's freshness) starts when the file is
closed and ends when the gold commit is visible and the hour's verification
pack (count + null profile, duplicate detection) has returned:

    streaming.cdc.forward_cdc(available_now=True) + awaitTermination
    pipeline.batch.run_batch(dt, hour, quarantine_path=...)
    verification queries on that hour of gold

Checks (untimed): gold rows, quarantined rows and the rows the stream wrote
to bronze equal the generator's expectation; the gold hour holds no
duplicate (city, ts) and no NULL in its required columns.
"""

from __future__ import annotations

import gzip
import os

from .gen import CdcHours, land

EVENTS_PER_HOUR = 10_000
# Hour 0 is the cold one (~13 s); hours 1-3 still run 1.5x-1.1x slower
# than steady state while the JIT catches up, so timed hours start at 4.
WARMUP_HOURS = 4
STREAM_TIMEOUT_S = 120  # a run must end within 180 s
_REQUIRED = ("city", "fetched_at_utc", "ts", "temp_c", "humidity", "pressure")


def _bronze_files(root: str) -> set[str]:
    return {
        os.path.join(d, f) for d, _s, files in os.walk(root) for f in files
        if f.endswith(".json.gz")
    }


def _rows_in(paths) -> int:
    n = 0
    for p in paths:
        with gzip.open(p, "rb") as f:
            n += sum(1 for _ in f)
    return n


class Medallion:
    name = "medallion_hourly"
    # A round is one hour, of 2.5-4 s. Four at least give every run's tail a
    # sample beyond it; with three, the tail would be the maximum.
    min_rounds = 4
    mix = {"hour": 1}  # op kind -> ops per cycle (a cycle is one round)

    def __init__(self, events_per_hour: int = EVENTS_PER_HOUR,
                 warmup_hours: int = WARMUP_HOURS):
        self.events_per_hour = events_per_hour
        self.warmup_hours = warmup_hours

    def inputs(self, ctx) -> None:
        self.dirs = {
            d: ctx.path("medallion", d, "")
            for d in ("landing", "staging", "bronze", "ckpt", "gold", "quarantine")
        }
        self.gen = CdcHours(ctx.seed, self.events_per_hour)
        self.rows_landed = 0  # CDC events landed in timed hours

    def warmup(self, ctx) -> None:
        for h in range(self.warmup_hours):
            self._hour(ctx, h)

    def round(self, ctx, i: int) -> None:
        """One round is one hour."""
        batch = self._hour(ctx, self.warmup_hours + i)
        if batch is not None and not ctx.ops[-1].traced:
            self.rows_landed += batch.envelopes

    def finish(self, ctx) -> None:
        wall = sum(o.seconds for o in ctx.ops if o.kind == "hour" and o.ok and not o.traced)
        ctx.report["etl.rows_per_s"] = (self.rows_landed / wall if wall else None, "rows/s")

    # ------------------------------------------------------------------
    def _hour(self, ctx, h: int):
        from rxlan_aws_lakehouse_spark.pipeline import batch as batch_mod
        from rxlan_aws_lakehouse_spark.pipeline import gold as gold_mod
        from rxlan_aws_lakehouse_spark.streaming import cdc
        from pyspark.sql import functions as F

        spark, tr, d = ctx.spark, ctx.tracer, self.dirs
        b = self.gen.hour(h)
        files_before = _bronze_files(d["bronze"])
        got = {}
        land(b, d["landing"], d["staging"])  # the freshness clock starts here

        def hour():
            with tr.span("streaming.cdc.forward"):
                q = cdc.forward_cdc(spark, d["landing"], d["bronze"], d["ckpt"], available_now=True)
                tr.add_job_group(str(q.runId))
                if not q.awaitTermination(STREAM_TIMEOUT_S):
                    q.stop()
                    raise TimeoutError(f"CDC stream did not drain in {STREAM_TIMEOUT_S} s")
            got["metrics"] = batch_mod.run_batch(
                spark, d["bronze"], d["gold"], dt=b.dt, hour=b.hour,
                quarantine_path=d["quarantine"],
            )
            with tr.span("verify"):
                g = gold_mod.load_gold(spark, d["gold"]).where(
                    (F.col("dt") == b.dt) & (F.col("hour") == b.hour)
                )
                prof = g.agg(
                    F.count(F.lit(1)).alias("n"),
                    *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in _REQUIRED],
                ).first()
                dups = g.groupBy("city", "ts").count().where(F.col("count") > 1).count()
            return prof, dups

        def check(res):
            prof, dups = res
            m = got["metrics"]
            written = _bronze_files(d["bronze"]) - files_before
            out_rows = _rows_in(written)
            errs = []
            if prof["n"] != b.gold_rows:
                errs.append(f"gold rows {prof['n']} != expected {b.gold_rows}")
            if m.good_rows != b.gold_rows or m.quarantined_rows != b.quarantine_rows:
                errs.append(
                    f"batch good/quarantined {m.good_rows}/{m.quarantined_rows} != "
                    f"expected {b.gold_rows}/{b.quarantine_rows}"
                )
            if out_rows != b.cdc_rows:
                errs.append(f"cdc rows out {out_rows} != expected {b.cdc_rows}")
            if dups:
                errs.append(f"{dups} duplicate (city, ts) keys in gold")
            nulls = {c: prof[c] for c in _REQUIRED if prof[c]}
            if nulls:
                errs.append(f"nulls in gold: {nulls}")
            if tr.active:
                tr.sample("streaming.cdc.files_written", len(written))
                tr.sample("streaming.cdc.kept_ratio", out_rows / b.envelopes)
                tr.sample("pipeline.batch.quarantine_ratio", m.quarantined_rows / m.input_rows)
                tr.commit_stats(d["gold"], "gold")
            return "; ".join(errs) or None

        return b if ctx.op("hour", hour, check) is not None else None
