"""txn_dml: analyst SQL on a transactional ``orders`` table.

Set-up seeds the generated ``orders`` (150k rows) into a ``TxnTable``
partitioned by ``o_year`` (the year of ``o_orderdate``) and registers it with
a ``TxnSqlRouter``. Each round then sends a seeded stream of MERGE / UPDATE /
DELETE / INSERT statements, point-lookup and range-aggregate SELECTs (4 in
10), and an OPTIMIZE after every half-round, through ``TxnSqlRouter.sql``.
The timed op is one statement, including collecting its result.

Correctness (untimed): every statement is replayed into a DuckDB replica
(MERGE as ``UPDATE ... FROM`` plus ``INSERT ... WHERE NOT EXISTS``, since
DuckDB 1.0 has no MERGE); each SELECT must return the replica's rows, and
the final table must hash equal to the replica.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

from .gen import HALF_A, HALF_B, WARMUP, DmlStream, write_orders

SCALE = 0.1  # 150k orders
MERGE_ROWS = 750  # ~0.5% of the keys per MERGE
_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
         "o_orderpriority", "o_year")


def _norm(rows) -> list[tuple]:
    """Order-insensitive, type-sensitive comparison form of result rows."""
    return sorted(tuple(f"{type(v).__name__}:{v!r}" for v in r) for r in rows)


def _frame_digest(df) -> str:
    """Order-insensitive hash of a whole table (pandas frame)."""
    df = df.sort_values("o_orderkey", kind="stable").reset_index(drop=True)
    df["o_orderdate"] = df["o_orderdate"].astype("datetime64[us]")
    df["o_year"] = df["o_year"].astype("int32")
    text = df.to_csv(index=False, float_format="%.17g")
    return hashlib.sha256(text.encode()).hexdigest()


def storage_ratio(root: str, live_bytes: int) -> float:
    """Bytes under the table root, hard links counted once, per live byte."""
    seen, total = set(), 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            st = os.stat(os.path.join(dirpath, fn))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total / live_bytes


class Dml:
    name = "txn_dml"
    min_rounds = 1  # a round is 12 statements, ~14 s
    mix = dict(Counter(HALF_A + HALF_B + ("optimize", "optimize")))  # kind -> per round

    def __init__(self, scale: float = SCALE, merge_rows: int = MERGE_ROWS):
        self.scale = scale
        self.merge_rows = merge_rows

    def inputs(self, ctx) -> None:
        import duckdb

        import pyarrow.parquet as pq

        self.src = write_orders(ctx.seed, ctx.path("dml", "tables", ""), self.scale)
        self.root = ctx.path("dml", "orders", "")
        dates = pq.read_table(self.src, columns=["o_orderdate"]).column(0).to_numpy()
        self.stream = DmlStream(ctx.seed, dates, self.merge_rows)
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 1")
        self.duck.execute(
            "CREATE TABLE orders AS SELECT *, CAST(year(o_orderdate) AS INTEGER) AS o_year "
            f"FROM '{self.src}'"
        )

    def warmup(self, ctx) -> None:
        from pyspark.sql import functions as F
        from rxlan_aws_lakehouse_spark import catalog, txn
        from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter

        spark = ctx.spark
        orders = catalog.load(spark, os.path.dirname(self.src), "orders")
        self.table = txn.TxnTable(self.root)
        self.table.commit(orders.withColumn("o_year", F.year("o_orderdate")),
                          partition_by=["o_year"])
        self.router = TxnSqlRouter(spark)
        self.router.register("orders", self.root)
        self.schema = spark.table("orders").schema
        for kind in WARMUP:
            self._stmt(ctx, self.stream.make(kind))

    def round(self, ctx, i: int) -> None:
        for st in self.stream.round():
            self._stmt(ctx, st)

    def half(self, ctx, i: int) -> None:
        """Half-cycle ``i % 2`` of a round (see ``gen.DmlStream.half``)."""
        for st in self.stream.half(i):
            self._stmt(ctx, st)

    def finish(self, ctx) -> None:
        query = f"SELECT {', '.join(_COLS)} FROM orders"
        got = self.router.sql(query).toPandas()
        want = self.duck.execute(query).fetchdf()
        ctx.verify(
            _frame_digest(got) == _frame_digest(want),
            f"final table differs from the DuckDB replay ({len(got)} vs {len(want)} rows)",
        )
        live = sum(e["bytes"] for e in self.table.file_entries().values())
        ctx.report["dml.storage_bytes_per_live_byte"] = (storage_ratio(self.root, live), "ratio")
        self.duck.close()

    # ------------------------------------------------------------------
    def _stmt(self, ctx, st) -> None:
        tr = ctx.tracer
        if st.kind == "merge":
            ctx.spark.createDataFrame(st.rows, self.schema).createOrReplaceTempView("merge_src")

        def run():
            return self.router.sql(st.sql).collect()

        def check(rows):
            if st.is_read:
                want = self.duck.execute(st.sql).fetchall()
                if tr.active:
                    kept, total = self.table.pruned_files(st.prune)
                    tr.sample("txn.pruned_kept_ratio", len(kept) / total)
                if _norm(rows) != _norm(want):
                    return f"{st.sql!r}: {rows[:3]} != replica {want[:3]}"
                return None
            self._replay(st)
            if tr.active:
                tr.commit_stats(self.root, st.kind)
            return None

        ctx.op(st.kind, run, check)

    def _replay(self, st) -> None:
        if st.kind == "optimize":
            return
        if st.kind == "merge":
            import pandas as pd

            src = pd.DataFrame(st.rows, columns=list(_COLS))
            self.duck.register("merge_src", src)
            self.duck.execute(
                "UPDATE orders SET o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus "
                "FROM merge_src s WHERE orders.o_orderkey = s.o_orderkey "
                "AND orders.o_year = s.o_year"
            )
            self.duck.execute(
                "INSERT INTO orders SELECT s.* FROM merge_src s WHERE NOT EXISTS "
                "(SELECT 1 FROM orders o WHERE o.o_orderkey = s.o_orderkey "
                "AND o.o_year = s.o_year)"
            )
            self.duck.unregister("merge_src")
            return
        self.duck.execute(st.sql)
