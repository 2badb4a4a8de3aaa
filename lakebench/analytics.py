"""analytics_mix: the analyst query mix over generated star-schema tables.

Each round is one pass over the lanes of ``gen.MIX`` in a seed-shuffled
order; set-up runs two more, the cold one and one while the JIT catches up.
The timed op is one lane:
DataFrame build + ``toPandas()``, which evaluates every output column
(a ``.count()`` lets Catalyst prune aggregate columns away). Read-only: no
commit happens anywhere in this workload.

Correctness, all of it outside the timed ops: every result of a lane must
equal the lane's first result, and after the timed loop that first result
must match the lane's ``oracle_sql()`` twin in DuckDB by schema, row count
and an order-insensitive value multiset (``tools/check_oracle.py``'s
``norm_cell``). Two float cells that differ only as the two roundings of a
tie also match (see ``_one_rounding_apart``).
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys

import pandas as pd

from .gen import MIX, query_order, write_tables

SCALE = 0.1  # the row counts of the repo's sf0.1 tables
# Set-up runs the cold pass and one more. With the cold pass alone, the next
# two still ran 15-30% slower than the ones after them.
WARMUP_PASSES = 2
_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
           "events", "documents", "embeddings")


def _check_oracle_module():
    """``tools/check_oracle.py``, loaded by path (``tools`` is no package)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "lakebench_check_oracle", os.path.join(repo, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _one_rounding_apart(a: float, b: float) -> bool:
    """``a`` and ``b`` are both rounded to the same ``d`` decimals and lie
    one unit of that place apart: the two roundings of a sum that sits on a
    tie. ``round(sum(double), 2)`` lands on either side of ``.xx5`` by the
    summation order alone. Prices with two decimals times discounts with two
    make such ties in about 1% of four-decimal sums: on one seed, DuckDB
    summed a group to 7383812.854999999 (-> .85) where the exact sum is
    7383812.855 (-> .86, Spark's answer). Whole numbers never match: a
    count or an integer sum that is one off is wrong."""
    for d in range(7):
        if round(a, d) == a and round(b, d) == b:
            return d > 0 and math.isclose(abs(a - b), 10.0**-d, rel_tol=1e-6)
    return False


def _mismatches(got, want, norm) -> list[tuple]:
    """Cells where two results with the same columns and row count differ,
    rows paired after sorting both by their ``norm_cell`` forms with float
    cells last. Cells that are the two roundings of a tie are reported to
    stderr and not counted."""
    cols = sorted(got.columns)

    def rows(df):
        out = []
        # the cells ``iterrows`` (as check_oracle.py uses it) would give,
        # without building a Series per row
        for cells in map(tuple, df[cols].values):
            normed = tuple(norm.norm_cell(v) for v in cells)
            fixed = tuple(n for v, n in zip(cells, normed) if not isinstance(v, float))
            out.append((fixed, normed, cells))
        out.sort(key=lambda r: r[:2])
        return out

    bad = []
    for (_, na, ra), (_, nb, rb) in zip(rows(got), rows(want)):
        if na == nb:
            continue
        for c, x, y, nx, ny in zip(cols, ra, rb, na, nb):
            if nx == ny:
                continue
            if isinstance(x, float) and isinstance(y, float) and _one_rounding_apart(x, y):
                print(f"# rounding tie accepted: {c} {x!r} vs {y!r}", file=sys.stderr)
                continue
            bad.append((c, x, y))
    return bad


def _digest(df) -> tuple:
    """Cheap order-insensitive fingerprint of a result: columns, rows and
    the sum of per-row hashes."""
    cols = sorted(df.columns)
    text = df[cols].astype(str)  # list cells (embeddings) are not hashable
    return cols, len(df), int(pd.util.hash_pandas_object(text, index=False).sum())


class Analytics:
    name = "analytics_mix"
    # A round is one pass of 5-8 s; a lane's median is taken over two.
    min_rounds = 2

    def __init__(self, scale: float = SCALE, lanes=MIX):
        self.scale = scale
        self.lanes = tuple(lanes)
        self.mix = {lane: 1 for lane in self.lanes}  # op kind -> ops per round

    def inputs(self, ctx) -> None:
        from rxlan_aws_lakehouse_spark.queries import all_queries

        self.norm = _check_oracle_module()
        self.dir = ctx.path("analytics", "tables", "")
        write_tables(ctx.seed, self.dir, self.scale)
        self.queries = all_queries()
        self.first: dict[str, pd.DataFrame] = {}  # lane -> its first result
        self.digest: dict[str, tuple] = {}

    def warmup(self, ctx) -> None:
        for i in range(WARMUP_PASSES):
            self._pass(ctx, i)

    def round(self, ctx, i: int) -> None:
        self._pass(ctx, WARMUP_PASSES + i)

    def _pass(self, ctx, index: int) -> None:
        tr = ctx.tracer
        for lane in query_order(ctx.seed, index):
            if lane not in self.lanes:
                continue

            def run(lane=lane):
                with tr.span(f"queries.{lane}.build"):
                    df = self.queries[lane](ctx.spark, self.dir)
                with tr.span(f"queries.{lane}.exec"):
                    return df.toPandas()

            def check(pdf, lane=lane):
                d = _digest(pdf)
                if lane not in self.first:
                    self.first[lane], self.digest[lane] = pdf, d
                    return None
                first = self.first[lane]
                if d == self.digest[lane]:
                    return None
                if d[:2] != self.digest[lane][:2]:
                    return f"result {d[:2]} differs from the first {self.digest[lane][:2]}"
                bad = _mismatches(pdf, first, self.norm)
                return f"result differs from the first: {bad[:3]}" if bad else None

            ctx.op(lane, run, check)

    def oracles(self) -> dict[str, object]:
        """lane -> the DuckDB result of its ``oracle_sql()``, or the error."""
        import duckdb

        from rxlan_aws_lakehouse_spark.queries import all_oracles

        sqls = all_oracles()
        out: dict[str, object] = {}
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            for t in _TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}{t}.parquet'")
            for lane in self.lanes:
                try:
                    out[lane] = con.execute(sqls[lane]).fetchdf()
                except duckdb.Error as e:
                    out[lane] = e
        finally:
            con.close()
        return out

    def finish(self, ctx) -> None:
        for lane, odf in self.oracles().items():
            sdf = self.first.get(lane)
            if not isinstance(odf, pd.DataFrame):
                ctx.verify(False, f"{lane}: oracle failed: {odf!r}")
            elif sdf is None:
                continue  # every run of the lane failed, and counted so
            elif sorted(sdf.columns) != sorted(odf.columns):
                ctx.verify(False, f"{lane}: columns {sorted(sdf.columns)} != oracle "
                                  f"{sorted(odf.columns)}")
            elif len(sdf) != len(odf):
                ctx.verify(False, f"{lane}: {len(sdf)} rows != oracle {len(odf)}")
            else:
                bad = _mismatches(sdf, odf, self.norm)
                ctx.verify(not bad, f"{lane}: values differ from the oracle: {bad[:3]}")
