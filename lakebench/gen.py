"""Seeded input generators for the workloads.

Everything the engine receives is made here from ``--seed``: the same seed
gives the same bytes and the same expected counts. Nothing in this module
imports Spark; the expected results are computed from the generator's own
bookkeeping, never by asking the engine.

* ``CdcHours``     — one gzip NDJSON file of DynamoDB-Streams envelopes per
                     hour, with known filter/duplicate/invalid/late rates and
                     the gold and quarantine counts each hour must produce.
* ``write_tables`` — the star-schema parquet tables the analyst mix reads
                     (TPC-H-shaped plus events, documents, embeddings);
                     ``write_orders`` writes the same ``orders`` alone, for
                     the DML workload.
* ``DmlStream``    — the seeded statement stream for ``txn_dml``.
* ``query_order``  — the seed-shuffled lane order for each analyst pass.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
from dataclasses import dataclass, field

import numpy as np

# --------------------------------------------------------------------------
# CDC envelopes (medallion_hourly)
# --------------------------------------------------------------------------

N_CITIES = 500
FILTER_RATE = 0.05  # MODIFY/REMOVE envelopes the INSERT filter must drop
DUP_RATE = 0.02  # redelivered INSERTs the watermark dedup must drop
INVALID_RATE = 0.20  # range-invalid rows silver must quarantine
LATE_RATE = 0.005  # rows for the previous hour, inside the 10-minute watermark
LATE_WINDOW_S = 300  # late rows carry an event time in the last 5 minutes
START = dt.datetime(2024, 3, 1)


@dataclass
class HourBatch:
    """One landing file plus what the pipeline must make of it."""

    index: int
    dt: str
    hour: str
    payload: bytes  # gzip NDJSON, one envelope per line
    envelopes: int  # lines in the file
    cdc_rows: int  # rows the CDC stream must forward (unique INSERTs + late)
    gold_rows: int  # rows of (dt, hour) in gold after this hour's batch
    quarantine_rows: int  # rows of (dt, hour) silver must quarantine
    late_rows: int


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream ids); any integer seed works."""
    return np.random.default_rng([seed % 2**63, *stream])


def city_table(seed: int) -> list[tuple[str, str, float, float]]:
    """(name, country, lat, lon) for every city, fixed per seed."""
    r = _rng(seed, 7)
    countries = ["US", "UK", "JP", "DE", "FR", "IN", "BR", "CA"]
    return [
        (
            f"City{i:03d}",
            countries[int(r.integers(len(countries)))],
            round(float(r.uniform(-60, 70)), 4),
            round(float(r.uniform(-180, 180)), 4),
        )
        for i in range(N_CITIES)
    ]


class CdcHours:
    """Deterministic hour-by-hour envelope generator.

    Hour ``h`` carries ``events_per_hour`` unique INSERTs with distinct
    (city, second) keys, plus redelivered copies, MODIFY/REMOVE envelopes
    and (from the second hour on) a few late INSERTs for hour ``h - 1``.
    Late rows land in the previous hour's bronze partition, after that
    hour's gold commit, so they never count towards any gold hour here.
    """

    def __init__(self, seed: int, events_per_hour: int):
        self.seed = seed
        self.n = events_per_hour
        self.cities = city_table(seed)
        self._slots: dict[int, np.ndarray] = {}

    def _hour_slots(self, h: int) -> np.ndarray:
        if h not in self._slots:
            r = _rng(self.seed, 11, h)
            self._slots[h] = r.choice(N_CITIES * 3600, size=self.n, replace=False)
            self._slots.pop(h - 2, None)
        return self._slots[h]

    def _images(self, r, cities, times, invalid) -> list[str]:
        """NewImage maps in DynamoDB typed JSON (as JSON texts), one per
        (city, event time); rows flagged ``invalid`` break one range rule."""
        n = len(cities)
        temp = np.round(r.uniform(-30, 45, n), 1)
        humidity = r.integers(0, 101, n)
        pressure = r.integers(950, 1051, n)
        wind = np.round(r.uniform(0, 20, n), 1)
        kind = np.where(invalid, r.integers(0, 3, n), -1)
        hot = r.random(n) < 0.5
        temp = np.where(kind == 0, np.where(hot, np.round(r.uniform(61, 120, n), 1),
                                            np.round(r.uniform(-150, -91, n), 1)), temp)
        humidity = np.where(kind == 1, np.where(hot, r.integers(101, 200, n),
                                                r.integers(-50, 0, n)), humidity)
        pressure = np.where(kind == 2, -r.integers(0, 50, n), pressure)
        out = []
        for i in range(n):
            name, country, lat, lon = self.cities[int(cities[i])]
            t = float(temp[i])
            out.append(
                '{"app":{"S":"rxlan"},"stage":{"S":"dev"},"source":{"S":"openweather"},'
                f'"fetched_at_utc":{{"S":"{times[i]:%Y-%m-%dT%H:%M:%SZ}"}},'
                f'"city":{{"S":"{name}"}},"country":{{"S":"{country}"}},'
                f'"lat":{{"N":"{lat}"}},"lon":{{"N":"{lon}"}},'
                f'"temp_c":{{"N":"{t}"}},"feels_like_c":{{"N":"{round(t - 1.5, 1)}"}},'
                f'"humidity":{{"N":"{int(humidity[i])}"}},"pressure":{{"N":"{int(pressure[i])}"}},'
                f'"wind_speed":{{"N":"{float(wind[i])}"}}}}'
            )
        return out

    def hour(self, h: int) -> HourBatch:
        r = _rng(self.seed, 13, h)
        base = START + dt.timedelta(hours=h)
        created = base.replace(tzinfo=dt.timezone.utc).timestamp()
        slots = self._hour_slots(h)
        invalid = r.random(self.n) < INVALID_RATE
        cities, secs = np.divmod(slots, 3600)
        images = self._images(
            r, cities, [base + dt.timedelta(seconds=int(x)) for x in secs], invalid
        )
        lines = [
            _envelope(f"{h}-i{i}", "INSERT", img, created) for i, img in enumerate(images)
        ]
        for j in r.choice(self.n, size=round(DUP_RATE * self.n), replace=False):
            lines.append(_envelope(f"{h}-d{j}", "INSERT", images[j], created))
        for k, j in enumerate(r.choice(self.n, size=round(FILTER_RATE * self.n), replace=False)):
            if k % 2:
                lines.append(_envelope(f"{h}-m{j}", "MODIFY", images[j], created))
            else:
                lines.append(_envelope(f"{h}-r{j}", "REMOVE", None, created))
        late = 0
        if h > 0:
            # fresh (city, second) keys in the previous hour's last minutes
            taken = set(int(x) for x in self._hour_slots(h - 1))
            want = max(3, round(LATE_RATE * self.n))
            late_slots: list[int] = []
            while len(late_slots) < want:
                slot = int(r.integers(N_CITIES)) * 3600 + int(
                    r.integers(3600 - LATE_WINDOW_S, 3600)
                )
                if slot not in taken:
                    taken.add(slot)
                    late_slots.append(slot)
            prev_base = base - dt.timedelta(hours=1)
            lc, ls = np.divmod(np.asarray(late_slots), 3600)
            late_images = self._images(
                r, lc, [prev_base + dt.timedelta(seconds=int(x)) for x in ls],
                np.zeros(want, dtype=bool),
            )
            for k, img in enumerate(late_images):
                lines.append(_envelope(f"{h}-l{k}", "INSERT", img, created))
            late = want
        text = "".join(lines[i] for i in r.permutation(len(lines)))
        n_invalid = int(invalid.sum())
        return HourBatch(
            index=h,
            dt=base.strftime("%Y-%m-%d"),
            hour=base.strftime("%H"),
            payload=gzip.compress(text.encode(), compresslevel=6, mtime=0),
            envelopes=len(lines),
            cdc_rows=self.n + late,
            gold_rows=self.n - n_invalid,
            quarantine_rows=n_invalid,
            late_rows=late,
        )


def _envelope(event_id: str, name: str, image: str | None, created: float) -> str:
    """One NDJSON line: a DynamoDB-Streams record (REMOVE carries no image)."""
    new = f'"NewImage":{image},' if image is not None else ""
    return (
        f'{{"eventID":"{event_id}","eventName":"{name}",'
        f'"dynamodb":{{{new}"ApproximateCreationDateTime":{created}}}}}\n'
    )


def land(batch: HourBatch, landing_dir: str, staging_dir: str) -> None:
    """Write the hour's file beside the landing dir, then rename it in: the
    stream never sees a half-written file, and the rename is the moment the
    landing file is closed."""
    name = f"hour-{batch.index:05d}.json.gz"
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "wb") as f:
        f.write(batch.payload)
    os.rename(tmp, os.path.join(landing_dir, name))


# --------------------------------------------------------------------------
# Star-schema tables (analytics_mix, txn_dml)
# --------------------------------------------------------------------------

_NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# the vocabulary of the repo's sf0.1 documents
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2403  # through 2001-07-31
EMB_DIM = 64


def _choice(r, values, n):
    return np.asarray(values, dtype=object)[r.integers(len(values), size=n)]


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _sizes(scale: float) -> dict[str, int]:
    """Row counts per table; scale 0.1 gives the row counts of the repo's
    sf0.1 tables."""
    return {
        "customer": max(50, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(50, int(200_000 * scale)),
        "orders": max(200, int(1_500_000 * scale)),
        "events": max(200, int(1_000_000 * scale)),
        "documents": max(100, int(50_000 * scale)),
        "embeddings": max(50, int(20_000 * scale)),
    }


def _orders(seed: int, n_orders: int, n_cust: int) -> dict[str, np.ndarray]:
    r = _rng(seed, 21)
    days = r.integers(0, ORDER_DAYS, n_orders)
    return {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": _choice(r, STATUSES, n_orders),
        "o_totalprice": _money(r, 900, 450_000, n_orders),
        "o_orderdate": np.datetime64(ORDER_EPOCH, "us") + days.astype("timedelta64[D]"),
        "o_orderpriority": _choice(r, PRIORITIES, n_orders),
    }


def write_orders(seed: int, out_dir: str, scale: float) -> str:
    """Write ``orders.parquet`` alone (the same rows ``write_tables``
    writes); returns its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = _sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "orders.parquet")
    pq.write_table(pa.table(_orders(seed, n["orders"], n["customer"])), path)
    return path


def _documents(r, n_docs: int) -> dict[str, np.ndarray]:
    """Word soup over the sf0.1 vocabulary, 10-100 tokens a document, with
    about 0.2% exact duplicates, as sf0.1 has."""
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.002:
            texts.append(texts[int(r.integers(i))])
            continue
        n_tok = int(r.integers(10, 101))
        texts.append(" ".join(_WORDS[j] for j in r.integers(len(_WORDS), size=n_tok)))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.asarray(texts, dtype=object),
        "lang": np.asarray(_LANGS, dtype=object)[r.choice(len(_LANGS), size=n_docs, p=_LANG_P)],
        "source": np.asarray([f"src{i % N_SOURCES}" for i in range(n_docs)], dtype=object),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """Write the star-schema parquet tables under ``out_dir``; returns
    table -> row count. ``scale`` 0.1 gives sf0.1's row counts and column
    types (150k orders, ~600k lineitems, 100k events, 5000 documents),
    except that ``events.ts`` is TIMESTAMP(NANOS), as the engine's session
    and catalog document for the served events table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = _sizes(scale)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_orders, n_events, n_emb = n["orders"], n["events"], n["embeddings"]
    counts: dict[str, int] = {}

    def put(name: str, cols: dict):
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    r = _rng(seed, 20)
    put("region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.asarray(_REGIONS, dtype=object),
    })
    put("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.asarray([n for n, _ in _NATIONS], dtype=object),
        "n_regionkey": np.asarray([k for _, k in _NATIONS], dtype=np.int32),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.asarray([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(r, SEGMENTS, n_cust),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": np.asarray([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.asarray([f"part {i}" for i in range(n_part)], dtype=object),
        "p_brand": np.asarray([f"Brand#{i % 5 + 1}{i % 7 + 1}" for i in range(n_part)],
                              dtype=object),
        "p_type": _choice(r, ["STANDARD BRASS", "SMALL TIN", "LARGE STEEL", "ECONOMY COPPER"],
                          n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(r, 900, 2100, n_part),
    })
    orders = _orders(seed, n_orders, n_cust)
    put("orders", orders)
    per = r.integers(1, 8, n_orders)
    okey = np.repeat(orders["o_orderkey"], per)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    ship = np.repeat(orders["o_orderdate"], per) + r.integers(1, 122, n_li).astype("timedelta64[D]")
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900, 100_000, n_li),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _choice(r, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(r, ["F", "O"], n_li),
        "l_shipdate": ship,
    })
    ev_start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ev_start + np.sort(r.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        # microsecond values in a nanosecond column: the catalog's
        # nanos -> micros conversion runs and loses nothing
        "ts": pa.array(ts.astype("datetime64[ns]"), type=pa.timestamp("ns")),
        "user_id": r.integers(0, max(10, n_events // 66), n_events).astype(np.int64),
        "event_type": _choice(r, EVENT_TYPES, n_events),
        "value": _money(r, 0, 500, n_events),
        "props": np.asarray([json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_events)],
                            dtype=object),
    })
    put("documents", _documents(r, n["documents"]))
    emb = r.normal(size=(n_emb, EMB_DIM)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    })
    return counts


# --------------------------------------------------------------------------
# txn_dml statement stream
# --------------------------------------------------------------------------

# A round is two half-cycles, each shuffled by the seed and closed by an
# OPTIMIZE, so the live-file count rises and falls twice per round. Every
# round holds the same statements kinds, 4 reads in 10, so medians compare
# across seeds while the order and the keys change.
HALF_A = ("merge", "update_key", "delete_range", "select_point", "select_range")
HALF_B = ("insert", "update_range", "delete_key", "select_point", "select_range")
# Set-up runs a MERGE and one half-cycle. A cold MERGE took 4.6-6.2 s
# against 3.6-4.4 s warm, most of the difference JIT compilation. Without
# the half-cycle, the reads of a round's first half ran ~25% slower than
# those of its second.
WARMUP = ("merge",) + HALF_B + ("optimize",)


@dataclass
class Stmt:
    kind: str
    sql: str
    rows: list[tuple] = field(default_factory=list)  # the MERGE source
    prune: list[tuple] = field(default_factory=list)  # (col, op, literal) of a lookup

    @property
    def is_read(self) -> bool:
        return self.kind.startswith("select")


def _ts(d: dt.datetime) -> str:
    return f"TIMESTAMP '{d:%Y-%m-%d %H:%M:%S}'"


class DmlStream:
    """Seeded statements against ``orders``, partitioned by ``o_year``.
    The caller replays the same statements into a DuckDB replica."""

    def __init__(self, seed: int, order_dates: np.ndarray, merge_rows: int):
        self.r = _rng(seed, 31)
        self.n_orders = len(order_dates)
        self.years = order_dates.astype("datetime64[Y]").astype(int) + 1970
        # a MERGE rewrites one year's partition: only whole years, so that its
        # cost does not depend on the seed's choice of a short first or last year
        years, counts = np.unique(self.years, return_counts=True)
        self.full_years = years[counts >= 0.9 * counts.max()]
        self.next_key = self.n_orders
        self.merge_rows = merge_rows

    def round(self) -> list[Stmt]:
        return self.half(0) + self.half(1)

    def half(self, index: int) -> list[Stmt]:
        """Half-cycle ``index % 2`` (``HALF_A``, then ``HALF_B``) in a
        seeded order, closed by an OPTIMIZE."""
        half = (HALF_A, HALF_B)[index % 2]
        return [self.make(half[i]) for i in self.r.permutation(len(half))] + [
            self.make("optimize")]

    def _key(self) -> int:
        return int(self.r.integers(self.n_orders))

    def _window(self, days: int) -> tuple[dt.datetime, dt.datetime, int]:
        d0 = ORDER_EPOCH + dt.timedelta(days=int(self.r.integers(0, ORDER_DAYS - days)))
        d1 = min(d0 + dt.timedelta(days=days), dt.datetime(d0.year + 1, 1, 1))
        return d0, d1, d0.year  # one partition per range

    def _new_row(self, key: int, year: int | None = None) -> tuple:
        if year is None:
            d = ORDER_EPOCH + dt.timedelta(days=int(self.r.integers(ORDER_DAYS)))
        else:  # a day of that year inside the order-date range
            lo = max(ORDER_EPOCH, dt.datetime(year, 1, 1))
            hi = min(ORDER_EPOCH + dt.timedelta(days=ORDER_DAYS), dt.datetime(year + 1, 1, 1))
            d = lo + dt.timedelta(days=int(self.r.integers((hi - lo).days)))
        return (
            key,
            int(self.r.integers(1000)),
            STATUSES[int(self.r.integers(3))],
            round(float(self.r.uniform(900, 450_000)), 2),
            d,
            PRIORITIES[int(self.r.integers(5))],
            d.year,
        )

    def make(self, kind: str) -> Stmt:
        r = self.r
        if kind == "optimize":
            return Stmt(kind, "OPTIMIZE orders")
        if kind == "merge":
            # an upsert batch of one year's orders (~0.5% of the keys): four
            # in five existing, one in five new; the ON clause carries the
            # partition column, as a partitioned-table MERGE would
            y = int(self.full_years[int(r.integers(len(self.full_years)))])
            n_new = max(1, self.merge_rows // 5)
            pool = np.flatnonzero(self.years == y)
            keys = r.choice(pool, size=min(len(pool), self.merge_rows - n_new), replace=False)
            rows = [self._new_row(int(k), y) for k in sorted(keys)]
            rows += [self._new_row(self.next_key + i, y) for i in range(n_new)]
            self.next_key += n_new
            return Stmt(
                kind,
                "MERGE INTO orders t USING merge_src s "
                "ON t.o_orderkey = s.o_orderkey AND t.o_year = s.o_year "
                "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, "
                "o_orderstatus = s.o_orderstatus WHEN NOT MATCHED THEN INSERT *",
                rows=rows,
            )
        if kind == "update_key":
            return Stmt(
                kind,
                "UPDATE orders SET o_orderstatus = 'F', o_totalprice = o_totalprice + 1.25 "
                f"WHERE o_orderkey = {self._key()}",
            )
        if kind == "update_range":
            d0, d1, y = self._window(3)
            return Stmt(
                kind,
                f"UPDATE orders SET o_orderpriority = '1-URGENT' WHERE o_year = {y} "
                f"AND o_orderdate >= {_ts(d0)} AND o_orderdate < {_ts(d1)}",
            )
        if kind == "delete_key":
            return Stmt(kind, f"DELETE FROM orders WHERE o_orderkey = {self._key()}")
        if kind == "delete_range":
            d0, d1, y = self._window(1)
            return Stmt(
                kind,
                f"DELETE FROM orders WHERE o_year = {y} AND o_orderdate >= {_ts(d0)} "
                f"AND o_orderdate < {_ts(d1)} AND o_orderpriority = '5-LOW'",
            )
        if kind == "insert":
            rows = [self._new_row(self.next_key + i) for i in range(5)]
            self.next_key += 5
            values = ", ".join(
                f"({k}, {c}, '{s}', {p}, {_ts(d)}, '{pr}', {y})" for k, c, s, p, d, pr, y in rows
            )
            return Stmt(kind, f"INSERT INTO orders VALUES {values}")
        if kind == "select_point":
            k = self._key()
            return Stmt(
                kind,
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
                f"FROM orders WHERE o_orderkey = {k}",
                prune=[("o_orderkey", "=", k)],
            )
        if kind == "select_range":
            d0, d1, y = self._window(30)
            return Stmt(
                kind,
                "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
                f"FROM orders WHERE o_year = {y} AND o_orderdate >= {_ts(d0)} "
                f"AND o_orderdate < {_ts(d1)} GROUP BY o_orderpriority",
                prune=[("o_year", "=", y)],
            )
        raise ValueError(f"unknown statement kind {kind!r}")


# --------------------------------------------------------------------------
# analytics_mix pass order
# --------------------------------------------------------------------------

# Ten of the sixteen lanes the analyst mix names: the reference's
# verification queries, TPC-H scans and joins, and one lane per ops module
# the mix exercises (topk, asof, similarity, text quality). Every lane's
# cold first run costs ~1-2 s of set-up (the first one ~8 s), which bounds
# the mix to what 22 runs can afford. ``dedup_minhash_pairs`` is left out:
# at sf0.1's 5000 documents its cold run costs ~20 s and its DuckDB oracle
# more than three minutes, past a run's time limit.
MIX = (
    "ref_group_count_max", "ref_dup_detect", "ref_null_profile", "tpch_q1", "tpch_q5",
    "tpch_q18_big_orders", "window_topk", "asof_purchase_click", "emb_cosine_topk",
    "text_quality",
)


def query_order(seed: int, pass_index: int) -> list[str]:
    """Lane order of one pass; the set-up passes come first."""
    r = _rng(seed, 41, pass_index)
    return [MIX[i] for i in r.permutation(len(MIX))]
