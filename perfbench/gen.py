"""Seeded input generators. The program under test only ever sees what
these write (Parquet files) or hand back (CoinAPI-shaped bar dicts).

Same seed, same arguments -> byte-identical files (see
tests/test_gen.py). Every draw comes from one ``numpy.random.Generator``
per table, seeded from (seed, table name), so changing one table's size
does not shift another table's values.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The column layout of the engine's corpus tables (etl_project_spark.catalog.TABLES).
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "cold", "hot", "large", "old", "small"], ["bolt", "nut", "plate", "ring", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMB_DIM = 64

_EPOCH = np.datetime64("1970-01-01", "us")


def rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def _days(start: str, end: str, n: int, r: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + r.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def write_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The TPC-H-shaped star schema plus ``events`` at scale factor ``sf``
    (lineitem ~ 6M * sf rows). Returns rows written per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 20)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    r = rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = rng(seed, "part")
    adj, noun = (np.array(w) for w in PART_WORDS)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adj[r.integers(0, len(adj), n_part)], " "),
            noun[r.integers(0, len(noun), n_part)],
        ),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    r = rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000, 500_000, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, r),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })
    r = rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105_000, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100,
        "l_tax": r.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, r),
    })
    r = rng(seed, "events")
    span_us = 7 * 86_400 * 1_000_000  # one week: keeps per-window results small
    ts = np.sort(r.integers(0, span_us, n_ev)) + (
        np.datetime64("2024-01-01", "us") - _EPOCH
    ).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": r.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    write_corpus(out_dir, seed, n_docs=max(int(50_000 * sf), 100),
                 n_vecs=max(int(20_000 * sf), 50), exact_dup=0.002,
                 near_dup=0.05)
    return {k: v.num_rows for k, v in t.items()}


def write_corpus(
    out_dir: str,
    seed: int,
    n_docs: int,
    n_vecs: int,
    exact_dup: float,
    near_dup: float,
) -> dict[str, int]:
    """``documents`` and ``embeddings`` in the engine's schema.

    ``exact_dup`` of the documents copy an earlier document's text
    verbatim; ``near_dup`` copy one and append the token ``dup`` (word
    3-shingle Jaccard >= 0.9 with the original for every length drawn
    here). Every other document is a uniform draw over a 30-word
    vocabulary, so unrelated pairs sit far below the 0.5 near-dup
    threshold. Returns the number of planted copies of each kind."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, "documents")
    vocab = np.array(VOCAB)
    lengths = r.integers(20, 80, n_docs)
    words = vocab[r.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    kind = r.choice(3, n_docs, p=[1 - exact_dup - near_dup, exact_dup, near_dup])
    kind[0] = 0
    src = r.integers(0, np.arange(n_docs) + (np.arange(n_docs) == 0))
    for i in np.flatnonzero(kind):
        base = texts[src[i]]
        texts[i] = base if kind[i] == 1 else base + " dup"
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", r.integers(0, N_SOURCES, n_docs).astype(str)),
        "n_chars": np.fromiter((len(s) for s in texts), np.int64, n_docs),
    }), os.path.join(out_dir, "documents.parquet"))
    r = rng(seed, "embeddings")
    v = r.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMB_DIM)
    _write(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vecs, dtype=np.int32),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"exact_dup": int((kind == 1).sum()), "near_dup": int((kind == 2).sum())}


# --- OHLCV ticks ---------------------------------------------------------------

COINS = {  # coin -> CoinAPI symbol, as etl_project_spark.sources.rest.DEFAULT_COINS
    "bitcoin": "BITSTAMP_SPOT_BTC_USD",
    "ethereum": "BITSTAMP_SPOT_ETH_USD",
    "ripple": "BITSTAMP_SPOT_XRP_USD",
}
BASE_PRICE = {"bitcoin": 29_000.0, "ethereum": 1_900.0, "ripple": 0.47}
_FMT = "%Y-%m-%dT%H:%M:%S.0000000Z"


def _bar(coin: str, start: dt.datetime, minutes: int, price: float,
         r: np.random.Generator) -> dict:
    end = start + dt.timedelta(minutes=minutes)
    o, c = price, price * (1 + r.normal(0, 0.002))
    return {
        "time_period_start": start.strftime(_FMT),
        "time_period_end": end.strftime(_FMT),
        "time_open": (start + dt.timedelta(seconds=1)).strftime(_FMT),
        "time_close": (end - dt.timedelta(seconds=1)).strftime(_FMT),
        "price_open": round(o, 6),
        "price_high": round(max(o, c) * (1 + abs(r.normal(0, 0.001))), 6),
        "price_low": round(min(o, c) * (1 - abs(r.normal(0, 0.001))), 6),
        "price_close": round(c, 6),
        "volume_traded": round(float(r.exponential(20.0)), 4),
        "trades_count": int(r.integers(50, 500)),
        "coin": coin,
    }


_TS_COLS = ("time_period_start", "time_period_end", "time_open", "time_close")
_NUM_COLS = ("price_open", "price_high", "price_low", "price_close", "volume_traded")


def _write_bars(path: str, rows: list[dict]) -> None:
    """One Parquet file of bars in the bronze data layout: the columns the
    engine's ``normalize_bars`` produces, minus the partition columns."""
    cols = {c: np.array([row[c][:26] for row in rows], "datetime64[us]")
            for c in _TS_COLS}
    for c in _NUM_COLS:
        cols[c] = np.array([row[c] for row in rows], np.float64)
    cols["trades_count"] = np.array([row["trades_count"] for row in rows], np.int64)
    _write(pa.table(cols), path)


class TickStream:
    """A seeded CoinAPI 5-minute feed (288 bars per coin per day).

    Bronze starts with ``history_days`` finished days, compacted (one
    file per period_date/coin directory, the layout ``compact_day``
    leaves). Each later day is split by ``day_plan()`` into ``timed``
    ticks, one at a seeded slot in each equal stretch of the day, and the
    rest, which ``land()`` writes the way ``ingest_tick`` would (one file
    per coin per tick), so every timed tick sees the file count and
    history depth the reference's cron would leave at that time of day.
    Slots used by untimed ticks before a plan are left out of it.
    ``replays`` of the timed ticks are followed by a replay that re-sends
    the same bars, as a cron double-fire or a restarted ingest loop
    would; dedupe must drop them.

    ``next_tick()`` advances the feed by one slot; ``fetcher`` answers the
    source's per-coin request with the current slot's bar."""

    SLOTS_PER_DAY = 24 * 60 // 5

    def __init__(self, seed: int, history_days: int,
                 first_day: str = "2024-01-01"):
        self.r = rng(seed, "ticks")
        self.t0 = dt.datetime.fromisoformat(first_day)
        self.history_days = history_days
        self.price = dict(BASE_PRICE)
        self.slot = 0  # next bar index
        self.current: dict[str, dict] = {}
        self.bars: list[dict] = []  # every distinct bar sent or landed, in order

    def _bars_at(self, slot: int) -> dict[str, dict]:
        start = self.t0 + dt.timedelta(minutes=5 * slot)
        out = {}
        for coin in COINS:
            b = _bar(coin, start, 5, self.price[coin], self.r)
            self.price[coin] = b["price_close"]
            out[coin] = b
        self.bars.extend(out.values())
        return out

    def write_history(self, bronze_path: str) -> int:
        """Land the finished days as compacted bronze partitions. Call
        before the first tick. Returns bars written."""
        by_part: dict[tuple[str, str], list[dict]] = {}
        for slot in range(self.history_days * self.SLOTS_PER_DAY):
            for coin, b in self._bars_at(slot).items():
                by_part.setdefault((b["time_period_start"][:10], coin), []).append(b)
        self.slot = self.history_days * self.SLOTS_PER_DAY
        for (day, coin), rows in sorted(by_part.items()):
            d = os.path.join(bronze_path, f"period_date={day}", f"coin={coin}")
            os.makedirs(d)
            _write_bars(os.path.join(d, "part-00000-history.zstd.parquet"), rows)
        return len(self.bars)

    def day_end(self) -> int:
        """The first slot of the day after the next slot's day."""
        return (self.slot // self.SLOTS_PER_DAY + 1) * self.SLOTS_PER_DAY

    def day_plan(self, timed: int, replays: int) -> list[tuple[int, bool]]:
        """(slot, followed by a replay) for the timed ticks of the rest of
        the next slot's day: one tick at a seeded slot in each of
        ``timed`` equal stretches; one tick at random in each of
        ``replays`` equal groups of them is replayed. Every day has the
        same number of ticks and replays, spread the same way over it,
        since a tick's cost grows with the files its day already holds."""
        first = self.slot
        width = (self.day_end() - first) // timed
        slots = first + width * np.arange(timed) + self.r.integers(0, width, timed)
        group = timed // replays
        again = set((group * np.arange(replays) + self.r.integers(0, group, replays)).tolist())
        return [(int(s), i in again) for i, s in enumerate(slots)]

    def land(self, bronze_path: str, upto: int) -> int:
        """Write the bars of slots [next slot, ``upto``) into bronze as
        separate per-tick, per-coin files, as untimed ``ingest_tick``
        calls would have left them. Returns files written."""
        n = 0
        for slot in range(self.slot, upto):
            for coin, b in self._bars_at(slot).items():
                d = os.path.join(bronze_path, f"period_date={b['time_period_start'][:10]}",
                                 f"coin={coin}")
                os.makedirs(d, exist_ok=True)
                _write_bars(os.path.join(d, f"part-{slot:08d}-landed.zstd.parquet"), [b])
                n += 1
        self.slot = max(self.slot, upto)
        return n

    def next_tick(self) -> None:
        """Advance to the next slot: the fetcher now serves its bars."""
        self.current = self._bars_at(self.slot)
        self.slot += 1

    def day_of(self, slot: int) -> dt.date:
        return (self.t0 + dt.timedelta(minutes=5 * slot)).date()

    def fetcher(self, url: str, headers: dict) -> list[dict]:
        symbol = url.split("/")[-2]
        coin = next(c for c, s in COINS.items() if s == symbol)
        bar = dict(self.current[coin])
        del bar["coin"]
        return [bar]
