"""Seeded input generators for the benchmark.

Nothing here reads a file: every table, payload and batch is derived
from the ``--seed`` the benchmark was given, so two runs with one seed
see identical inputs and the program under test only ever sees the
generated data.

``write_star_schema`` writes the ten tables the query registry reads
(``sources.tables.TESTDATA_TABLES``), one parquet file each, with the
column names, types and value domains of the repository's testdata
(TESTDATA.md: a TPC-H-like star schema plus ``events``, ``documents``
and ``embeddings``). ``AlphaVantageFeed`` produces Alpha Vantage-shaped
JSON payloads for the ETL workload together with the row counts the
pipeline must append.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = ("a the data table query join agg sort filter scan window group "
          "hash key value row column line part order customer batch stream "
          "spark merge vector big small fast slow").split()

_DAY_US = 86_400 * 1_000_000


def _us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


_ORDER_LO = dt.datetime(1995, 1, 1)
_ORDER_HI = dt.datetime(2001, 8, 1)


def orders(rng: np.random.Generator, keys: np.ndarray,
           n_cust: int = 15_000) -> pa.Table:
    """``orders`` rows for the given keys (the versioned-store
    workload draws its appends and merge batches from here too)."""
    n = len(keys)
    days = rng.integers(0, (_ORDER_HI - _ORDER_LO).days + 1, n)
    return pa.table({
        "o_orderkey": keys.astype("int64"),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _ts(_us(_ORDER_LO) + days * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n)})


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (sf 0.01 gives
    15k orders and 60k lineitems, as the sf0.01 testdata has)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    n_docs = 500 if sf <= 0.01 else 5000
    n_emb = 500 if sf <= 0.01 else 2000
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})

    o_lo = _us(_ORDER_LO)
    o_days = (_ORDER_HI - _ORDER_LO).days
    out["orders"] = orders(rng, np.arange(n_ord, dtype="int64"), n_cust)
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(o_lo + rng.integers(1, o_days + 96, n_line)
                          * _DAY_US)})

    e_lo = _us(dt.datetime(2024, 1, 1))
    e_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt)) + e_lo
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts(e_ts),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 100)))
             for _ in range(n_docs)]
    for i in range(0, n_docs, 250):  # a few exact duplicates for dedup
        texts[(i + 7) % n_docs] = texts[i]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    vecs = rng.normal(size=(n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")})
    return out


def write_star_schema(seed: int, sf: float, out_dir: str) -> None:
    """Write ``star_schema`` as ``<out_dir>/<table>.parquet`` files
    (one file, one row group each — the testdata layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- Alpha Vantage-shaped payloads -----------------------------------------

_SERIES_KEYS = {"daily": "Time Series (Daily)",
                "intraday": "Time Series (5min)",
                "sma": "Technical Analysis: SMA"}
_OHLCV = ("1. open", "2. high", "3. low", "4. close", "5. volume")
_METRICS = {"daily": _OHLCV, "intraday": _OHLCV, "sma": ("SMA",)}
_STEP = {"daily": dt.timedelta(days=1), "intraday": dt.timedelta(minutes=5),
         "sma": dt.timedelta(minutes=60)}
# SMA keys use the seconds-less form the reference could not parse
_TIME_FMT = {"daily": "%Y-%m-%d", "intraday": "%Y-%m-%d %H:%M:%S",
             "sma": "%Y-%m-%d %H:%M"}
_BAD_VALUES = ("N/A", "", "12.3.4", "-", "None")
ENDPOINTS = ("daily", "intraday", "sma")


def _mix(*keys: int) -> int:
    """splitmix64 over a tuple of ints: a stateless, seeded hash, so a
    bar re-fetched in a later round carries identical values."""
    h = 0x9E3779B97F4A7C15
    for k in keys:
        h = (h ^ (k & 0xFFFFFFFFFFFFFFFF)) * 0xBF58476D1CE4E5B9
        h &= 0xFFFFFFFFFFFFFFFF
        h ^= h >> 31
        h = (h * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 29
    return h


class AlphaVantageFeed:
    """Rounds of (symbol × endpoint) payloads in the reference's steady
    state, shaped as Alpha Vantage returns them (a ``"Meta Data"``
    object, then the series): each payload is the compact window of
    ``window`` bars, of which ``new_per_round`` are new since the
    previous round. About
    ``bad_per_mille``/1000 metric values are malformed (the row is
    quarantined by the pipeline, on every re-fetch) and one symbol per
    endpoint per round gets a ``"Note"`` rate-limit envelope.
    ``replay_last`` gives the previous round's payloads again.

    The feed also tracks what an idempotent, watermarked append must
    store, so ``next_round`` also returns the exact report counts the
    pipeline must produce and ``latest`` the rows a read must return."""

    def __init__(self, seed: int, n_symbols: int = 9, window: int = 100,
                 new_per_round: int = 5, bad_per_mille: int = 10):
        self.seed = seed
        self.window = window
        self.new_per_round = new_per_round
        self.bad_per_mille = bad_per_mille
        rng = np.random.default_rng([seed, 7])
        letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
        syms: set[str] = set()
        while len(syms) < n_symbols:
            syms.add("".join(rng.choice(letters, 4)))
        self.symbols = sorted(syms)
        self.t0 = {ep: dt.datetime(2020, 1, 1) + dt.timedelta(
            days=int(rng.integers(0, 365))) for ep in ENDPOINTS}
        self._round = -1
        self._last: dict | None = None
        # (endpoint, symbol) -> highest stored bar index
        self.watermark: dict[tuple[str, str], int] = {}

    # -- bar content ------------------------------------------------------
    def time_str(self, ep: str, i: int) -> str:
        return (self.t0[ep] + i * _STEP[ep]).strftime(_TIME_FMT[ep])

    def values(self, ep: str, sym_idx: int, i: int) -> dict[str, str]:
        """Metric name → string value for one bar (malformed ones
        included)."""
        out = {}
        base = 20 + _mix(self.seed, sym_idx, 1) % 480
        for m_idx, metric in enumerate(_METRICS[ep]):
            h = _mix(self.seed, sym_idx, ENDPOINTS.index(ep), i, m_idx)
            if h % 1000 < self.bad_per_mille:
                out[metric] = _BAD_VALUES[(h >> 10) % len(_BAD_VALUES)]
            elif metric == "5. volume":
                out[metric] = str(10_000 + (h >> 12) % 5_000_000)
            else:
                out[metric] = f"{base + ((h >> 12) % 1_000_000) / 10_000:.4f}"
        return out

    def valid(self, ep: str, sym_idx: int, i: int) -> bool:
        return all(_mix(self.seed, sym_idx, ENDPOINTS.index(ep), i, m) % 1000
                   >= self.bad_per_mille for m in range(len(_METRICS[ep])))

    # -- rounds -----------------------------------------------------------
    def next_round(self) -> dict:
        """The next round's payloads and expected outcome:
        ``{"payloads": {(symbol, endpoint): json}, "expected":
        {endpoint: {rows_in, rows_quarantined, rejected_payloads,
        rows_appended}}}``."""
        self._round += 1
        r = self._round
        rng = np.random.default_rng([self.seed, 11, r])
        noted = {ep: int(rng.integers(0, len(self.symbols)))
                 for ep in ENDPOINTS}
        lo = r * self.new_per_round
        self._last = self._payloads(lo, noted)
        return {"payloads": self._last, "expected": self._apply(lo, noted)}

    def seed_history(self) -> dict[str, list[tuple]]:
        """Round 0 as already-stored history: per endpoint, the typed
        rows (columns of the pipeline's fact tables, in order) of every
        valid bar in the first window. Later rounds build on it."""
        self._round = 0
        out = {}
        for ep in ENDPOINTS:
            rows = []
            for s_idx, sym in enumerate(self.symbols):
                for i in range(self.window):
                    if not self.valid(ep, s_idx, i):
                        continue
                    t = (self.t0[ep] + i * _STEP[ep]).replace(
                        tzinfo=dt.timezone.utc)
                    v = self.values(ep, s_idx, i)
                    if ep == "sma":
                        rows.append((sym, t, Decimal(v["SMA"])))
                    else:
                        rows.append((sym, t.date() if ep == "daily" else t,
                                     *(Decimal(v[m]) for m in _OHLCV[:4]),
                                     int(v["5. volume"])))
                    self.watermark[(ep, sym)] = i
            out[ep] = rows
        return out

    def replay_last(self) -> dict:
        """The previous round's payloads, byte for byte (nothing in
        them is new, so an idempotent load appends nothing)."""
        return self._last

    def _payloads(self, lo: int, noted: dict[str, int]) -> dict:
        out = {}
        for ep in ENDPOINTS:
            for s_idx, sym in enumerate(self.symbols):
                if s_idx == noted[ep]:
                    doc = {"Note": "Thank you for using Alpha Vantage! Our "
                           "standard API rate limit is 25 requests per day."}
                else:
                    series = {self.time_str(ep, i): self.values(ep, s_idx, i)
                              for i in range(lo + self.window - 1, lo - 1, -1)}
                    doc = {"Meta Data": self._meta(ep, sym, lo),
                           _SERIES_KEYS[ep]: series}
                out[(sym, ep)] = json.dumps(doc)
        return out

    def _meta(self, ep: str, sym: str, lo: int) -> dict:
        """The ``"Meta Data"`` object Alpha Vantage puts before every
        series, in its per-endpoint form (SMA numbers it, with colons,
        and gives the time period as a number)."""
        last = self.time_str(ep, lo + self.window - 1)
        if ep == "sma":
            return {"1: Symbol": sym,
                    "2: Indicator": "Simple Moving Average (SMA)",
                    "3: Last Refreshed": last, "4: Interval": "60min",
                    "5: Time Period": 200, "6: Series Type": "close",
                    "7: Time Zone": "US/Eastern"}
        info = ("Daily Prices (open, high, low, close) and Volumes"
                if ep == "daily" else
                "Intraday (5min) open, high, low, close prices and volume")
        meta = {"1. Information": info, "2. Symbol": sym,
                "3. Last Refreshed": last}
        if ep == "intraday":
            meta["4. Interval"] = "5min"
        meta["4. Output Size" if ep == "daily" else "5. Output Size"] = (
            "Compact")
        meta["5. Time Zone" if ep == "daily" else "6. Time Zone"] = (
            "US/Eastern")
        return meta

    def _apply(self, lo: int, noted: dict[str, int]) -> dict:
        """Advance the stored-state model by one round; returns the
        per-endpoint report counts the pipeline must produce."""
        exp = {}
        for ep in ENDPOINTS:
            e = {"rows_in": 0, "rows_quarantined": 0, "rejected_payloads": 1,
                 "rows_appended": 0}
            for s_idx, sym in enumerate(self.symbols):
                if s_idx == noted[ep]:
                    continue
                wm = self.watermark.get((ep, sym), -1)
                for i in range(lo, lo + self.window):
                    if self.valid(ep, s_idx, i):
                        e["rows_in"] += 1
                        if i > wm:
                            e["rows_appended"] += 1
                            self.watermark[(ep, sym)] = i
                    else:
                        e["rows_quarantined"] += 1
            exp[ep] = e
        return exp

    def latest(self, ep: str, sym: str, n: int) -> list[tuple[str, dict]]:
        """The ``n`` newest stored bars of one (endpoint, symbol), newest
        first, as (time string, metric values)."""
        s_idx = self.symbols.index(sym)
        out = []
        i = self.watermark.get((ep, sym), -1)
        while i >= 0 and len(out) < n:
            if self.valid(ep, s_idx, i):
                out.append((self.time_str(ep, i), self.values(ep, s_idx, i)))
            i -= 1
        return out
