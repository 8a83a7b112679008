"""Seeded input generators. The engine under test only ever sees what
these return: parquet tables in the schema the query registry reads, or
a universe CSV plus a ``fetch_fn``. The same seed gives the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- query-mix tables ---------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _ts(rng: np.random.Generator, n: int, start: str, days: int, sub_day: bool) -> pa.Array:
    base = np.datetime64(start, "us")
    span = days * 86_400_000_000
    off = rng.integers(0, span, n)
    if not sub_day:
        off -= off % 86_400_000_000
    return pa.array(base + off.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """The ten registry tables (``catalog.TABLES``) at scale ``sf``:
    TPC-H-shaped star schema, an events stream, a small text corpus with
    planted near-duplicates and unit-norm 64-dim embeddings."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo: float, hi: float, n: int) -> pa.Array:
        return pa.array(np.round(rng.uniform(lo, hi, n), 2), f64)

    def pick(options, n: int) -> pa.Array:
        return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)], s)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pick([f"{a} {n}" for a in _ADJ for n in _NOUN], n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 1) for i in range(n_part)], f64),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2404, sub_day=False),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _ts(rng, n_line, "1995-01-02", 2498, sub_day=False),
    })
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    ts = np.sort(np.asarray(_ts(rng, n_ev, "2024-01-01", 30, sub_day=True)))
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    })
    n_docs = max(int(50_000 * sf), 50)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: a prefix of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(words[: max(8, len(words) * 3 // 4)] + ["dup"]))
        else:
            words = np.asarray(_WORDS)[rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
            texts.append(" ".join(w for w in words if w != "dup"))
    langs = np.asarray(["en"] * 3 + ["zh", "es", "de", "fr"], dtype=object)
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_docs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), i32),
    })


# --- reference ETL inputs -------------------------------------------------

FOLDERS = ("cashflow", "balancesheet", "incomestatement")
YEARLY_DATES = tuple(f"{y}-12-31" for y in (2021, 2022, 2023, 2024))
# day 30, so no quarter end collides with a yearly key on the fact's PK
QUARTERLY_DATES = tuple(f"{y}-{m:02d}-30" for y in range(2020, 2025) for m in (3, 6, 9, 12))
N_METRICS = 20
ROWS_PER_SYMBOL = len(FOLDERS) * (len(YEARLY_DATES) + len(QUARTERLY_DATES)) * N_METRICS

_CITIES = (("Santa Clara", "CA"), ("Austin", "TX"), ("Boston", "MA"), ("Denver", "CO"))
_SECTORS = ("Technology", "Healthcare", "Energy", "Industrials", "Utilities")


def symbol_name(i: int) -> str:
    name = ""
    i += 26 * 26  # at least three letters
    while i:
        i, r = divmod(i, 26)
        name = chr(65 + r) + name
    return name


FACT_BUCKETS = 64  # build_financials_fact's default n_buckets
USED_BUCKETS = 16


def fact_bucket(symbol: str) -> int:
    """``pipelines.financials.stock_bucket`` in Python: the fact
    partition a symbol's rows land in."""
    return int(hashlib.md5(symbol.encode()).hexdigest()[:8], 16) % FACT_BUCKETS


def etl_symbols(seed: int, n_base: int, n_delta: int) -> tuple[list[str], list[str]]:
    """Seeded symbol names spread evenly over ``USED_BUCKETS`` fact
    buckets, so every seed loads and rewrites the same number of
    partitions. The delta's symbols land in buckets the base already
    uses, as most of a large universe's new symbols would."""
    rng = random.Random(seed)
    buckets = rng.sample(range(FACT_BUCKETS), USED_BUCKETS)
    names: list[str] = []
    while len(names) < n_base + n_delta:
        name = symbol_name(rng.randrange(26**5))
        if fact_bucket(name) == buckets[len(names) % USED_BUCKETS] and name not in names:
            names.append(name)
    return names[:n_base], names[n_base:]


def write_universe(path: str, symbols: list[str]) -> None:
    """Universe CSV as the reference scrapes it: quoted company names
    with commas, plus one duplicate, one padded duplicate and one empty
    symbol for the cleaning step to drop."""
    rows = [f'{s},"{s.title()} Holdings, Inc."' for s in symbols]
    if symbols:
        rows += [f'{symbols[0]},"dup"', f'"  {symbols[-1]} ","padded dup"', ',"blank"']
    with open(path, "w") as f:
        f.write("symbol,company\n" + "\n".join(rows) + "\n")


class FetchFn:
    """Deterministic stand-in for the reference's per-symbol API call.

    Symbols in ``failing`` raise, which ingest quarantines as an
    ``{"_error": ...}`` payload. Symbols in ``double`` come back
    JSON-encoded twice, which takes ``parse_payload``'s second path.
    Every good payload carries ``ROWS_PER_SYMBOL`` facts and prose with
    founded / formerly-known-as / headquarters clauses. Content is a
    function of seed and symbol, so a retried task sees the same answer."""

    def __init__(self, seed: int, failing, double):
        self.seed, self.failing, self.double = seed, frozenset(failing), frozenset(double)

    def __call__(self, symbol: str):
        if symbol in self.failing:
            raise RuntimeError(f"rate limited: {symbol}")
        digest = hashlib.sha256(f"{self.seed}:{symbol}".encode()).digest()
        rng = random.Random(int.from_bytes(digest[:8], "big"))
        city, state = _CITIES[rng.randrange(len(_CITIES))]
        prose = (
            f"{symbol.title()} Corp. designs   systems for data   platforms. "
            f"The company was founded in {rng.randrange(1900, 2020)} and was "
            f"formerly known as {symbol.title()} Labs, Inc. It is headquartered "
            f"in {city}, {state}, United States of America."
        )

        def statement() -> dict:
            def block(dates, sep):
                return {
                    d + sep: {
                        f"Metric {m:02d}": (None if rng.random() < 0.02 else round(rng.uniform(-1e9, 1e9), 2))
                        for m in range(N_METRICS)
                    }
                    for d in dates
                }

            return {"yearly": block(YEARLY_DATES, " 00:00:00"), "quarterly": block(QUARTERLY_DATES, "")}

        payload = {
            "info": {
                "longName": f"{symbol.title()} Holdings, Inc.",
                "shortName": symbol,
                "currency": "USD",
                "financialCurrency": "USD",
                "sector": _SECTORS[rng.randrange(len(_SECTORS))],
                "fullTimeEmployees": f"{rng.randrange(10, 90)},{rng.randrange(100, 999)}",
                "longBusinessSummary": prose,
                "exchange": "NMS",
                "open": rng.uniform(10, 500),
                "dayHigh": rng.uniform(10, 500),
                "regularMarketPrice": rng.uniform(10, 500),
                "marketCap": rng.randrange(10**8, 10**12),
                "volume": rng.randrange(10**4, 10**8),
                "exDividendDate": rng.randrange(1_600_000_000, 1_750_000_000),
            },
            **{folder: statement() for folder in FOLDERS},
        }
        return json.dumps(payload) if symbol in self.double else payload
