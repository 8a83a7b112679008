"""Reference-pipeline parity tests on adversarial fixtures
(FIXTURES.md §A2 — every case observed/handled in the reference)."""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_8million_data__spark.pipelines.financials import (
    build_financials_fact,
    unpivot_financials,
)
from etl_8million_data__spark.pipelines.ingest import ingest
from etl_8million_data__spark.pipelines.quotes import quote_snapshot
from etl_8million_data__spark.pipelines.summary import normalize_summary
from etl_8million_data__spark.sources.symbols import clean_symbols, resolve_column

GOOD_PAYLOAD = {
    "info": {
        # longName missing -> shortName coalesce (Financilas.py:76)
        "shortName": "Acme Corp",
        "currency": "USD",
        "financialCurrency": "EUR",
        "sector": "Tech",
        "industry": "Software",
        "website": "https://acme.example",
        "fullTimeEmployees": "17,000",  # dirty string (Summary.py:186-190)
        "longBusinessSummary": (
            "Acme  Corp, formerly known as Biz Widgets Inc, builds things. "
            "The company was founded in 1999 and is headquartered in "
            "Springfield, IL, United States of America. It ships software."
        ),
    },
    "cashflow": {
        "yearly": {
            "2024-12-31 00:00:00": {"Free Cash Flow": 10.5, "Capex": -2.0},
            "not-a-date": {"Free Cash Flow": 1.0},  # skipped (Financilas.py:85-92)
        },
        "quarterly": {"2024-09-30": {"Free Cash Flow": 3.25}},
    },
    "balancesheet": {
        "yearly": {"2024-12-31": {"": 1.0, "Total Assets": 100.0}},  # ''-metric skipped
        "quarterly": {},
    },
    "incomestatement": {
        "yearly": {"2024-12-31": {"Net Income": None}},  # NULL value kept
        # quarterly absent entirely -> no rows
    },
}


@pytest.fixture(scope="module")
def raw_payloads(spark):
    rows = [
        ("ACME", json.dumps(GOOD_PAYLOAD), "2025-01-02 03:04:05"),
        ("BROKEN", "{not valid json", "2025-01-02 03:04:05"),  # parse fallback -> no rows
        ("EMPTY", json.dumps({"info": {"longName": "Empty Inc"}}), "2025-01-02 03:04:05"),
    ]
    return spark.createDataFrame(rows, "symbol string, payload string, loaded_at string").withColumn(
        "loaded_at", F.to_timestamp("loaded_at")
    )


def test_unpivot_financials_adversarial(spark, raw_payloads):
    fact = unpivot_financials(raw_payloads)
    rows = {(r.stock, r.statement_type, r.metric, str(r.date)): r for r in fact.collect()}
    # good rows present with correct derivations
    r = rows[("ACME", "CF", "Free Cash Flow", "2024-12-31")]
    assert r.value == 10.5 and r.calendar_year == 2024 and r.period == 4
    assert r.yf_name == "Acme Corp" and r.stockcurrency == "USD" and r.financialcurrency == "EUR"
    q = rows[("ACME", "CF", "Free Cash Flow", "2024-09-30")]
    assert q.period == 3  # quarterly -> quarter(date) (Financilas.py:94)
    # NULL metric value kept as NULL row (Financilas.py:101-102)
    assert rows[("ACME", "IS", "Net Income", "2024-12-31")].value is None
    # skips: unparseable date, empty metric name, malformed JSON symbol
    assert not any(k[0] == "BROKEN" for k in rows)
    assert not any(k[2] == "" for k in rows)
    assert not any("not-a-date" in str(k) for k in rows)
    # absent quarterly folder emits nothing
    assert not any(k[1] == "IS" and "2024-09" in k[3] for k in rows)
    # fan-out count: CF y(2)+q(1) + BS y(1) + IS y(1) = 5
    assert len(rows) == 5


def test_unpivot_double_encoded_payload_recovered(spark, raw_payloads):
    """Financilas.py:154-157 retry parity: a double-encoded payload
    (json.dumps applied twice — the exact case the reference's
    strip('"') + unicode_escape retry was written for) must yield the
    SAME fact rows as its plain-encoded twin, not silently zero rows."""
    rows = [
        ("PLAIN", json.dumps(GOOD_PAYLOAD), "2025-01-02 03:04:05"),
        ("DOUBLE", json.dumps(json.dumps(GOOD_PAYLOAD)), "2025-01-02 03:04:05"),
        # double-encoded garbage: both stages fail -> {} -> no rows
        ("DGARBAGE", json.dumps("still not json"), "2025-01-02 03:04:05"),
    ]
    raw = spark.createDataFrame(
        rows, "symbol string, payload string, loaded_at string"
    ).withColumn("loaded_at", F.to_timestamp("loaded_at"))
    fact = {(r.stock, r.statement_type, r.metric, str(r.date)): r for r in unpivot_financials(raw).collect()}
    plain = {k[1:]: (v.value, v.yf_name, v.calendar_year, v.period) for k, v in fact.items() if k[0] == "PLAIN"}
    double = {k[1:]: (v.value, v.yf_name, v.calendar_year, v.period) for k, v in fact.items() if k[0] == "DOUBLE"}
    assert plain == double and len(plain) == 5
    assert not any(k[0] == "DGARBAGE" for k in fact)


def test_financials_upsert_last_writer_wins(spark, raw_payloads):
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/financials"
        build_financials_fact(raw_payloads, path)
        v1 = spark.read.parquet(path)
        assert v1.count() == 5
        # re-load with an updated payload value at a later loaded_at
        upd = dict(GOOD_PAYLOAD)
        upd["cashflow"] = {"yearly": {"2024-12-31": {"Free Cash Flow": 99.0}}, "quarterly": {}}
        raw2 = spark.createDataFrame(
            [("ACME", json.dumps(upd), "2025-02-01 00:00:00")],
            "symbol string, payload string, loaded_at string",
        ).withColumn("loaded_at", F.to_timestamp("loaded_at"))
        build_financials_fact(raw2, path)
        v2 = spark.read.parquet(path)
        got = {
            (r.stock, r.statement_type, r.metric, str(r.date)): r.value for r in v2.collect()
        }
        assert got[("ACME", "CF", "Free Cash Flow", "2024-12-31")] == 99.0  # updated
        assert got[("ACME", "BS", "Total Assets", "2024-12-31")] == 100.0  # untouched
        assert v2.count() == 5


def test_normalize_summary_enrichment(spark, raw_payloads):
    dim = {r.stock: r for r in normalize_summary(raw_payloads).collect()}
    a = dim["ACME"]
    assert a.yf_name == "Acme Corp"
    assert a.employees == 17000
    assert a.founded_year == 1999
    assert a.former_name == "Biz Widgets Inc"
    assert (a.city, a.state, a.country) == ("Springfield", "IL", "United States of America")
    assert a.currency == "USD"
    assert "Acme Corp," in a.long_summary and "  " not in a.long_summary
    # malformed payload -> all-null profile, row still present (offset-loop parity)
    assert dim["BROKEN"].yf_name is None
    assert dim["EMPTY"].yf_name == "Empty Inc"


def test_normalize_summary_symbol_fallback(spark):
    """Summary.py:68-89,153-154 parity: when the table has no symbol
    column (offset-loop mode), stock derives from info.symbol, then
    info.ticker."""
    rows = [
        (json.dumps({"info": {"symbol": "FROMSYM", "longName": "Sym Co"}}),),
        (json.dumps({"info": {"ticker": "FROMTICK", "longName": "Tick Co"}}),),
        (json.dumps({"info": {"longName": "Anon Co"}}),),
    ]
    raw = spark.createDataFrame(rows, "payload string")
    dim = {r.stock: r for r in normalize_summary(raw).collect()}
    assert dim["FROMSYM"].yf_name == "Sym Co"
    assert dim["FROMTICK"].yf_name == "Tick Co"
    assert dim[None].yf_name == "Anon Co"
    # null symbol value in a PRESENT column also falls back (Summary.py:154)
    raw2 = spark.createDataFrame(
        [(None, json.dumps({"info": {"symbol": "S2", "longName": "Two"}}))],
        "symbol string, payload string",
    )
    assert normalize_summary(raw2).collect()[0].stock == "S2"


def test_quote_snapshot_epoch_and_coalesce(spark):
    payload = {
        "info": {
            "shortName": "Q Corp",
            "currency": "USD",
            # lastPrice missing -> regularMarketPrice coalesce (pyc fetch_row)
            "regularMarketPrice": 12.5,
            "previousClose": 12.0,
            "volume": 123456,
            "exDividendDate": 1718841600,  # 2024-06-20 UTC
        }
    }
    raw = spark.createDataFrame([("Q", json.dumps(payload))], "symbol string, payload string")
    r = quote_snapshot(raw).collect()[0]
    assert r.name == "Q Corp" and r.price == 12.5 and r.volume == 123456
    assert str(r.ex_dividend_date) == "2024-06-20"
    assert r.earnings_ts is None


def test_clean_symbols_and_sniffing(spark):
    df = spark.createDataFrame(
        [(" AAPL ",), ("AAPL",), ("",), (None,), ("MSFT",)], "Ticker string"
    )
    got = sorted(r.symbol for r in clean_symbols(df).collect())
    assert got == ["AAPL", "MSFT"]
    assert resolve_column(df, ("symbol", "ticker")) == "Ticker"
    # fallback-to-first-column parity (details.py:47-51)
    odd = spark.createDataFrame([("X",)], "weird string")
    assert resolve_column(odd, ("symbol",)) == "weird"


def test_ingest_incremental_skip_existing(spark):
    with tempfile.TemporaryDirectory() as d:
        csv = f"{d}/symbols.csv"
        with open(csv, "w") as f:
            f.write("symbol\nAAA\nBBB\n")
        store = f"{d}/payloads"

        def fetch(sym: str) -> dict:
            # runs on executors: assertions must go via the store
            if sym == "BBB":
                raise RuntimeError("rate limited")
            return {"info": {"longName": f"{sym} Inc"}}

        n = ingest(spark, csv, store, fetch)
        assert n == 2
        snap = {r.symbol: r.payload for r in spark.read.parquet(store).collect()}
        assert sorted(snap) == ["AAA", "BBB"]
        assert json.loads(snap["BBB"]) == {"_error": "rate limited"}  # quarantined
        assert json.loads(snap["AAA"])["info"]["longName"] == "AAA Inc"

        # second run: anti-join skips everything (details.py:277-281) —
        # the store must be unchanged (no new rows appended); the
        # symbols_loaded.csv sink still lists the whole store
        loaded = f"{d}/symbols_loaded"
        n2 = ingest(spark, csv, store, fetch, loaded_csv_path=loaded)
        assert n2 == 0
        assert spark.read.parquet(store).count() == 2
        got = spark.read.csv(loaded, header=True).collect()
        assert sorted(r.symbol for r in got) == ["AAA", "BBB"]


def test_quote_price_coalesce_priority_property(spark):
    """Pin the pyc-recovered coalesce priority for the price field
    (lastPrice -> last_price -> regularMarketPrice -> currentPrice)
    against adversarially-shuffled payloads, so the pyc-derived
    semantics cannot silently drift: for EVERY subset of the four
    source keys, in reverse-priority JSON key order (insertion order
    must not matter), and additionally with the highest-priority
    present key set to JSON null (coalesce must skip nulls and fall
    through), the picked value is exactly the first non-null key in
    the priority chain."""
    import itertools

    prio = ["lastPrice", "last_price", "regularMarketPrice", "currentPrice"]
    vals = {k: float(100 * (i + 1)) for i, k in enumerate(prio)}
    rows, expected = [], {}
    rid = 0
    for r in range(len(prio) + 1):
        for subset in itertools.combinations(prio, r):
            # adversarial insertion order: reverse priority
            info = {k: vals[k] for k in reversed(subset)}
            info["shortName"] = "x"
            rows.append((f"s{rid}", json.dumps({"info": info})))
            expected[f"s{rid}"] = next((vals[k] for k in prio if k in subset), None)
            rid += 1
            if subset:
                # highest-priority present key nulled -> falls through
                info2 = {k: (None if k == subset[0] else vals[k]) for k in reversed(subset)}
                info2["shortName"] = "x"
                rows.append((f"s{rid}", json.dumps({"info": info2})))
                expected[f"s{rid}"] = next(
                    (vals[k] for k in prio if k in subset[1:]), None
                )
                rid += 1
    raw = spark.createDataFrame(rows, "symbol string, payload string")
    got = {r.symbol: r.price for r in quote_snapshot(raw).collect()}
    assert got == expected
