"""Stage-5 parity: quote snapshot row per symbol (reference:
``yfinance.py`` recovered from ``__pycache__/yfinance.cpython-312.pyc``
— ``fetch_row`` consts show fast_info/info/history OHLCV + ~40 info
fields, with coalesce-across-sources and epoch->date conversions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_8million_data__spark.functions.scalars import epoch_to_date
from etl_8million_data__spark.pipelines.financials import _info, parse_payload


def _num(p: Column, *keys: str) -> Column:
    """Coalesce-across-sources numeric field (pyc fetch_row:
    lastPrice -> last_price -> regularMarketPrice etc.)."""
    return F.coalesce(*[_info(p, k) for k in keys]).try_cast("double")


def quote_snapshot(
    raw: DataFrame, symbol_col: str = "symbol", payload_col: str = "payload"
) -> DataFrame:
    """Wide quote projection: coalesce chains for price-like fields and
    epoch-seconds -> date for keys ending in ``Date`` (pyc _safe_get).

    Parse-once: the projection references the payload parse ~25 times;
    materializing it as a named column keeps the analyzed plan small
    and the from_json evaluation single (same win as financials)."""
    raw = raw.withColumn("__p", parse_payload(F.col(payload_col)))
    p = F.col("__p")
    return raw.select(
        F.col(symbol_col).alias("symbol"),
        F.coalesce(_info(p, "longName"), _info(p, "shortName")).alias("name"),
        _info(p, "exchange").alias("exchange"),
        _info(p, "currency").alias("currency"),
        _num(p, "open", "regularMarketOpen").alias("open"),
        _num(p, "dayHigh", "regularMarketDayHigh").alias("high"),
        _num(p, "dayLow", "regularMarketDayLow").alias("low"),
        _num(p, "lastPrice", "last_price", "regularMarketPrice", "currentPrice").alias("price"),
        _num(p, "previousClose", "regularMarketPreviousClose").alias("previous_close"),
        _num(p, "fiftyTwoWeekLow").alias("fifty_two_week_low"),
        _num(p, "fiftyTwoWeekHigh").alias("fifty_two_week_high"),
        _num(p, "marketCap").alias("market_cap"),
        _num(p, "beta").alias("beta"),
        _num(p, "trailingPE").alias("trailing_pe"),
        _num(p, "dividendYield").alias("dividend_yield"),
        _info(p, "volume").try_cast("bigint").alias("volume"),
        epoch_to_date(_info(p, "exDividendDate").try_cast("bigint")).alias("ex_dividend_date"),
        epoch_to_date(_info(p, "earningsTimestamp").try_cast("bigint")).alias("earnings_ts"),
    )
