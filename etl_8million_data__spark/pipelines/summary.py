"""Stage-4 parity: payload JSON store -> one-row-per-symbol profile
dimension with regex enrichment from prose (reference: Summary.py
main(), SURVEY.md §3.3).

The reference's per-row normalize_summary (Summary.py:149-221) becomes
a single wide projection of built-in expressions — every regex/
coalesce cascade is JVM-side (SURVEY.md §2.8 rows 2-5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_8million_data__spark.functions.scalars import (
    collapse_ws,
    digits_to_int,
    extract_former_name,
    extract_founded_year,
    headquarters_from_parts,
    headquarters_parts,
)
from etl_8million_data__spark.operators.upsert import upsert_parquet
from etl_8million_data__spark.pipelines.financials import _info, parse_payload


def normalize_summary(
    raw: DataFrame, symbol_col: str = "symbol", payload_col: str = "payload"
) -> DataFrame:
    """Wide-record projection + prose enrichment (Summary.py:149-221):

    - name coalesce longName/shortName/displayName (Summary.py:156-173)
    - summary text: info.longBusinessSummary or info.description,
      whitespace-collapsed, 200k cap (Summary.py:110-115)
    - regex extraction: founded year / former name / headquarters
      city-state-country with 1/2/3+-part positional split
      (Summary.py:118-147)
    - JSON-value-over-regex precedence for city/state/country
      (Summary.py:201-204: ``city or s_city``)
    - employees: digit-strip -> int (Summary.py:186-198)
    - symbol fallback (Summary.py:68-89,153-154): when the table lacks a
      symbol column (or the value is NULL), derive it from info.symbol /
      info.ticker inside the payload
    - ``updated_at``: the current timestamp, stamped on every row of
      ``raw`` (Summary.py:220)
    """
    sym_hint = (
        F.col(symbol_col) if symbol_col in raw.columns else F.lit(None).cast("string")
    )
    # Stage each expensive expression as a named column before the wide
    # projection: __p (two-stage JSON parse) is referenced ~15 times,
    # __prose 5 times, and the headquarters parts array 6 times.  Without
    # the staging every reference re-embeds the whole subtree — the
    # Column tree alone took ~4.4s of driver time to build via py4j and
    # the generated code duplicated each regex ~10x.  CollapseProject
    # keeps non-cheap multi-referenced aliases staged, so these survive
    # as stacked (codegen-fused) Projects.
    raw = raw.withColumn("__p", parse_payload(F.col(payload_col)))
    p = F.col("__p")
    raw = raw.withColumn(
        "__prose",
        collapse_ws(F.coalesce(_info(p, "longBusinessSummary"), _info(p, "description"))),
    )
    prose = F.col("__prose")
    raw = raw.withColumn("__hq", headquarters_parts(prose))
    s_city, s_state, s_country = headquarters_from_parts(F.col("__hq"))
    return raw.select(
        F.coalesce(sym_hint, _info(p, "symbol"), _info(p, "ticker")).alias("stock"),
        F.coalesce(
            _info(p, "longName"), _info(p, "shortName"), _info(p, "displayName")
        ).alias("yf_name"),
        prose.alias("long_summary"),
        _info(p, "sector").alias("sector"),
        _info(p, "industry").alias("industry"),
        _info(p, "website").alias("website"),
        digits_to_int(_info(p, "fullTimeEmployees")).alias("employees"),
        F.coalesce(_info(p, "city"), s_city).alias("city"),
        F.coalesce(_info(p, "state"), _info(p, "province"), s_state).alias("state"),
        F.coalesce(_info(p, "country"), s_country).alias("country"),
        F.coalesce(_info(p, "currency"), _info(p, "financialCurrency")).alias("currency"),
        extract_founded_year(prose).alias("founded_year"),
        extract_former_name(prose).alias("former_name"),
        F.current_timestamp().alias("updated_at"),
    )


def build_summary_dim(
    raw: DataFrame,
    sink_path: str,
    symbol_col: str = "symbol",
    payload_col: str = "payload",
) -> None:
    """Upsert on PK(stock) (Summary.py:223-249 ON DUPLICATE KEY).

    ``pipelines.run.run_all`` passes only the payloads loaded after its
    watermark, so only those symbols are re-derived and get a new
    ``updated_at``. Deviation: the reference re-reads every payload on
    each run and re-stamps every symbol (Summary.py:220,279-303;
    SURVEY.md §3.4)."""
    dim = normalize_summary(raw, symbol_col, payload_col)
    upsert_parquet(raw.sparkSession, dim, sink_path, keys=["stock"], order_col="updated_at")
