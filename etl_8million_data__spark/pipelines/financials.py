"""Stage-3 parity: payload JSON store -> long/EAV financials fact
(reference: Financilas.py main(), SURVEY.md §3.2).

The reference loops symbols and runs a Python UDTF-style flatten
(normalize_financials, Financilas.py:71-107, ~1,400 rows out per
symbol). Here the whole stage is one declarative plan — an
explode-chain over Map columns (SURVEY.md §2.9) that Catalyst can
pushdown/prune through, and that parallelizes by payload row:

    from_json -> explode(statements×freqs) -> explode(dates)
      -> explode(metrics) -> scalar fns -> window-dedup upsert

Known, intended deviation: the reference *skips* dict/list-valued
metrics (Financilas.py:99-100); the typed Map schema turns those into
NULL values instead (row kept, value NULL) — indistinguishable from a
sanitized-NaN metric (Financilas.py:101-102), which also yields NULL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_8million_data__spark.functions.scalars import parse_date_prefix, period_code
from etl_8million_data__spark.operators.maintenance import swap_in
from etl_8million_data__spark.operators.partitioning import id_bucket
from etl_8million_data__spark.operators.upsert import upsert_parquet
from etl_8million_data__spark.schemas import (
    FINANCIALS_KEYS,
    PAYLOAD_SCHEMA,
    STATEMENT_FOLDERS,
)


def parse_payload(payload_col: Column) -> Column:
    """3-stage JSON parse parity (Financilas.py:147-165).

    The reference retries ``json.loads`` after
    ``strip('"') + unicode_escape`` — written for the double-encoded
    case (``json.dumps`` applied twice). Here that case is detected up
    front: a JSON *document* that starts with ``"`` must be a string
    literal, so it is decoded by wrapping —
    ``from_json('{"v":' || payload || '}', 'v string')`` — which gives
    full, spec-correct escape decoding (including ``\\uXXXX``)
    JVM-side; the normalized text then goes through the one schema
    parse. Anything failing both paths becomes a NULL struct — the
    explode chain emits no fact rows, matching the reference's ``{}``
    fallback.
    """
    # A JSON *document* can only start with '"' when the whole payload is
    # a string literal — i.e. the double-encoded case. Decode that string
    # first (tiny "v string" parse), then run ONE schema parse; keeping a
    # single PAYLOAD_SCHEMA parse keeps codegen/compile cost flat vs the
    # plain-parse baseline.
    inner = F.from_json(F.concat(F.lit('{"v":'), payload_col, F.lit("}")), "v string")["v"]
    normalized = F.when(F.ltrim(payload_col).startswith('"'), inner).otherwise(payload_col)
    return F.from_json(normalized, PAYLOAD_SCHEMA)


def _info(p: Column, key: str) -> Column:
    return F.try_element_at(p["info"], F.lit(key))


def yf_name(p: Column) -> Column:
    """longName or shortName or displayName or name (Financilas.py:74-76)."""
    return F.coalesce(
        _info(p, "longName"), _info(p, "shortName"), _info(p, "displayName"), _info(p, "name")
    )


def unpivot_financials(
    raw: DataFrame,
    symbol_col: str = "symbol",
    payload_col: str = "payload",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """One payload row -> ~1.4k EAV fact rows (normalize_financials
    parity, Financilas.py:71-107), as a pure explode chain.

    The (large) parse expression is materialized into one column first
    so the wide projection references it by name — ~10 copies of the
    two-stage from_json tree would bloat analysis/codegen time."""
    raw = raw.withColumn("__p", parse_payload(F.col(payload_col)))
    p = F.col("__p")
    stmts = F.array(
        *[
            F.struct(
                F.lit(code).alias("statement_type"),
                F.lit(freq).alias("freq"),
                p[folder][freq].alias("by_date"),
            )
            for folder, code in STATEMENT_FOLDERS.items()
            for freq in ("yearly", "quarterly")
        ]
    )
    extra = list(passthrough or [])
    e1 = raw.select(
        *extra,
        F.col(symbol_col).alias("stock"),
        yf_name(p).alias("yf_name"),
        _info(p, "currency").alias("stockcurrency"),
        _info(p, "financialCurrency").alias("financialcurrency"),
        F.explode(stmts).alias("s"),
    )
    # explode (not explode_outer): absent folders/freqs emit nothing,
    # matching the reference's .get(..., {}) skips
    e2 = e1.select(
        *extra,
        "stock",
        "yf_name",
        "stockcurrency",
        "financialcurrency",
        F.col("s.statement_type").alias("statement_type"),
        F.col("s.freq").alias("freq"),
        F.explode("s.by_date").alias("date_str", "metrics"),
    )
    e3 = e2.select(
        *extra,
        "stock",
        "yf_name",
        "statement_type",
        "freq",
        "stockcurrency",
        "financialcurrency",
        parse_date_prefix(F.col("date_str")).alias("date"),
        F.explode("metrics").alias("metric", "value"),
    )
    return (
        e3
        # unparseable date keys skip the row (Financilas.py:85-92);
        # empty metric names skip the row (Financilas.py:97-98)
        .filter(F.col("date").isNotNull() & (F.trim("metric") != ""))
        .select(
            *extra,
            "stock",
            "yf_name",
            "statement_type",
            F.trim("metric").alias("metric"),
            "stockcurrency",
            "financialcurrency",
            F.year("date").cast("int").alias("calendar_year"),
            period_code(F.col("freq"), F.col("date")).cast("int").alias("period"),
            F.col("value").cast("double").alias("value"),
            "date",
        )
    )


def migrate_legacy_fact(spark, sink_path: str, n_buckets: int = 64) -> bool:
    """One-time layout migration: a fact written under the pre-round-8
    ``statement_type``-only layout has no ``stock_bucket`` column, so
    the pruned partition upsert would fail on the unresolved column (or
    strand old directories). Detect that on read and rebuild the
    snapshot ONCE into the (statement_type, stock_bucket) layout via
    the atomic tmp+swap; subsequent upserts take the pruned path.
    Returns True when a migration ran. The bucket is the pure md5
    function of the stock string, so the derived column on the existing
    snapshot is identical to what ingest would have written."""
    import os
    import uuid

    if not os.path.isdir(sink_path):
        return False
    snap = spark.read.parquet(sink_path)
    if "stock_bucket" in snap.columns:
        return False
    migrated = (
        snap.withColumn("stock_bucket", id_bucket(F.col("stock"), n_buckets))
        .hint("rebalance", "statement_type", "stock_bucket")
        .localCheckpoint(eager=True)
    )
    tmp = f"{sink_path}.__tmp__{uuid.uuid4().hex[:8]}"
    migrated.write.mode("overwrite").partitionBy(
        "statement_type", "stock_bucket"
    ).parquet(tmp)
    swap_in(tmp, sink_path)
    return True


def build_financials_fact(
    raw: DataFrame,
    sink_path: str,
    symbol_col: str = "symbol",
    payload_col: str = "payload",
    loaded_at_col: str = "loaded_at",
    n_buckets: int = 64,
) -> None:
    """Full stage-3 run: unpivot + last-writer-wins upsert on the PK
    (stock, statement_type, metric, date), partitioned by
    (statement_type, stock_bucket) — statement_type is the
    low-cardinality query-aligned axis (SURVEY.md §4) and the md5
    stock bucket bounds the incremental-upsert blast radius.

    ``raw`` is the batch to merge, not necessarily the whole bronze
    store: ``pipelines.run.run_all`` passes only the payloads loaded
    after its watermark (``fresh_rows``), so a d-symbol delta rewrites
    at most 3*min(d, n_buckets) of the 3*n_buckets partition
    directories instead of the whole fact (REFERENCE_SCALE.md: 21 s ->
    7.3 s for a 10-symbol delta at the full 5,510-symbol scale, run by
    tools/reference_scale_run.py --resume on the same watermark). Raw
    stock is deliberately NOT a partition key: millions of tiny
    directories at scale."""
    has_ts = loaded_at_col in raw.columns
    fact = unpivot_financials(
        raw, symbol_col, payload_col, passthrough=[loaded_at_col] if has_ts else []
    )
    fact = (
        fact.withColumnRenamed(loaded_at_col, "_loaded_at")
        if has_ts
        else fact.withColumn("_loaded_at", F.current_timestamp())
    )
    fact = fact.withColumn("stock_bucket", id_bucket(F.col("stock"), n_buckets))
    migrate_legacy_fact(raw.sparkSession, sink_path, n_buckets)
    upsert_parquet(
        raw.sparkSession,
        fact,
        sink_path,
        keys=FINANCIALS_KEYS,
        order_col="_loaded_at",
        partition_by=["statement_type", "stock_bucket"],
    )
