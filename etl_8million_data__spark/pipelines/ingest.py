"""Stage-2 parity: ingest pipeline (reference: details.py main(),
SURVEY.md §3.1).

CSV universe -> clean -> anti-join against the existing payload store
(skip-existing incremental ingest, details.py:277-281) -> fetch ->
append to the bronze store. The per-symbol loop becomes set-at-a-time;
the only sequential thing left is the per-partition rate limiter in
sources/fetch.py.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.sources.fetch import fetch_payloads
from etl_8million_data__spark.sources.symbols import clean_symbols, read_symbols_csv


def incremental_symbols(symbols: DataFrame, store: DataFrame | None) -> DataFrame:
    """Anti-join vs the sink snapshot (details.py:230-238,277-281)."""
    if store is None:
        return symbols
    existing = store.select("symbol").distinct()
    return symbols.join(existing, "symbol", "left_anti")


def ingest(
    spark: SparkSession,
    symbols_csv: str,
    store_path: str,
    fetch_fn: Callable[[str], dict],
    rate_limit_sleep: float = 0.0,
    loaded_csv_path: str | None = None,
) -> int:
    """Run one incremental ingest; returns the number of newly-loaded
    symbols, counted from the appended batch rather than by scanning
    the store. Append-only bronze store (details.py:207-227); the
    dedup-on-read happens downstream via last-writer-wins."""
    symbols = clean_symbols(read_symbols_csv(spark, symbols_csv))
    store = spark.read.parquet(store_path) if os.path.exists(store_path) else None
    # a small universe CSV is one input split; spread the to-fetch set
    # across the executor slots so the fetch (and everything downstream
    # of the bronze files it writes) parallelizes — per-slot rate
    # limiting in fetch_payloads keeps cluster QPS = slots/sleep
    todo = incremental_symbols(symbols, store).repartition(
        spark.sparkContext.defaultParallelism
    )
    fetched = fetch_payloads(todo, fetch_fn, rate_limit_sleep).withColumn(
        "loaded_at", F.current_timestamp()
    )
    # the batch is one row per new symbol (todo is distinct and not in
    # the store; quarantined {"_error": ...} payloads are rows too), so
    # its row count, observed during the append, is the new-symbol count
    batch = Observation()
    fetched.observe(batch, F.count(F.lit(1)).alias("rows")).write.mode("append").parquet(
        store_path
    )
    if loaded_csv_path:
        # CSV sink parity (symbols_loaded.csv, details.py:300-303);
        # coalesce(1) mirrors the single-file output
        spark.read.parquet(store_path).select("symbol").distinct().coalesce(1).write.mode(
            "overwrite"
        ).csv(loaded_csv_path, header=True)
    return batch.get["rows"]
