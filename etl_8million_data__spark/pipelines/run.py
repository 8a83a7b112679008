"""End-to-end pipeline driver: the reference's five imperative scripts
as one three-step DAG (SURVEY.md §3.4) — ingest (CSV -> bronze payload
store) then fan out to the fact / dimension / quote builders.

The fact and the dimension are derived from only the bronze rows
loaded after the warehouse's ``loaded_at`` watermark (``fresh_rows``),
so a d-symbol delta parses d payloads and rewrites only the fact
partitions those symbols hash to — the reference's batch upsert of
new symbols only (Financilas.py:175-182). A warehouse without the
watermark (a cold run, or one written before it existed) derives
everything. The quote snapshot is a head-N slice of the whole store
and is rewritten every pass.

This is the only driver-side control flow the rebuild keeps: stage
ordering. Everything inside a stage is a declarative plan; re-running
the whole DAG is idempotent (incremental anti-join skips loaded
symbols, keyed upserts are last-writer-wins, and the watermark moves
only after both sinks commit, so a crash between them re-derives the
same rows on the next run).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.pipelines.financials import build_financials_fact
from etl_8million_data__spark.pipelines.ingest import ingest
from etl_8million_data__spark.pipelines.quotes import quote_snapshot
from etl_8million_data__spark.pipelines.summary import build_summary_dim

WATERMARK_FILE = "_loaded_at_watermark"


def fresh_rows(raw: DataFrame, warehouse: str) -> tuple[DataFrame, int, int | None]:
    """The rows of the bronze snapshot ``raw`` whose ``loaded_at`` is
    after ``warehouse``'s watermark (all rows when it has none), their
    count, and the watermark they advance it to (None when no row is
    fresh). The watermark is epoch microseconds — ``unix_micros`` /
    ``timestamp_micros`` — so it does not depend on the Python process's
    or the session's time zone. One job, reading only ``loaded_at``."""
    path = os.path.join(warehouse, WATERMARK_FILE)
    fresh = raw
    if os.path.exists(path):
        with open(path) as f:
            since = int(f.read())
        fresh = raw.filter(F.col("loaded_at") > F.timestamp_micros(F.lit(since)))
    n, until = fresh.agg(F.count(F.lit(1)), F.max(F.unix_micros("loaded_at"))).first()
    return fresh, n, until


def advance_watermark(warehouse: str, micros: int) -> None:
    """Durably replace ``warehouse``'s watermark (write, fsync, rename).
    Call it only after every sink derived from the fresh rows has
    committed."""
    path = os.path.join(warehouse, WATERMARK_FILE)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        f.write(str(micros))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def run_all(
    spark: SparkSession,
    symbols_csv: str,
    warehouse: str,
    fetch_fn: Callable[[str], dict],
    quote_head: int | None = 2,
) -> dict[str, int]:
    """Run ingest -> financials fact -> summary dim -> quote snapshot
    under ``warehouse``; returns row counts per table. ``quote_head``
    mirrors the reference's first-N-symbols quote slice (pyc
    load_symbols head(2)); None quotes every symbol."""
    bronze = os.path.join(warehouse, "yahoo_financials")
    fact_path = os.path.join(warehouse, "financials")
    dim_path = os.path.join(warehouse, "summary")
    quotes_path = os.path.join(warehouse, "yahoo_finance_csv")

    n_new = ingest(spark, symbols_csv, bronze, fetch_fn)
    raw = spark.read.parquet(bronze)

    fresh, n_fresh, until = fresh_rows(raw, warehouse)
    if n_fresh:
        build_financials_fact(fresh, fact_path)
        build_summary_dim(fresh, dim_path)
        advance_watermark(warehouse, until)

    q_src = raw.orderBy("symbol").limit(quote_head) if quote_head else raw
    quote_snapshot(q_src).coalesce(1).write.mode("overwrite").csv(
        quotes_path, header=True
    )

    return {
        "new_symbols": n_new,
        "financials": spark.read.parquet(fact_path).count(),
        "summary": spark.read.parquet(dim_path).count(),
        "quotes": spark.read.option("header", True).csv(quotes_path).count(),
    }
