"""Reference-scale evidence run: reproduce the reference's headline
artifact — the ~7.9M-row `financials` EAV fact over 5,510 symbols
(`Total.PNG`: SELECT COUNT(*) -> 7,891,303; BASELINE.md) — through this
engine's stage-3 pipeline, and time it.

Synthesizes a bronze payload store shaped exactly like the reference's
`yahoo_financials` table (details.py:139-153 payload nesting): 5,510
symbols x [3 statement folders x (4 yearly + 20 quarterly dates) x 20
metrics] = 1,440 fact rows/symbol ~= the reference's observed ~1,432
fan-out. Payload JSON is generated distributed (mapInPandas, one
partition per core) so the probe measures the engine, not a
driver-side generator loop.

Writes REFERENCE_SCALE.md. Run: python tools/reference_scale_run.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_8million_data__spark import profile
from etl_8million_data__spark.pipelines.financials import build_financials_fact
from etl_8million_data__spark.session import get_spark

N_SYMBOLS = 5_510  # stocks_full.csv universe (BASELINE.md)
N_METRICS = 20
YEARLY_DATES = [f"{y}-12-31" for y in (2021, 2022, 2023, 2024)]
QUARTERLY_DATES = [
    f"{y}-{m:02d}-30" for y in (2020, 2021, 2022, 2023, 2024) for m in (3, 6, 9, 12)
]
FOLDERS = ("cashflow", "balancesheet", "incomestatement")


def _payload_dict(sym: str) -> dict:
    h = sum(ord(c) for c in sym)

    def stmt() -> dict:
        return {
            "yearly": {
                d: {f"Metric {i:02d}": float(h * 31 + i) for i in range(N_METRICS)}
                for d in YEARLY_DATES
            },
            "quarterly": {
                d: {f"Metric {i:02d}": float(h * 17 + i) for i in range(N_METRICS)}
                for d in QUARTERLY_DATES
            },
        }

    return {
        "info": {"longName": f"{sym} Inc", "currency": "USD", "financialCurrency": "USD"},
        **{f: stmt() for f in FOLDERS},
    }


def _payload(sym: str) -> str:
    return json.dumps(_payload_dict(sym))


def _gen(iterator):
    import pandas as pd

    for pdf in iterator:
        yield pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "payload": [_payload(s) for s in pdf["symbol"]],
                "loaded_at": pd.Timestamp("2025-08-15 09:23:00"),
            }
        )


def run_resume(
    spark, workdir: str, delta: int = 0, n_symbols: int = N_SYMBOLS
) -> dict:
    """One RESUMABLE pass of the full reference pipeline against a
    persistent workdir — the cold-metastore shape the reference actually
    runs (its multi-day ingest is resumable BECAUSE of the skip-existing
    anti-join, details.py:277-281, and its stage 3 upserts batches into
    the fact, Financilas.py:175-182):

      stage 1/2: universe CSV -> clean -> anti-join vs the bronze store
                 -> fetch ONLY the missing symbols -> append
      stage 3:   unpivot + upsert ONLY bronze rows newer than the
                 workdir's loaded_at watermark (``pipelines.run``'s
                 ``fresh_rows`` / ``advance_watermark``, the one
                 ``run_all`` uses); zero new rows -> the upsert is
                 skipped outright (no fact read, no write)

    A second invocation over the same workdir is therefore a provable
    no-op end-to-end; ``delta`` extra symbols simulate universe growth
    between runs (only the delta is fetched and only its fact rows are
    upserted). Returns the pass's metrics."""
    from etl_8million_data__spark.pipelines.ingest import ingest
    from etl_8million_data__spark.pipelines.run import advance_watermark, fresh_rows

    os.makedirs(workdir, exist_ok=True)
    bronze_path = os.path.join(workdir, "bronze")
    fact_path = os.path.join(workdir, "financials")
    csv_path = os.path.join(workdir, "universe.csv")

    # universe CSV: the base symbols plus `delta` newcomers
    with open(csv_path, "w") as f:
        f.write("symbol\n")
        for i in range(n_symbols):
            f.write(f"SYM{i:04d}\n")
        for i in range(delta):
            f.write(f"NEW{i:04d}\n")

    (t_ingest,), n_new = profile.sample(
        lambda: ingest(spark, csv_path, bronze_path, _payload_dict), 1
    )

    fresh, n_fresh, until = fresh_rows(spark.read.parquet(bronze_path), workdir)
    t_fact = 0.0
    if n_fresh:
        (t_fact,), _ = profile.sample(lambda: build_financials_fact(fresh, fact_path), 1)
        advance_watermark(workdir, until)

    n_fact = spark.read.parquet(fact_path).count() if os.path.exists(fact_path) else 0
    return {
        "n_new_symbols": n_new,
        "n_fresh_payloads": n_fresh,
        "fact_upsert_ran": bool(n_fresh),
        "n_fact_rows": n_fact,
        "t_ingest_s": round(t_ingest, 2),
        "t_fact_s": round(t_fact, 2),
    }


def main() -> None:
    spark = get_spark("reference-scale")
    spark.sparkContext.setLogLevel("ERROR")
    import pyspark.sql.functions as F

    symbols = spark.range(N_SYMBOLS).select(
        F.format_string("SYM%04d", F.col("id")).alias("symbol")
    )
    bronze = symbols.repartition(32).mapInPandas(
        _gen, "symbol string, payload string, loaded_at timestamp"
    )
    out = tempfile.mkdtemp(prefix="ref_scale_")
    try:
        bronze_path = os.path.join(out, "bronze")
        (t_bronze,), _ = profile.sample(
            lambda: bronze.write.mode("overwrite").parquet(bronze_path), 1
        )

        fact_path = os.path.join(out, "financials")
        raw = spark.read.parquet(bronze_path)
        (t_fact,), _ = profile.sample(lambda: build_financials_fact(raw, fact_path), 1)

        n = spark.read.parquet(fact_path).count()
        n_syms = (
            spark.read.parquet(fact_path).select("stock").distinct().count()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)

    md = f"""# REFERENCE_SCALE — the reference's headline artifact, reproduced

The reference materializes a **7,891,303-row** `financials` EAV fact
for **5,510** symbols (BASELINE.md; MySQL screenshot `Total.PNG`) via a
sequential per-symbol loop: multi-day resumable ingest (>=1 s/symbol by
design) followed by a row-at-a-time unpivot+upsert committed every 20
symbols.

Same-shape run through this engine (generated bronze payloads with the
reference's exact nesting, details.py:139-153; local[32]):

| step | result |
|---|---|
| symbols | {n_syms:,} |
| fact rows produced | **{n:,}** (~= reference's 7,891,303; fan-out {n // max(n_syms, 1):,}/symbol vs reference ~1,432) |
| bronze write (5,510 JSON payloads) | {t_bronze:.1f} s |
| unpivot + window-dedup upsert -> partitioned fact | **{t_fact:.1f} s** |

The transform the reference runs as its entire stage 3
(Financilas.py main(): per-symbol SELECT -> json parse ->
normalize_financials -> executemany upsert) completes here as one
declarative plan — from_json -> 3-level explode-chain -> scalar
expressions -> window dedup -> partitioned parquet — in {t_fact:.1f} s
wall-clock at the full reference scale, all JVM-side.

Generated by `tools/reference_scale_run.py` (re-runnable).
"""
    with open(os.path.join(REPO, "REFERENCE_SCALE.md"), "w") as f:
        f.write(md)
    print(md)
    spark.stop()


def main_resume() -> None:
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("--resume", action="store_true")
    p.add_argument("--workdir", default="/tmp/etl8m_ref_resume")
    p.add_argument("--delta", type=int, default=0)
    p.add_argument("--symbols", type=int, default=N_SYMBOLS)
    args = p.parse_args()
    if not args.resume:
        main()
        return
    spark = get_spark("reference-scale-resume")
    spark.sparkContext.setLogLevel("ERROR")
    metrics = run_resume(spark, args.workdir, delta=args.delta, n_symbols=args.symbols)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main_resume()
