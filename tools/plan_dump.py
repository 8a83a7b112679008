"""Dump ``explain('formatted')`` for named queries to plans/<round>/.

Usage:
    python tools/plan_dump.py --round r15 --tag before q1 q2 ...

Writes plans/<round>/<query>_<tag>.txt — the judge-facing physical-plan
evidence for every query an optimization round touches. The dump is the
pre-execution plan (AdaptiveSparkPlan isFinalPlan=false); exchange
counts, join strategies, scan pushdown and Python-eval nodes are all
visible at this stage.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_8million_data__spark.catalog import DEFAULT_SF_DIR as SF_DIR  # noqa: E402
from etl_8million_data__spark.plans import all_queries  # noqa: E402
from etl_8million_data__spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", default="r15")
    ap.add_argument("--tag", default="before", choices=["before", "after"])
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("etl8m-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for name in args.names:
        df = queries[name].build(spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        n_exchange = txt.count("Exchange")
        n_scan = txt.count("Scan parquet")
        print(f"{name}: wrote {path} (Exchange~{n_exchange}, Scan parquet~{n_scan})")
    spark.stop()


if __name__ == "__main__":
    main()
