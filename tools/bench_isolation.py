"""Isolated min-of-5 timing of named queries.

Each query runs in ISOLATION (fresh measurement loop, min-of-5 after a
warmup pass), so the number is the query's steady-state cost on this
machine, not its cost amid a full sweep.

Usage:
    python tools/bench_isolation.py QUERY [QUERY ...]

Writes min/median/max per query to BENCH_ISOLATION.json (override with
SPARK_GRAFT_ISOLATION_OUT), merged into any earlier record there.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_8million_data__spark import profile  # noqa: E402
from etl_8million_data__spark.catalog import DEFAULT_SF_DIR as SF_DIR  # noqa: E402
from etl_8million_data__spark.plans import all_queries  # noqa: E402
from etl_8million_data__spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    if not names:
        sys.exit(__doc__)
    spark = get_spark("etl8m-bench-isolation")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    profile.warm_session(spark)
    out: dict[str, dict] = {}
    for name in names:
        samples = [
            round(t, 3)
            for t in profile.time_query(spark, queries[name], SF_DIR, 5, warm=1)
        ]
        out[name] = {
            "min": min(samples),
            "median": round(statistics.median(samples), 3),
            "max": max(samples),
            "samples": samples,
        }
        print(f"{name}: min={min(samples)} median={out[name]['median']} "
              f"max={max(samples)}", flush=True)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        os.environ.get("SPARK_GRAFT_ISOLATION_OUT", "BENCH_ISOLATION.json"),
    )
    # merge-preserve: later targeted reruns must not erase earlier
    # queries' evidence
    record = {"sf_dir": SF_DIR, "protocol": "warmup + min-of-5, isolated",
              "queries": out}
    try:
        with open(path) as f:
            prev = json.load(f)
        prev["queries"].update(out)
        record = prev
    except (OSError, ValueError):
        pass
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
