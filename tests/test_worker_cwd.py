"""Python workers must not depend on the driver's working directory.

The driver here runs in a temp directory with the repo only on its own
``sys.path`` and ``PYTHONPATH`` scrubbed, so a Python worker can import
nothing from the package; UDF closures have to travel by value."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import SparkSession

    from etl_8million_data__spark.plans.registry import all_queries

    spark = SparkSession.builder.master("local[2]").appName("cwd").getOrCreate()
    qs = all_queries()
    for name in ("similarity_kmeans_cells", "similarity_pq_codes"):
        n = len(qs[name].build(spark, sys.argv[2]).collect())
        print(name, n)
    spark.stop()
    """
)


def test_udf_queries_run_with_the_driver_outside_the_repo(sf_dir, tmp_path):
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"no sf0.01 fixture next to {sf_dir}")
    script = tmp_path / "driver.py"
    script.write_text(DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script), str(REPO), sf],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    built = dict(line.split() for line in out.stdout.splitlines())
    assert set(built) == {"similarity_kmeans_cells", "similarity_pq_codes"}
    assert all(int(n) > 0 for n in built.values())
