"""Layout-advisor execution door (operators/partitioning.apply_layout):
the simulated skip must MATERIALIZE as parquet row-group pruning on the
rewritten table — gated on executed scan metrics (numOutputRows), never
plan text, with an unsorted control proving the skip comes from the
layout and not the predicate."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.operators.partitioning import (
    apply_layout,
    global_ntile,
)

N_FILES = 64
LO, HI = datetime.date(1996, 1, 1), datetime.date(1996, 3, 31)


def _li(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("ship_d"),
        "l_orderkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tb"),
    )


def test_predicted_skip_materializes_on_rewritten_table(
    spark, sf_dir, tmp_path
):
    from etl_8million_data__spark.profile import scan_partition_metrics

    li = _li(spark, sf_dir).localCheckpoint(eager=True)
    total = li.count()

    # the advisor's prediction for this layout + predicate: virtual
    # equal-count files by ntile over the sort order, zone-map overlap
    # count (the advisor_layout_zonemap machinery, one layout/pred)
    zones = (
        global_ntile(
            li,
            N_FILES,
            "ship_d",
            "tb",
            (F.year("ship_d") * 12 + F.month("ship_d")).cast("bigint"),
            out_col="file_id",
        )
        .groupBy("file_id")
        .agg(F.min("ship_d").alias("mn"), F.max("ship_d").alias("mx"))
    )
    predicted_files = zones.filter(
        (F.col("mx") >= F.lit(LO)) & (F.col("mn") <= F.lit(HI))
    ).count()
    assert 0 < predicted_files < N_FILES / 4, (
        predicted_files,
        "fixture must predict substantial skip for the quarter predicate",
    )

    # execute the advice + an unsorted control
    sortp, flatp = str(tmp_path / "sorted"), str(tmp_path / "flat")
    apply_layout(li, sortp, "ship_d", N_FILES)
    li.repartition(N_FILES).write.parquet(flatp)

    def scan_rows(path):
        df = spark.read.parquet(path).filter(
            (F.col("ship_d") >= F.lit(LO)) & (F.col("ship_d") <= F.lit(HI))
        )
        n_match = df.count()
        metrics = scan_partition_metrics(df, path)
        assert metrics, f"no scan found for {path}"
        return n_match, max(m.get("numOutputRows", 0) for m in metrics)

    n_sorted, read_sorted = scan_rows(sortp)
    n_flat, read_flat = scan_rows(flatp)
    assert n_sorted == n_flat, "rewrite changed the query answer"

    # the unsorted control's row groups all overlap the predicate: the
    # reader prunes nothing
    assert read_flat >= total * 0.95, (read_flat, total)

    # measured skip on the REAL parquet reader must be at least the
    # simulation's file-granularity prediction, plus slop for
    # repartitionByRange's sampled (not exact-count) boundaries and
    # multi-row-group files
    budget = total * (predicted_files + 2) / N_FILES
    assert read_sorted <= budget, (
        f"predicted {predicted_files}/{N_FILES} files but the scan read "
        f"{read_sorted}/{total} rows (budget {budget:.0f})"
    )
    # and the layout genuinely beats the control by a wide margin
    assert read_sorted * 5 <= read_flat, (read_sorted, read_flat)


def test_apply_layout_is_content_preserving(spark, sf_dir, tmp_path):
    li = _li(spark, sf_dir)
    p = str(tmp_path / "lay")
    apply_layout(li, p, ["ship_d", "l_orderkey"], 16)
    back = spark.read.parquet(p)
    a = li.agg(
        F.count(F.lit(1)), F.sum("l_orderkey"), F.min("ship_d"), F.max("ship_d")
    ).first()
    b = back.agg(
        F.count(F.lit(1)), F.sum("l_orderkey"), F.min("ship_d"), F.max("ship_d")
    ).first()
    assert tuple(a) == tuple(b)
    # files are range-disjoint in the sort key up to boundary ties:
    # every file's [min, max] spans far less than the global range
    import os

    files = [
        os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
    ]
    assert len(files) >= 8


def test_drift_degrades_real_scans_and_recompaction_recovers(
    spark, sf_dir, tmp_path
):
    """The drift advisor's claim on REAL parquet: ingest-ordered
    appends to a shipdate-sorted table blow up the advised predicate's
    scan (every append file's zone map spans the whole key range);
    recompacting through apply_layout restores it. Measured on
    executed scan numOutputRows, mirroring the advisor's simulated
    read-amplification."""
    from etl_8million_data__spark.profile import scan_partition_metrics

    li = _li(spark, sf_dir).localCheckpoint(eager=True)
    base = li.filter(F.col("l_orderkey") % 4 != 0)
    appends = li.filter(F.col("l_orderkey") % 4 == 0)
    p = str(tmp_path / "drifting")
    apply_layout(base, p, "ship_d", 48)

    def read_rows():
        df = spark.read.parquet(p).filter(
            (F.col("ship_d") >= F.lit(LO)) & (F.col("ship_d") <= F.lit(HI))
        )
        n = df.count()
        m = scan_partition_metrics(df, p)
        return n, max(x.get("numOutputRows", 0) for x in m)

    n0, read0 = read_rows()
    # ingest-ordered appends: 16 files keyed by orderkey, each spanning
    # the whole shipdate range
    appends.repartitionByRange(16, F.col("l_orderkey")).write.mode(
        "append"
    ).parquet(p)
    spark.catalog.refreshByPath(p)
    n1, read1 = read_rows()
    assert n1 > n0  # the appends add matching rows
    app_total = appends.count()
    # degradation: the scan now reads (almost) every appended row on
    # top of the pruned base — the advisor's read-amplification is real
    assert read1 >= read0 + app_total * 0.95, (read0, read1, app_total)

    # recompaction door: re-sort the whole table, skip restored
    p2 = str(tmp_path / "recompacted")
    apply_layout(spark.read.parquet(p), p2, "ship_d", 64)
    df2 = spark.read.parquet(p2).filter(
        (F.col("ship_d") >= F.lit(LO)) & (F.col("ship_d") <= F.lit(HI))
    )
    n2 = df2.count()
    read2 = max(
        x.get("numOutputRows", 0) for x in scan_partition_metrics(df2, p2)
    )
    assert n2 == n1, "recompaction changed the answer"
    total = li.count()
    assert read2 <= total * 0.12, (read2, total)
    assert read2 * 3 <= read1, (read2, read1)
