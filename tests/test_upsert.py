"""Keyed parquet upsert: ON DUPLICATE KEY UPDATE parity
(Financilas.py:167-184 semantics, re-expressed as last-writer-wins)."""

from __future__ import annotations

import tempfile

from etl_8million_data__spark.operators.upsert import last_writer_wins, upsert_parquet


def test_upsert_idempotent_and_last_writer_wins(spark):
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        v1 = spark.createDataFrame(
            [("A", "IS", 1.0, 1), ("B", "IS", 2.0, 1)],
            "stock string, stype string, value double, load_ts int",
        )
        upsert_parquet(spark, v1, path, keys=["stock", "stype"], order_col="load_ts")
        assert spark.read.parquet(path).count() == 2

        # update A, insert C
        v2 = spark.createDataFrame(
            [("A", "IS", 10.0, 2), ("C", "BS", 3.0, 2)],
            "stock string, stype string, value double, load_ts int",
        )
        upsert_parquet(spark, v2, path, keys=["stock", "stype"], order_col="load_ts")
        got = {(r.stock, r.stype): r.value for r in spark.read.parquet(path).collect()}
        assert got == {("A", "IS"): 10.0, ("B", "IS"): 2.0, ("C", "BS"): 3.0}

        # replay of v2 is a no-op (idempotent upsert)
        upsert_parquet(spark, v2, path, keys=["stock", "stype"], order_col="load_ts")
        got2 = {(r.stock, r.stype): r.value for r in spark.read.parquet(path).collect()}
        assert got2 == got


def test_last_writer_wins_tiebreak(spark):
    df = spark.createDataFrame(
        [("A", 1, 1.0), ("A", 1, 2.0)], "k string, ts int, v double"
    )
    # same order_col value: without a tiebreak the pick would be
    # nondeterministic; v as tiebreak keeps the max
    out = last_writer_wins(df, ["k"], "ts", tiebreak="v").collect()
    assert len(out) == 1 and out[0].v == 2.0


def _partition_snapshot(root, part_dir):
    """(filename, size, mtime_ns, content-hash) for every data file in
    one partition directory."""
    import hashlib
    import os

    out = {}
    d = os.path.join(root, part_dir)
    for name in sorted(os.listdir(d)):
        p = os.path.join(d, name)
        if not os.path.isfile(p) or name.startswith(("_", ".")):
            continue
        with open(p, "rb") as f:
            h = hashlib.sha256(f.read()).hexdigest()
        st = os.stat(p)
        out[name] = (st.st_size, st.st_mtime_ns, h)
    return out


def test_upsert_rewrites_only_touched_partitions(spark):
    """An upsert whose updates all land in one partition must leave
    every other partition directory byte-identical (same files, same
    mtimes — they were never rewritten)."""
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        base = spark.createDataFrame(
            [
                ("A", "IS", 1.0, 1),
                ("B", "IS", 2.0, 1),
                ("C", "BS", 3.0, 1),
                ("D", "CF", 4.0, 1),
            ],
            "stock string, stype string, value double, load_ts int",
        )
        upsert_parquet(
            spark, base, path, keys=["stock", "stype"], order_col="load_ts",
            partition_by=["stype"],
        )
        before_bs = _partition_snapshot(path, "stype=BS")
        before_cf = _partition_snapshot(path, "stype=CF")
        assert before_bs and before_cf

        # touch only the IS partition: update A, insert E
        updates = spark.createDataFrame(
            [("A", "IS", 10.0, 2), ("E", "IS", 5.0, 2)],
            "stock string, stype string, value double, load_ts int",
        )
        upsert_parquet(
            spark, updates, path, keys=["stock", "stype"], order_col="load_ts",
            partition_by=["stype"],
        )

        got = {(r.stock, r.stype): r.value for r in spark.read.parquet(path).collect()}
        assert got == {
            ("A", "IS"): 10.0,
            ("B", "IS"): 2.0,
            ("C", "BS"): 3.0,
            ("D", "CF"): 4.0,
            ("E", "IS"): 5.0,
        }
        # untouched partitions: identical files, sizes, mtimes, content
        assert _partition_snapshot(path, "stype=BS") == before_bs
        assert _partition_snapshot(path, "stype=CF") == before_cf

        # replay is idempotent and still leaves the others alone
        upsert_parquet(
            spark, updates, path, keys=["stock", "stype"], order_col="load_ts",
            partition_by=["stype"],
        )
        assert {
            (r.stock, r.stype): r.value for r in spark.read.parquet(path).collect()
        } == got
        assert _partition_snapshot(path, "stype=BS") == before_bs


def test_upsert_partitioned_layout(spark):
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        df = spark.createDataFrame(
            [("A", "IS", 1.0, 1), ("B", "BS", 2.0, 1)],
            "stock string, stype string, value double, load_ts int",
        )
        upsert_parquet(
            spark, df, path, keys=["stock", "stype"], order_col="load_ts",
            partition_by=["stype"],
        )
        got = spark.read.parquet(path)
        assert got.count() == 2
        assert set(got.select("stype").distinct().toPandas()["stype"]) == {"IS", "BS"}


def test_upsert_pruned_read_scans_only_touched_partitions(spark, tmp_path):
    """The partitioned upsert's READ side must scan only the touched
    partitions' files — asserted on the executed scan's numPartitions
    metric. (The earlier broadcast-semi-join form planned a
    dynamicpruning filter that Spark degraded to `true` at runtime:
    measured reading all 10 partitions for a 1-partition update — a
    full-table read per batch at 100 TB.)"""
    from pyspark.sql import functions as F

    from etl_8million_data__spark.profile import scan_partition_metrics

    path = str(tmp_path / "t")
    base = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).cast("int").alias("p"),
        F.lit(1).cast("int").alias("v"),
        F.lit(0).cast("long").alias("ts"),
    )
    base.write.partitionBy("p").parquet(path)
    # k=13 lives in p=3 (k % 10) — partition stable, per the contract
    updates = spark.createDataFrame([(13, 3, 9, 1)], "k long, p int, v int, ts long")
    # replicate _upsert_pruned's read path (the write consumes the plan,
    # so measure the read frame directly with the same literal filter)
    touched_rows = updates.select("p").distinct().collect()
    cond = None
    for r in touched_rows:
        eq = F.col("p").eqNullSafe(F.lit(r["p"]))
        cond = eq if cond is None else (cond | eq)
    relevant = spark.read.parquet(path).filter(cond)
    metrics = scan_partition_metrics(relevant, "parquet")
    assert metrics, "no scan found"
    for m in metrics:
        assert m["numPartitions"] == 1, m
    # and the full upsert is correct end-to-end with the pruned read
    from etl_8million_data__spark.operators.upsert import upsert_parquet

    upsert_parquet(
        spark, updates, path, keys=["k"], order_col="ts", partition_by=["p"]
    )
    got = spark.read.parquet(path).filter(F.col("k") == 13).collect()
    assert len(got) == 1 and got[0].v == 9
