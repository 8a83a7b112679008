"""Keyed upsert onto Parquet — the Spark re-expression of the
reference's ``INSERT … ON DUPLICATE KEY UPDATE`` (Financilas.py:167-184,
Summary.py:223-249) without a table format.

Last-writer-wins: union the existing snapshot with the updates, keep
row_number()==1 per key ordered by the recency column, rewrite.

Two write paths:

- **Unpartitioned**: full-snapshot rewrite to a temp dir, then an
  atomic swap (Spark cannot lazily read and overwrite one path).
  O(table) per batch — fine for small dimension tables.
- **Partitioned** (``partition_by``): only the partitions that contain
  updated keys are rewritten. The updates' distinct partition values
  are collected (bounded by |affected partitions|) and pushed as a
  LITERAL partition filter on the existing snapshot's scan (measured
  on scan metrics — the earlier semi-join form's dynamicpruning filter
  degraded to `true` at runtime and re-read every partition), so
  untouched directories are never read; merged, then written with dynamic
  partition overwrite — untouched partition directories are not
  touched, byte for byte. O(affected partitions) per batch: this is
  the 100 TB path, assuming partition columns are stable attributes of
  the key (a key never migrates between partitions — same contract as
  any Hive-style partitioned upsert; with Delta/Iceberg this whole
  module becomes ``MERGE INTO``).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.maintenance import swap_in


def last_writer_wins(
    df: DataFrame, keys: list[str], order_col: str, tiebreak: str | None = None
) -> DataFrame:
    """Keep exactly one row per key: highest ``order_col`` (then
    ``tiebreak`` desc so the pick is total)."""
    order = [F.col(order_col).desc_nulls_last()]
    if tiebreak:
        order.append(F.col(tiebreak).desc_nulls_last())
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _upsert_pruned(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    tiebreak: str | None,
    partition_by: list[str],
) -> None:
    """Rewrite only the partitions the updates touch (dynamic partition
    overwrite).

    The touched-partition set is COLLECTED (it is bounded by the number
    of affected partitions — exactly the O() this rewrite contracts)
    and pushed as a literal partition filter, so the read provably
    scans only the affected directories (asserted on scan metrics in
    tests). The previous broadcast-semi-join form planned a
    dynamicpruning filter but Spark degraded it to `true` at runtime —
    measured reading EVERY partition's files, a full-table read per
    upsert batch at 100 TB. Null-safe equality keeps null partition
    values (__HIVE_DEFAULT_PARTITION__) addressable."""
    existing = spark.read.parquet(path)
    touched_rows = updates.select(*partition_by).distinct().collect()
    if not touched_rows:
        return
    cond = None
    for r in touched_rows:
        c = None
        for col in partition_by:
            eq = F.col(col).eqNullSafe(F.lit(r[col]))
            c = eq if c is None else (c & eq)
        cond = c if cond is None else (cond | c)
    relevant = existing.filter(cond)
    merged = relevant.unionByName(updates, allowMissingColumns=True)
    # Materialize before the overwrite: the merged plan reads from
    # ``path``, and Spark (rightly) refuses to overwrite a location its
    # own input is still lazily reading.  localCheckpoint is
    # O(affected partitions), not O(table).
    # Cluster output rows by the partition columns before the write:
    # without this every reducer of the dedup window holds rows of MANY
    # partition values and opens a file in each directory it touches —
    # measured 5,814 files (and 65 s vs 29 s) for the 7.9M-row fact at
    # 192 (statement, bucket) partitions. AQE's REBALANCE (not a plain
    # repartition) clusters by the partition cols but keeps write
    # parallelism: oversized clusters are split back to advisory size,
    # so a 3-value partition key does not serialize the write into 3
    # tasks at 100 TB.
    deduped = (
        last_writer_wins(merged, keys, order_col, tiebreak)
        .hint("rebalance", *partition_by)
        .localCheckpoint(eager=True)
    )
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        deduped.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    tiebreak: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Merge ``updates`` into the Parquet table at ``path`` with
    last-writer-wins per key. Partitioned tables rewrite only touched
    partitions; unpartitioned tables atomically swap a full snapshot."""
    if os.path.exists(path) and partition_by:
        _upsert_pruned(spark, updates, path, keys, order_col, tiebreak, partition_by)
        return

    if os.path.exists(path):
        existing = spark.read.parquet(path)
        merged = existing.unionByName(updates, allowMissingColumns=True)
    else:
        merged = updates
    deduped = last_writer_wins(merged, keys, order_col, tiebreak)
    if partition_by:
        # same small-files guard as _upsert_pruned: cluster by the
        # partition columns (AQE REBALANCE splits oversized clusters,
        # keeping write parallelism on low-cardinality partition keys)
        deduped = deduped.hint("rebalance", *partition_by)

    tmp = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
    writer = deduped.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    swap_in(tmp, path)
