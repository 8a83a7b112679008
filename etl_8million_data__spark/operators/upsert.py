"""Keyed upsert onto Parquet — the Spark re-expression of the
reference's ``INSERT … ON DUPLICATE KEY UPDATE`` (Financilas.py:167-184,
Summary.py:223-249) without a table format.

Last-writer-wins: union the existing snapshot with the updates, keep
row_number()==1 per key ordered by the recency column, rewrite.

One write path: the merged rows are written into the staging directory
of ``maintenance.swap_in``, the package's one commit door.

- **Unpartitioned**, and the first write of a partitioned table: the
  whole snapshot is merged and swapped. O(table) per batch — fine for
  small dimension tables.
- **Partitioned** (``partition_by``): only the partitions that contain
  updated keys are rewritten. The updates' distinct partition values
  are collected (bounded by |affected partitions|) and pushed as a
  LITERAL partition filter on the existing snapshot's scan, so
  untouched directories are never read; the door swaps only those
  partition directories, so untouched ones are not touched, byte for
  byte. O(affected partitions) per batch: this is the 100 TB path,
  assuming partition columns are stable attributes of the key (a key
  never migrates between partitions — same contract as any Hive-style
  partitioned upsert; with Delta/Iceberg this whole module becomes
  ``MERGE INTO``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import partition_filter
from etl_8million_data__spark.operators.maintenance import recover_swap, swap_in


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
    partitions; unpartitioned tables swap a full snapshot."""
    recover_swap(path)
    merged, touched = updates, []
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        if partition_by:
            # the touched-partition set is bounded by the number of
            # affected partitions — exactly the O() this rewrite contracts
            touched = updates.select(*partition_by).distinct().collect()
            if not touched:
                return
            existing = existing.filter(partition_filter(partition_by, touched))
        merged = existing.unionByName(updates, allowMissingColumns=True)
    deduped = last_writer_wins(merged, keys, order_col, tiebreak)
    with swap_in(path, partition_by or (), touched) as tmp:
        if partition_by:
            # the same small-files guard as bucket_store.overwrite_buckets
            deduped = deduped.hint("rebalance", *partition_by)
            deduped.write.partitionBy(*partition_by).parquet(tmp)
        else:
            deduped.write.parquet(tmp)
