"""Table-maintenance operators for Parquet at scale: small-file
compaction and query-aligned clustering.

At 100 TB the two silent killers of scan performance are (a) millions
of tiny files from incremental/streaming writes — per-file open +
footer-parse overhead dwarfs the reads — and (b) row groups whose
min/max statistics span the whole key domain, so predicate pushdown
prunes nothing. ``compact_parquet`` fixes (a) by rewriting to
size-targeted files; ``clustered_write`` fixes (b) by range-partitioning
plus sorting within partitions so every file/row-group covers a tight,
disjoint slice of the clustering key (the poor man's Z-order for a
single key prefix). Both use the same rewrite-then-atomic-swap pattern
as the keyed upsert (operators/upsert.py).
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def swap_in(tmp: str, path: str) -> None:
    """Atomically replace ``path`` with the fully written ``tmp``
    directory: rename the live table aside, rename ``tmp`` into place,
    then delete the old copy. Readers see the old snapshot or the new
    one, never a partial write; sidecars written into ``tmp`` before
    the call move with it. ``path`` need not exist yet."""
    old = f"{path}.__old__{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def parquet_data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 << 20
) -> int:
    """Rewrite the table at ``path`` into ceil(total_bytes / target)
    files and atomically swap the compacted snapshot in. Returns the
    new file count. (On a cluster this is the OPTIMIZE/compaction job
    you schedule after streaming or per-batch ingest.)"""
    files = parquet_data_files(path)
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
    # coalesce, not repartition: compaction must not pay a shuffle —
    # it only glues input splits together.
    df.coalesce(n).write.mode("overwrite").parquet(tmp)
    swap_in(tmp, path)
    return len(parquet_data_files(path))


def clustered_write(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int | None = None
) -> None:
    """Write ``df`` clustered on ``cluster_cols``: range-partition
    across files, sort within each — file- and row-group-level min/max
    on the clustering key become tight and pairwise disjoint, so a
    selective filter prunes all but the covering files at planning
    time."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_write(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int | None = None,
    bits_per_dim: int = 8,
) -> None:
    """Write ``df`` Z-ORDERED on ``zorder_cols``: each dimension is
    bucketized into 2^bits_per_dim near-equal-frequency ranks (bounds
    from the deterministic key-hash sample — no global sort, no
    collect), the per-dimension ranks are Morton bit-interleaved into
    one locality code, and the data is range-partitioned + sorted on
    that code.

    Why: single-key clustering (``clustered_write``) makes row-group
    min/max tight on ONE column and useless on every other; the Morton
    interleave makes every z-dimension's min/max tight-ish in EVERY row
    group simultaneously, so selective predicates on ANY of the
    z-columns prune files/row groups (multi-dimensional data skipping —
    the standard lakehouse layout optimization). All plan-side: the
    bucket lookup is a broadcast bounds array + array-filter count per
    row, the interleave is integer bit arithmetic in codegen.
    """
    from pyspark.sql import functions as F

    from etl_8million_data__spark.operators.partitioning import sampled_range_bounds

    if not zorder_cols:
        raise ValueError("zorder_cols must be non-empty")
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    n_buckets = 1 << bits_per_dim

    out = df
    rank_cols = []
    for c in zorder_cols:
        bounds = (
            sampled_range_bounds(df, c, c, n_buckets)
            .agg(F.array_sort(F.collect_list("bound_value")).alias("_bounds"))
        )
        rc = f"_zr_{c}"
        # bucket = number of bounds <= value: 0..n_buckets-1, computed
        # against the broadcast 1-row bounds array (no driver collect)
        out = out.crossJoin(F.broadcast(bounds)).withColumn(
            rc,
            F.size(F.filter(F.col("_bounds"), lambda b: b <= F.col(c))).cast("long"),
        ).drop("_bounds")
        rank_cols.append(rc)

    # Morton interleave: bit j of dimension d lands at position
    # j * n_dims + d — equal bit budget per dimension.
    ndims = len(rank_cols)
    z = F.lit(0).cast("long")
    for d, rc in enumerate(rank_cols):
        for j in range(bits_per_dim):
            z = z + F.shiftleft(
                F.shiftright(F.col(rc), j).bitwiseAND(F.lit(1)), j * ndims + d
            )
    out = out.withColumn("_zcode", z).drop(*rank_cols)
    (
        out.repartitionByRange(n, "_zcode")
        .sortWithinPartitions("_zcode")
        .drop("_zcode")
        .write.mode("overwrite")
        .parquet(path)
    )
