"""Deletion propagation for persisted derived state — the
right-to-be-forgotten path of a training-data store: removing a
document from the corpus is not enough; its vectors sit in ANN index
cells, its bands in the dedup index, its fingerprints in the winnowing
index, and any of those can resurface it (an ANN probe returns its
vec_id; the dedup index suppresses a future legitimate copy by matching
a ghost). These operators delete ids from each persisted layout with
the minimum rewrite the layout allows:

- **Cell-partitioned indexes** (SRP/int8/kmeans ``cell=``-partitioned
  vectors, IVF-PQ ``codes/``): a column-pruned (id, cell) lookup finds
  the touched cells, and ONLY those partitions rewrite, staged in full
  and committed by ``bucket_store.overwrite_buckets`` — the partition
  form of the one commit door, ``maintenance.swap_in``, which swaps
  only those cell directories and removes a cell whose every row is
  deleted (a crashed commit is rolled forward on the next read, so a
  forgotten row never comes back). Untouched cells' files are never
  read past the id column and never written — byte-identity asserted in
  tests. O(touched cells) per forget batch, the same blast-radius
  contract as the partitioned upsert.
- **Id-bucketed indexes** (sign signatures, LSH band index, media band
  index, winnowing fingerprints — all written as 16-way md5
  ``bucket=`` layouts since round 9, exactly the financials fact's
  stock_bucket pattern): the id→bucket map is a pure function, so the
  victims' buckets are computable WITHOUT scanning the index, and only
  those partitions rewrite through the same door; untouched buckets
  stay byte-identical (asserted in tests). :func:`forget_auto`
  dispatches on the on-disk layout, so callers need not know whether
  an index predates the bucketed layout.
- **Legacy unpartitioned indexes**: filter + full rewrite committed by
  the whole-table form of ``maintenance.swap_in`` — no partition key to
  prune on, full rewrite is the honest cost.

``compact_cells`` is the companion maintenance op: per-batch appends
leave one small file per cell per batch; compaction rewrites each
populated cell into its minimal file set (probe results are identical
before/after — asserted in tests), which is what keeps probe
file-listing cost flat as append batches accumulate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import (
    overwrite_buckets,
    partition_filter,
    read_store,
)
from etl_8million_data__spark.operators.maintenance import recover_swap, swap_in
from etl_8million_data__spark.streaming.trigger import foreach_batch_available_now


def _read(spark: SparkSession, path: str, schema: str | None) -> DataFrame:
    """The index at ``path`` with its declared ``schema``; without one
    (an index of unknown layout) one footer-merge read, so a legacy
    file missing a newer column never drops that column from the
    rewrite this read feeds."""
    if schema:
        return read_store(spark, path, schema)
    recover_swap(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def _ids_frame(ids: DataFrame, id_col: str) -> DataFrame:
    return ids.select(F.col(ids.columns[0]).alias(id_col)).distinct()


def forget_partitioned(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str,
    partition_by: list[str],
    schema: str | None = None,
) -> int:
    """Delete ``ids`` from a Hive-partitioned table, rewriting only the
    partitions that contain them: a column-pruned (id + partition cols)
    lookup finds the touched partition tuples and counts the victims'
    rows, and those partitions are filtered and rewritten through
    ``bucket_store.overwrite_buckets``. Returns rows removed (0 on a
    miss — re-forget is a no-op). Works for any layout whose partition
    columns are stable attributes of the id (the same contract as the
    partitioned upsert): ANN ``cell=`` indexes, the financials fact's
    (statement_type, stock_bucket), …"""
    victims = _ids_frame(ids, id_col)
    _rd = lambda: _read(spark, path, schema)  # noqa: E731
    located = _rd().select(id_col, *partition_by).join(victims, id_col)
    touched = located.groupBy(*partition_by).count().collect()
    if not touched:
        return 0
    keys = [r[: len(partition_by)] for r in touched]
    kept = (
        _rd()
        .filter(partition_filter(partition_by, keys))
        .join(victims, id_col, "left_anti")
    )
    overwrite_buckets(spark, path, partition_by, kept, keys)
    return sum(r["count"] for r in touched)


def forget_cell_partitioned(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
    schema: str | None = None,
) -> int:
    """Delete ``ids`` from a ``cell=``-partitioned ANN index, rewriting
    only the cells that contain them (the :func:`forget_partitioned`
    contract specialized to the index layouts)."""
    return forget_partitioned(spark, index_path, ids, id_col, ["cell"], schema)


def _check_bucket_range(index_path: str, n_buckets: int) -> None:
    """Fail loudly when the on-disk ``bucket=`` partition values are
    incompatible with ``n_buckets``: a computed-bucket forget that
    hashes victims mod the WRONG modulus prunes to directories the
    victims do not live in and silently returns 0 deletions — the exact
    quiet failure :func:`index_fsck.fsck_bucket_purity` audits for.
    Observed values >= n_buckets prove the index was written with a
    larger modulus; the converse (smaller modulus) is undetectable from
    directory names alone, which is why callers must pass the layout's
    true n_buckets and fsck stays in the loop. Cost: one listdir."""
    try:
        entries = os.listdir(index_path)
    except OSError:
        return
    seen = [
        int(e.split("=", 1)[1])
        for e in entries
        if e.startswith("bucket=") and e.split("=", 1)[1].isdigit()
    ]
    bad = [b for b in seen if b >= n_buckets]
    if bad:
        raise ValueError(
            f"{index_path}: bucket partitions {sorted(bad)} >= n_buckets="
            f"{n_buckets} — the index was written with a larger bucket "
            "modulus; a computed-bucket forget would miss victims. Pass "
            "the layout's true n_buckets."
        )


def forget_bucketed(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 16,
    schema: str | None = None,
) -> int:
    """Delete ``ids`` from an md5 id-bucketed index layout (16-way by
    default — pass the layout's actual ``n_buckets``). The bucket is a
    pure function of the id, so the touched partitions are computed from
    the VICTIM list alone — no index scan to locate them (one better
    than :func:`forget_partitioned`'s column-pruned lookup); only those
    partitions are read, filtered, and rewritten through
    ``bucket_store.overwrite_buckets``. A miss (no victim present)
    never rewrites. On-disk bucket values >= n_buckets fail loudly
    instead of silently missing."""
    from etl_8million_data__spark.operators.partitioning import id_bucket

    _check_bucket_range(index_path, n_buckets)
    victims = _ids_frame(ids, id_col)
    vb = victims.withColumn("bucket", id_bucket(F.col(id_col), n_buckets))
    touched = [r["bucket"] for r in vb.select("bucket").distinct().collect()]
    if not touched:
        return 0
    relevant = _read(spark, index_path, schema).filter(
        F.col("bucket").isin(touched)
    )
    n_deleted = relevant.select(id_col).join(victims, id_col).count()
    if n_deleted:
        kept = relevant.join(victims, id_col, "left_anti")
        affected = [(b,) for b in touched]
        overwrite_buckets(spark, index_path, ["bucket"], kept, affected)
    return n_deleted


def forget_auto(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 16,
    schema: str | None = None,
) -> int:
    """Dispatch forget on the on-disk layout: ``bucket=`` partitions →
    the computed-bucket pruned rewrite (pass the layout's true
    ``n_buckets`` — a wrong modulus hashes victims to directories they
    don't live in; :func:`forget_bucketed` fails loudly when observed
    partition values exceed it, and :func:`index_fsck.fsck_bucket_purity`
    audits the undetectable smaller-modulus case), ``cell=`` partitions
    → the located-partition pruned rewrite, flat files (legacy) → the
    atomic full swap. Lets one erasure pipeline serve indexes written
    before and after the round-9 bucketed layouts."""
    from etl_8million_data__spark.operators.partitioning import is_hive_partitioned

    if is_hive_partitioned(index_path, "bucket"):
        return forget_bucketed(spark, index_path, ids, id_col, n_buckets, schema)
    if is_hive_partitioned(index_path, "cell"):
        return forget_partitioned(spark, index_path, ids, id_col, ["cell"], schema)
    return forget_unpartitioned(spark, index_path, ids, id_col, schema)


def forget_unpartitioned(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
    schema: str | None = None,
) -> int:
    """Delete ``ids`` from an unpartitioned index by filter + atomic
    swap (``maintenance.swap_in``, as the unpartitioned upsert). Returns
    rows removed; a miss is a no-op that never rewrites."""
    victims = _ids_frame(ids, id_col)
    idx = _read(spark, index_path, schema)
    n_hit = idx.select(id_col).join(victims, id_col).count()
    if not n_hit:
        return 0
    with swap_in(index_path) as tmp:
        idx.join(victims, id_col, "left_anti").write.parquet(tmp)
    spark.catalog.refreshByPath(index_path)
    return n_hit


def forget_ivfpq(spark: SparkSession, index_path: str, ids: DataFrame) -> int:
    """Delete vectors from an IVF-PQ index (codes live under
    ``codes/``; centroids/codebook are AGGREGATE model state, not
    per-row data, so they are untouched — a deleted vector leaves no
    recoverable trace in k-means cell means or codebook centroids)."""
    return forget_cell_partitioned(
        spark, os.path.join(index_path, "codes"), ids, "vec_id"
    )


def stream_forget_requests(
    requests: DataFrame,
    targets: list[tuple[str, str, list[str] | None]],
    checkpoint_dir: str,
):
    """Streaming right-to-be-forgotten: a stream of deletion requests
    (rows with an id column per target) drives forget across EVERY
    persisted derived layout in one job — the ingest-door counterpart
    of the decontamination guard, for erasure. ``targets`` is a list of
    (path, id_col, partition_by-or-None): partitioned layouts take the
    pruned-rewrite path, bucketed layouts the computed-bucket rewrite,
    legacy unpartitioned ones the atomic swap. Each micro-batch applies
    every target; forget is idempotent per id, so at-least-once
    redelivery is safe by construction.

    Id-space wiring: each target's ids come from the REQUEST column
    named by its ``id_col`` when the request schema carries it (a
    request stream mixing doc- and vec-targets has one column per id
    space: ``(doc_id, vec_id)``); only when the request schema lacks
    that column does the first column apply — the single-shared-id-
    space convention, safe only when every such target reads one id
    space. Targets whose id column is entirely NULL in a batch are
    skipped (that batch's requests address the other space)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = batch_df.localCheckpoint(eager=True)
        for path, id_col, partition_by in targets:
            if not os.path.isdir(path):
                continue
            src = id_col if id_col in b.columns else b.columns[0]
            ids = b.select(F.col(src).alias(id_col)).filter(
                F.col(id_col).isNotNull()
            )
            if partition_by:
                forget_partitioned(spark, path, ids, id_col, partition_by)
            else:
                forget_auto(spark, path, ids, id_col)

    return foreach_batch_available_now(requests, apply_batch, checkpoint_dir)


def compact_partitions(
    spark: SparkSession,
    index_path: str,
    partition_col: str = "cell",
    schema: str | None = None,
) -> tuple[int, int]:
    """Rewrite every populated partition of a Hive-partitioned index
    into its minimal file set (AQE REBALANCE by the partition column —
    oversized partitions still split to advisory size instead of one
    giant file). Works for any single-column layout: the ANN ``cell=``
    indexes and the text index's ``pfx=`` postings, whose per-append
    small files this is the scheduled answer to. Returns
    (files_before, files_after). Row content is untouched: probes
    return identical results before and after (asserted in tests).
    Underscore-prefixed sidecar dirs (text index ``_doclen`` /
    ``_tombstones``) are hidden from the scan and never rewritten."""

    def _count_files() -> int:
        n = 0
        for dirpath, _, files in os.walk(index_path):
            if any(part.startswith("_") for part in dirpath.split(os.sep)):
                continue
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    before = _count_files()
    # every populated partition receives its own rows back, so none is
    # emptied and the affected list is empty
    full = _read(spark, index_path, schema)
    overwrite_buckets(spark, index_path, [partition_col], full, [])
    return before, _count_files()


def compact_cells(spark: SparkSession, index_path: str) -> tuple[int, int]:
    """ANN-layout alias of :func:`compact_partitions` (cell column)."""
    return compact_partitions(spark, index_path, "cell")
