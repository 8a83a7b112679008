"""Consistency audits (fsck) for the persisted index layouts — the
check a production store runs after crashes, partial writes, or manual
surgery, and before trusting an index enough to serve probes from it.
Each audit returns ONE row of violation counts (all zeros = healthy);
callers alert on any nonzero. Audits are pure reads — column-pruned
scans and hash aggregates, never a rewrite — so running them against a
100 TB index costs one pass over the narrow columns involved.

Invariants checked:

- text index (operators/search_index.py): the postings' doc set and the
  ``_doclen`` sidecar's doc set must match exactly (a missing sidecar
  row silently drops a doc from BM25 scoring; an orphan sidecar row
  inflates idf); per-doc posting count must equal its recorded dl (the
  tokenizer writes one row per token); no tombstoned id may appear in
  ``_doclen``'s live view implicitly — tombstones are allowed to
  reference already-vacuumed ids (idempotence), so they are NOT a
  violation, only duplicated doclen rows are.
- cell-partitioned ANN index (incremental_ann layouts): exactly one row
  per vec_id (a double-append would silently double a vector's chance
  of surfacing); every cell id within [0, n_cells) when bounded.
- id-bucketed layouts (round-9 sign/band/winnowing indexes and the
  financials fact's stock_bucket): every row's stored bucket must equal
  the md5 hash of its id — a row in the wrong bucket directory is
  INVISIBLE to the computed-bucket forget path (forget_bucketed prunes
  to the victims' hash buckets, so a misplaced row survives erasure),
  which is exactly the quiet failure a fsck exists to catch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fsck_text_index(spark: SparkSession, index_path: str) -> DataFrame:
    """One-row health report for a persisted text index:
    (n_docs_postings, n_docs_doclen, n_missing_doclen, n_orphan_doclen,
    n_len_mismatch, n_dup_doclen). All-zero violation columns = healthy."""
    postings = spark.read.parquet(index_path)
    dl = spark.read.parquet(f"{index_path}/_doclen")
    pc = postings.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_post"))
    dc = dl.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rows"), F.min("dl").alias("dl")
    )
    j = pc.join(dc, "doc_id", "full_outer")
    return j.agg(
        F.count(F.when(F.col("n_post").isNotNull(), 1)).alias("n_docs_postings"),
        F.count(F.when(F.col("n_rows").isNotNull(), 1)).alias("n_docs_doclen"),
        F.count(
            F.when(F.col("n_post").isNotNull() & F.col("n_rows").isNull(), 1)
        ).alias("n_missing_doclen"),
        F.count(
            F.when(F.col("n_rows").isNotNull() & F.col("n_post").isNull(), 1)
        ).alias("n_orphan_doclen"),
        F.count(
            F.when(
                F.col("n_post").isNotNull()
                & F.col("n_rows").isNotNull()
                & (F.col("n_post") != F.col("dl")),
                1,
            )
        ).alias("n_len_mismatch"),
        F.count(F.when(F.col("n_rows") > 1, 1)).alias("n_dup_doclen"),
    )


def fsck_ann_index(
    spark: SparkSession,
    vectors_path: str,
    n_cells: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row health report for a cell-partitioned ANN index:
    (n_rows, n_ids, n_dup_ids, n_bad_cell). A duplicated id means a
    broken skip-existing append; a cell outside [0, n_cells) means the
    router and the stored layout disagree."""
    idx = spark.read.option("mergeSchema", "true").parquet(vectors_path)
    per = idx.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    bad_cell = (
        (F.col("cell") < 0) | (F.col("cell") >= n_cells)
        if n_cells is not None
        else F.lit(False)
    )
    counts = idx.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(bad_cell, 1)).alias("n_bad_cell"),
    )
    dups = per.agg(
        F.count(F.lit(1)).alias("n_ids"),
        F.count(F.when(F.col("n") > 1, 1)).alias("n_dup_ids"),
    )
    return counts.crossJoin(F.broadcast(dups)).select(
        "n_rows", "n_ids", "n_dup_ids", "n_bad_cell"
    )


def fsck_bucket_purity(
    spark: SparkSession,
    index_path: str,
    id_col: str,
    n_buckets: int = 16,
    bucket_col: str = "bucket",
    expected=None,
) -> DataFrame:
    """One-row health report for a hash-bucketed layout:
    (n_rows, n_misplaced). Defaults audit the round-9 ``bucket=``
    index layouts (sign index, LSH band index, winnowing fingerprints
    — integer-id ``id_bucket`` contract); pass ``bucket_col`` and
    ``expected`` (a Column computing the correct bucket from the key)
    for other layouts, e.g. the financials fact::

        fsck_bucket_purity(spark, fact_path, "stock", bucket_col="stock_bucket",
                           expected=id_bucket(F.col("stock"), 64))

    A misplaced row — stored bucket != hash-bucket of its key — would
    be skipped by the computed-bucket forget path and by the upsert's
    partition-pruned rewrite (both prune to the keys' HASH buckets,
    never scanning others), so a nonzero count means erasure/upsert is
    not trustworthy until the row is re-bucketed (compact_partitions
    rewrites recover it, since the rewrite re-reads every row and
    partitionBy re-derives directories from the stored column — pair
    this audit with a targeted compaction). Column-pruned: only
    (id, bucket) are read."""
    from etl_8million_data__spark.operators.partitioning import id_bucket

    if expected is None:
        expected = id_bucket(F.col(id_col), n_buckets)
    idx = spark.read.option("mergeSchema", "true").parquet(index_path)
    checked = idx.select(
        F.col(id_col),
        F.col(bucket_col).alias("_stored"),
        expected.alias("_want"),
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("_stored") != F.col("_want"), 1)).alias("n_misplaced"),
    )


def fsck_golden_state(spark: SparkSession, root: str) -> DataFrame:
    """One-row health report for the golden-record state
    (operators/golden.py) — the cross-table invariants a delta
    maintenance bug would quietly break, checked as pure column-pruned
    reads + hash aggregates:

    - ``n_bucket_impurity``: members/edges/golden/ridmap rows whose
      stored bucket differs from the hash of their component/rid — a
      misplaced row is INVISIBLE to every bucket-pruned delta
      (the fsck_bucket_purity failure mode applied to all four tables);
    - ``n_member_ridmap_mismatch``: members whose ridmap row is missing
      or carries a different component (the pruned lookup would route a
      delta to the wrong component), plus orphan ridmap rows;
    - ``n_golden_component_mismatch``: components present in members
      but missing a golden row, or golden rows for components with no
      members (a failed partial rewrite);
    - ``n_edge_endpoint_escapes``: edge rows whose a_key endpoint is
      not a member of the edge's own component (the erase path depends
      on an edge living with its component);
    - ``n_label_violations``: components whose id is not their minimum
      member rid (the min-label convention every delta relies on to
      keep labels collision-free).
    """
    import os

    from etl_8million_data__spark.operators.bucket_store import read_nb as _nb
    from etl_8million_data__spark.operators.partitioning import id_bucket

    nb = _nb(root)

    def _state(name: str) -> DataFrame:
        # a legitimately emptied state table (e.g. golden_forget erased
        # every component, dropping the ghost partition dirs) has no
        # parquet files: fall back to golden.py's declared schema so the
        # health check reports zeros instead of raising (same `_pruned`
        # discipline as the delta doors).
        from etl_8million_data__spark.operators.bucket_store import (
            store_exists,
        )
        from etl_8million_data__spark.operators.golden import _SCHEMAS

        p = os.path.join(root, name)
        if not store_exists(p):
            # missing decided driver-side (store_exists) — a caught
            # PATH_NOT_FOUND would still land an ERROR on the
            # execution-listener bus
            return spark.createDataFrame([], _SCHEMAS[name])
        # declared schema: an emptied-but-existing table (zero parquet
        # files) reads back as an empty frame instead of a schema-
        # inference failure
        return spark.read.schema(_SCHEMAS[name]).parquet(p)

    members = _state("members")
    edges = _state("edges")
    golden = _state("golden")
    ridmap = _state("ridmap")

    def impurity(df: DataFrame, col: str, part: str) -> DataFrame:
        return df.select(
            F.sum(
                F.when(
                    F.col(part) != id_bucket(F.col(col), nb), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n")
        )

    imp = (
        impurity(members, "component", "cb")
        .unionByName(impurity(edges, "component", "cb"))
        .unionByName(impurity(golden, "component", "cb"))
        .unionByName(impurity(ridmap, "rid", "rb"))
        # coalesce: sums over legitimately EMPTY state tables are NULL;
        # the health row must read zeros, not nulls
        .agg(
            F.coalesce(F.sum("n"), F.lit(0))
            .cast("bigint")
            .alias("n_bucket_impurity")
        )
    )
    m = members.select("rid", "component")
    rm_join = m.join(
        ridmap.select("rid", F.col("component").alias("_rm_comp")),
        "rid",
        "full_outer",
    )
    rm_bad = rm_join.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("component").isNull()
                    | F.col("_rm_comp").isNull()
                    | (F.col("component") != F.col("_rm_comp")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_member_ridmap_mismatch")
    )
    # missing golden rows AND orphan golden rows, one full-outer pass
    gc = (
        m.select("component")
        .distinct()
        .withColumn("_m", F.lit(1))
        .join(golden.select("component").withColumn("_g", F.lit(1)), "component", "full_outer")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_m").isNull() | F.col("_g").isNull(), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_golden_component_mismatch")
        )
    )
    ee = edges.select(
        F.col("a_key").alias("rid"), F.col("component").alias("_e_comp")
    ).join(m, "rid", "left").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("component").isNull()
                    | (F.col("component") != F.col("_e_comp")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_edge_endpoint_escapes")
    )
    lv = m.groupBy("component").agg(F.min("rid").alias("_minrid")).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("component") != F.col("_minrid"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_label_violations")
    )
    return (
        imp.crossJoin(F.broadcast(rm_bad))
        .crossJoin(F.broadcast(gc))
        .crossJoin(F.broadcast(ee))
        .crossJoin(F.broadcast(lv))
    )
