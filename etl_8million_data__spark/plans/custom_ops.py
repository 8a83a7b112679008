"""Custom-operator queries: the batch applyInPandas grouped-map
operator (integer-exact trend slopes) and character-n-gram Jaccard
verification of LSH candidates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.operators.dedup import minhash_lsh_candidate_pairs, spread
from etl_8million_data__spark.operators.grouped import user_value_trend
from etl_8million_data__spark.functions.exact import cents, sql_cents
from etl_8million_data__spark.operators.text import normalize_text
from etl_8million_data__spark.plans.registry import register


@register(
    "events_user_trend_applyinpandas",
    oracle="""
    WITH t AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 AS sec,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    b AS (
      SELECT user_id,
             sec - min(sec) OVER (PARTITION BY user_id) AS x,
             cents AS y
      FROM t),
    a AS (
      SELECT user_id, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
      FROM b GROUP BY user_id)
    SELECT user_id, n AS n_events,
           CASE WHEN n*sxx - sx*sx = 0 THEN NULL
                ELSE CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx) * 3600.0
           END AS slope_cents_per_hour
    FROM a
    """,
    tags=("custom-op", "applyInPandas", "extension"),
)
def events_user_trend_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares value trend via the grouped-map pandas
    operator (operators/grouped.py). The closed form runs on integer
    sums, so the Arrow/pandas path is bit-identical to the SQL oracle —
    the strongest possible check that the custom-operator plumbing
    (shuffle -> Arrow batch -> pandas -> Arrow) is value-faithful."""
    return user_value_trend(load_table(spark, sf_dir, "events"))


_NORM = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
_TOKS = f"string_split({_NORM}, ' ')"
# word-shingle MinHash bands (must mirror plans/dedup.py exactly)
_SHINGLED = f"""
  SELECT doc_id,
         list_distinct(list_transform(range(len(toks) - 2),
                       i -> array_to_string(toks[i+1:i+3], ' '))) AS shingles
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
  WHERE len(toks) >= 3
"""
_SIG = """
  SELECT doc_id,
         list_transform(range(16), j ->
           list_aggregate(list_transform(shingles,
             s -> md5(j::VARCHAR || '|' || s)), 'min')) AS sig
  FROM shingled
"""
_BANDS = """
  SELECT doc_id, b.band,
         md5(array_to_string(sig[b.band*4+1 : b.band*4+4], ',')) AS band_key
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band) b
"""
_PAIRS = """
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
"""


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH shingled AS ({_SHINGLED}), sig AS ({_SIG}), bands AS ({_BANDS}),
    pairs AS ({_PAIRS}),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(length(norm) - 4),
                           i -> norm[i+1:i+5])) AS g5
      FROM (SELECT doc_id, {_NORM} AS norm FROM documents)
      WHERE length(norm) >= 5)
    SELECT p.doc_a, p.doc_b,
           len(list_intersect(ga.g5, gb.g5))
             / (len(ga.g5) + len(gb.g5) - len(list_intersect(ga.g5, gb.g5)))
             AS char5_jaccard
    FROM pairs p
    JOIN grams ga ON ga.doc_id = p.doc_a
    JOIN grams gb ON gb.doc_id = p.doc_b
    """,
    tags=("dedup", "ngram", "jaccard", "extension"),
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard for the MinHash LSH candidate pairs —
    the n-gram-level similarity check (more robust to small token edits
    than word shingles). Gram sets are computed once per doc and joined
    only for candidates."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidate_pairs(docs)
    norm = normalize_text(F.col("text"))
    grams = (
        spread(docs, "doc_id")
        .select(
            "doc_id",
            norm.alias("norm"),
        )
        .filter(F.length("norm") >= 5)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.length("norm") - 5),
                    lambda i: F.substr(F.col("norm"), i + 1, F.lit(5)),
                )
            ).alias("g5"),
        )
        .localCheckpoint(eager=True)
    )
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("g5").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("g5").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("char5_jaccard"))
    )


@register(
    "ivm_join_view_refresh",
    oracle=f"""
    SELECT c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({sql_cents('o_totalprice')}) AS BIGINT) AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
    tags=("ivm", "join", "maintenance", "extension", "persisted-view"),
)
def ivm_join_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (operators/ivm.py), proven by
    equivalence: the orders ⋈ customer view is materialized from an
    80%/90% seed of each side, then refreshed with the remaining 20%
    of orders AND 10% of customers in ONE delta call — exercising all
    three delta terms (ΔA⋈B_old, A_old⋈ΔB, ΔA⋈ΔB) — and the
    refreshed view aggregates to exactly the full-join oracle
    (split-independence IS the correctness claim of the delta
    algebra). Scale shape: the refresh never reads the stored view,
    appends only delta rows, and bounds each old-side scan by the
    opposite delta's join keys (literal IN pushed into the scan for
    small deltas — the upsert discipline); the byte-identity of the
    seed view's files and the pruned-scan metrics are pinned in
    tests/test_ivm.py."""
    import shutil

    from etl_8million_data__spark.operators.ivm import refresh_join_view
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    o_seed = o.filter(F.pmod("o_orderkey", F.lit(5)) != 0)
    o_delta = o.filter(F.pmod("o_orderkey", F.lit(5)) == 0)
    c_seed = c.filter(F.pmod("custkey", F.lit(10)) != 0)
    c_delta = c.filter(F.pmod("custkey", F.lit(10)) == 0)

    root = _persisted_index_root(sf_dir, "ivm_join_view")
    shutil.rmtree(root, ignore_errors=True)
    refresh_join_view(spark, root, o_seed, c_seed, o_delta, c_delta, ["custkey"])
    view = spark.read.parquet(root)
    return view.groupBy("mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


@register(
    "ivm_agg_view_upsert",
    oracle=f"""
    WITH upd AS (
      SELECT o_orderkey AS pk,
             CASE WHEN o_orderkey % 20 = 0 THEN 'X-MOVED'
                  ELSE o_orderpriority END AS grp,
             2 * {sql_cents('o_totalprice')} AS cents
      FROM orders WHERE o_orderkey % 10 = 0),
    ins AS (
      SELECT -(o_orderkey + 1) AS pk, o_orderpriority AS grp,
             {sql_cents('o_totalprice')} AS cents
      FROM orders WHERE o_orderkey % 50 = 0),
    keep AS (
      SELECT o_orderkey AS pk, o_orderpriority AS grp,
             {sql_cents('o_totalprice')} AS cents
      FROM orders WHERE o_orderkey % 10 <> 0),
    final AS (
      SELECT * FROM keep UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
    SELECT grp, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS s_cents
    FROM final GROUP BY 1
    """,
    tags=("ivm", "aggregate", "maintenance", "extension"),
)
def ivm_agg_view_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION-aware aggregate-view maintenance under UPSERTS
    (operators/ivm.agg_view_delta / apply_agg_delta) — the step beyond
    the rollup family's append-only maintenance: an update batch
    carrying in-place value changes (cents doubled), GROUP-MOVING
    updates (priority rewritten to 'X-MOVED' — the old group must
    shrink and the new group grow), and brand-new keys lands on a
    per-priority (count, sum) view; each updated PK's old row
    contributes negatively under its OLD group and the new row
    positively under its NEW group, the signed union aggregates to
    per-touched-group deltas, and the group-sized view absorbs them in
    one full-outer merge. Proven by equivalence: the maintained view
    hash-matches a recompute over the post-upsert base (the oracle).
    Scale shape: the only fact-scale reads are the update batch and
    the old rows of ITS pks (broadcast-semi bounded; literal-pruned on
    a partitioned base); the view merge is |groups|-sized; the
    aggregate history is never re-scanned."""
    from etl_8million_data__spark.operators.ivm import agg_view_delta, apply_agg_delta

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderpriority").alias("grp"),
        cents("o_totalprice").alias("cents"),
    )
    upd = base.filter(F.col("pk") % 10 == 0).select(
        "pk",
        F.when(F.col("pk") % 20 == 0, F.lit("X-MOVED"))
        .otherwise(F.col("grp"))
        .alias("grp"),
        (F.col("cents") * 2).alias("cents"),
    )
    ins = base.filter(F.col("pk") % 50 == 0).select(
        (-(F.col("pk") + 1)).alias("pk"), "grp", "cents"
    )
    updates = upd.unionByName(ins)
    view0 = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s_cents"),
    )
    delta = agg_view_delta(base, updates, "pk", ["grp"], ["cents"])
    return apply_agg_delta(view0, delta, ["grp"], ["cents"])


@register(
    "ivm_join_view_retract",
    oracle=f"""
    SELECT c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({sql_cents('o_totalprice')}) AS BIGINT) AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey % 9 <> 0 AND o_orderkey % 7 <> 0
    GROUP BY 1
    """,
    tags=("ivm", "join", "maintenance", "retraction", "extension", "persisted-view"),
)
def ivm_join_view_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION-aware join-view maintenance
    (operators/ivm.retract_join_view) — the deletes door the round-9
    append-only algebra lacked: the materialized orders ⋈ customer
    view (id-bucketed by custkey) absorbs TWO erasure shapes without
    any join re-execution or base re-scan, because Δ⁻A ⋈ B is exactly
    the stored view rows carrying the deleted keys:
    (1) a GDPR erase of customers (custkey % 9 — the BUCKET key):
    computed-bucket pruned rewrite, victims' buckets derived from the
    ids alone; (2) a fact-side delete of orders (orderkey % 7 — NOT
    the bucket key): located-partition pruned rewrite via a
    column-pruned lookup — never hashing a non-bucket column into
    partition names (the fsck_bucket_purity failure mode). Proven by
    equivalence: the maintained view aggregates to a recompute over
    the post-delete inputs (the oracle). Byte-identity of untouched
    buckets and miss-is-no-op replay are pinned in tests/test_ivm.py;
    updates compose as retract-then-append (join_view_delta)."""
    import shutil

    from etl_8million_data__spark.operators.ivm import retract_join_view
    from etl_8million_data__spark.operators.partitioning import id_bucket
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    root = _persisted_index_root(sf_dir, "ivm_join_view_retract")
    shutil.rmtree(root, ignore_errors=True)
    (
        o.join(c, "custkey")
        .withColumn("bucket", id_bucket(F.col("custkey"), 16))
        .write.partitionBy("bucket")
        .parquet(root)
    )
    retract_join_view(
        spark, root, c.filter(F.col("custkey") % 9 == 0).select("custkey"), "custkey"
    )
    retract_join_view(
        spark,
        root,
        o.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        "o_orderkey",
        locate_partitions=["bucket"],
    )
    view = spark.read.parquet(root)
    return view.groupBy("mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


@register(
    "ivm_agg_view_delete",
    oracle=f"""
    SELECT o_orderpriority AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum({sql_cents('o_totalprice')}) AS BIGINT) AS s_cents
    FROM orders WHERE o_orderkey % 7 <> 0
    GROUP BY 1
    """,
    tags=("ivm", "aggregate", "maintenance", "retraction", "extension"),
)
def ivm_agg_view_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-retraction maintenance for aggregate views
    (operators/ivm.agg_view_delete_delta) — completing the maintenance
    matrix: join views × {{append, delete}} and aggregate views ×
    {{append (rollups), upsert, delete}}. Erasing every 7th order from
    a per-priority (count, sum) view contributes (−1, −cents) per
    deleted row under its group; the signed delta aggregates to
    |touched groups| rows and the group-sized view absorbs it in one
    full-outer merge (emptied groups drop). Proven by equivalence to a
    recompute over the post-delete base (the oracle). The only base
    read is the victims' own rows — compose with operators/forget on
    the base file and a GDPR erase updates base AND aggregate view in
    delta time; the group-move/empty-drop edge cases are pinned in
    tests/test_ivm.py."""
    from etl_8million_data__spark.operators.ivm import (
        agg_view_delete_delta,
        apply_agg_delta,
    )

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderpriority").alias("grp"),
        cents("o_totalprice").alias("cents"),
    )
    view0 = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s_cents"),
    )
    victims = base.filter(F.col("pk") % 7 == 0).select("pk")
    delta = agg_view_delete_delta(base, victims, "pk", ["grp"], ["cents"])
    return apply_agg_delta(view0, delta, ["grp"], ["cents"])


@register(
    "ops_table_diff",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c,
             o_orderpriority AS prio, o_custkey AS cust
      FROM orders),
    b AS (
      SELECT k,
             CASE WHEN k % 7 = 0 THEN price_c * 2 ELSE price_c END AS price_c,
             prio, cust
      FROM a WHERE k % 13 <> 0
      UNION ALL
      SELECT -(k + 1), price_c, prio, cust FROM a WHERE k % 11 = 0),
    j AS (
      SELECT coalesce(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.price_c IS DISTINCT FROM b.price_c
                       OR a.prio IS DISTINCT FROM b.prio
                       OR a.cust IS DISTINCT FROM b.cust THEN 'changed'
             END AS change
      FROM a FULL OUTER JOIN b ON a.k = b.k)
    SELECT k, change FROM j WHERE change IS NOT NULL
    """,
    tags=("ops", "diff", "validation", "extension", "scale-path"),
)
def ops_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERKLE-STYLE TABLE DIFF (operators/diff.py) — the
    migration/backfill validator: two versions of the orders table
    (version B deletes every 13th key, doubles every 7th's price, and
    inserts a new negative-key row per 11th) are persisted in the
    `kb=` bucket layout and diffed in two phases: per-bucket
    order-insensitive checksums prove identical buckets equal with
    |buckets| shuffled rows, then ONLY the differing buckets' files are
    re-read (literal partition filter, scan-metrics asserted in
    tests/test_table_diff.py) and full-outer joined by key into
    (k, change) rows — added / removed / changed, unchanged rows never
    emitted. The oracle recomputes the diff by comparing REAL column
    values, so the engine's row-hash classification is itself gated
    (a hash collision would hash-mismatch here). At 1% drift the
    expensive phase touches ~1% of the data; identical tables
    short-circuit after phase 1.

    Scale shape: phase 1 is one map-side-combined aggregate per side
    (shuffle = |buckets| rows); phase 2's scans and join are bounded by
    the differing buckets; nothing ever full-outer joins the whole
    tables."""
    import os
    import shutil

    from etl_8million_data__spark.operators.diff import diff_tables, write_bucketed
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_custkey").alias("cust"),
    )
    b = (
        o.filter(F.col("k") % 13 != 0)
        .select(
            "k",
            F.when(F.col("k") % 7 == 0, F.col("price_c") * 2)
            .otherwise(F.col("price_c"))
            .alias("price_c"),
            "prio",
            "cust",
        )
        .unionByName(
            o.filter(F.col("k") % 11 == 0).select(
                (-(F.col("k") + 1)).alias("k"), "price_c", "prio", "cust"
            )
        )
    )
    root = _persisted_index_root(sf_dir, "table_diff")
    shutil.rmtree(root, ignore_errors=True)
    write_bucketed(o, os.path.join(root, "a"), "k")
    write_bucketed(b, os.path.join(root, "b"), "k")
    return diff_tables(
        spark,
        os.path.join(root, "a"),
        os.path.join(root, "b"),
        ["k"],
        ["price_c", "prio", "cust"],
    )


@register(
    "ops_replica_audit",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c,
             o_orderpriority AS prio, o_custkey AS cust
      FROM orders),
    b AS (
      SELECT k, price_c,
             prio,
             CASE WHEN k % 5 = 0 THEN cust + 1000000 ELSE cust END AS cust
      FROM a WHERE k % 17 <> 0
      UNION ALL
      SELECT -(k + 2), price_c, prio, cust FROM a WHERE k % 19 = 0),
    j AS (
      SELECT coalesce(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.price_c IS DISTINCT FROM b.price_c
                       OR a.prio IS DISTINCT FROM b.prio
                       OR a.cust IS DISTINCT FROM b.cust THEN 'changed'
             END AS change
      FROM a FULL OUTER JOIN b ON a.k = b.k)
    SELECT k, change FROM j WHERE change IS NOT NULL
    """,
    tags=("ops", "diff", "validation", "incremental", "extension",
          "scale-path", "persisted-view"),
)
def ops_replica_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAT-COST REPLICA AUDIT (operators/diff.py checksum summaries) —
    the routine "is my replica in sync" check at 100 TB: both table
    versions are written with a persisted per-bucket (checksum, count)
    summary (`_checksums/` sidecar, seeded once at write; every later
    rewrite through bucket_store.overwrite_buckets re-derives ONLY its
    touched buckets' rows), so diff_tables' phase 1 reads 2 x nb
    summary rows instead of scanning either table — proven physically
    in tests/test_table_diff.py, where a garbage file planted in a
    non-differing bucket breaks the full-scan phase 1 but not this
    path. Phase 2 still literal-prunes to the differing buckets and
    compares real rows, and the DuckDB oracle recomputes the whole
    diff from column values, so the summary acceleration is gated
    end-to-end. Version B drops every 17th key, bumps every 5th's
    custkey, and inserts a negative-key row per 19th.

    Scale shape: phase 1 = 2 x nb summary rows (flat in table size —
    gated by the --diff-summary scaling probe); phase 2 bounded by the
    drift. The doors pay one bounded per-rewrite summary splice, which
    is the right trade for any table audited more often than every
    bucket is rewritten."""
    import os
    import shutil

    from etl_8million_data__spark.operators.diff import diff_tables, write_bucketed
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_custkey").alias("cust"),
    )
    b = (
        o.filter(F.col("k") % 17 != 0)
        .select(
            "k",
            "price_c",
            "prio",
            F.when(F.col("k") % 5 == 0, F.col("cust") + 1000000)
            .otherwise(F.col("cust"))
            .alias("cust"),
        )
        .unionByName(
            o.filter(F.col("k") % 19 == 0).select(
                (-(F.col("k") + 2)).alias("k"), "price_c", "prio", "cust"
            )
        )
    )
    root = _persisted_index_root(sf_dir, "replica_audit")
    shutil.rmtree(root, ignore_errors=True)
    write_bucketed(o, os.path.join(root, "a"), "k", checksums=True)
    write_bucketed(b, os.path.join(root, "b"), "k", checksums=True)
    return diff_tables(
        spark,
        os.path.join(root, "a"),
        os.path.join(root, "b"),
        ["k"],
        ["price_c", "prio", "cust"],
    )


@register(
    "ops_version_cdc",
    oracle=f"""
    WITH v2 AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c,
             o_orderpriority AS prio
      FROM orders),
    v3 AS (
      SELECT k,
             CASE WHEN k % 9 = 0 THEN price_c + 1 ELSE price_c END AS price_c,
             prio
      FROM v2 WHERE k % 23 <> 0
      UNION ALL
      SELECT -(k + 3), price_c, prio FROM v2 WHERE k % 29 = 0),
    j AS (
      SELECT coalesce(v2.k, v3.k) AS k,
             CASE WHEN v2.k IS NULL THEN 'insert'
                  WHEN v3.k IS NULL THEN 'delete'
                  WHEN v2.price_c IS DISTINCT FROM v3.price_c
                       OR v2.prio IS DISTINCT FROM v3.prio THEN 'update'
             END AS change_type,
             CASE WHEN v3.k IS NOT NULL THEN v3.price_c
                  ELSE v2.price_c END AS price_c,
             CASE WHEN v3.k IS NOT NULL THEN v3.prio
                  ELSE v2.prio END AS prio
      FROM v2 FULL OUTER JOIN v3 ON v2.k = v3.k)
    SELECT change_type, k, price_c, prio FROM j WHERE change_type IS NOT NULL
    """,
    tags=("ops", "versioned", "cdc", "diff", "incremental", "extension",
          "scale-path", "persisted-view"),
)
def ops_version_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-PRUNED CDC between table versions
    (operators/versioned.commit_bucketed / table_changes_pruned) — the
    version-level form of the round-12 checksum summaries: every
    bucketed commit stores its per-bucket (checksum, count) rows IN THE
    MANIFEST, so the differing-bucket set between ANY two versions is
    computed from driver metadata alone — zero data reads for phase 1 —
    and only those buckets' rows full-outer join for insert / update /
    delete classification with post-image values (pre-image for
    deletes). Version 3 deletes every 23rd key, bumps every 9th's
    price, and inserts a negative-key row per 29th; the oracle
    recomputes the whole CDC from column values, gating the
    classification AND the summary acceleration end-to-end. The
    physical no-read proof (garbage file in a clean bucket of BOTH
    snapshots breaks the full-join CDC but not this path) lives in
    tests/test_versioned.py.

    Scale shape: phase 1 is a dict comparison of 2 x nb manifest rows;
    the joins and scans are bounded by the drift's buckets — CDC
    between adjacent versions of a 100 TB table with 0.1% churn reads
    ~0.1% of it. The summary costs one map-side aggregate at commit,
    amortized into the snapshot write's checkpoint."""
    import shutil

    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
        F.col("o_orderpriority").alias("prio"),
    )
    b = (
        o.filter(F.col("k") % 23 != 0)
        .select(
            "k",
            F.when(F.col("k") % 9 == 0, F.col("price_c") + 1)
            .otherwise(F.col("price_c"))
            .alias("price_c"),
            "prio",
        )
        .unionByName(
            o.filter(F.col("k") % 29 == 0).select(
                (-(F.col("k") + 3)).alias("k"), "price_c", "prio"
            )
        )
    )
    root = _persisted_index_root(sf_dir, "version_cdc")
    shutil.rmtree(root, ignore_errors=True)
    v1 = V.commit_bucketed(spark, o, root, "k")
    v2 = V.commit_bucketed(spark, b, root, "k", op="upsert")
    return V.table_changes_pruned(spark, root, ["k"], v1, v2).select(
        F.col("_change_type").alias("change_type"), "k", "price_c", "prio"
    )


@register(
    "ops_store_lifecycle_audit",
    oracle=f"""
    WITH final AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c
      FROM orders WHERE o_orderkey % 5 <> 0)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT
                  ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT % 16)
                AS BIGINT) AS n_buckets,
           CAST(0 AS BIGINT) AS n_mismatched,
           CAST(sum(price_c) AS BIGINT) AS price_c_total
    FROM final
    """,
    tags=("ops", "diff", "incremental", "maintenance", "extension",
          "scale-path", "persisted-view"),
)
def ops_store_lifecycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-DOOR LIFECYCLE AUDIT for the checksummed bucket store
    (operators/diff.py): one table lives through every write door —
    seeded with a third of orders (checksummed write), grown to full
    through :func:`append_bucketed` (ADDITIVE summary update: the
    batch's per-bucket hash sums add onto the stored rows, no table
    rescan), shrunk through :func:`delete_keys_bucketed` (victims'
    buckets computed from the victim list, pruned rewrite, overwrite
    hook) — and the audit row proves the summary stayed honest
    throughout: n_mismatched comes from checksums_fsck (summary vs
    fresh full recompute), n_buckets from the summary's own rows, and
    n_rows/price_c_total from the final table. The oracle recomputes
    everything from the construction — including n_buckets via the
    SAME md5 bucket hash (engine-portable by design) — so a drifted
    summary fails the hash compare, not just the fsck column.

    Scale shape: the append's summary cost is one map-side aggregate
    over the batch; the delete reads only the victims' buckets; the
    fsck is the one deliberate full pass (the trust anchor a real
    deployment runs on a schedule, not per write)."""
    import shutil

    from etl_8million_data__spark.operators.diff import (
        append_bucketed,
        checksums_fsck,
        delete_keys_bucketed,
        read_checksums,
        write_bucketed,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    root = _persisted_index_root(sf_dir, "store_lifecycle")
    shutil.rmtree(root, ignore_errors=True)
    write_bucketed(o.filter(F.col("k") % 3 != 0), root, "k", checksums=True)
    append_bucketed(o.filter(F.col("k") % 3 == 0), root, "k")
    delete_keys_bucketed(
        spark, root, o.filter(F.col("k") % 5 == 0).select("k"), "k"
    )
    fsck = checksums_fsck(spark, root).select("n_mismatched")
    _, summ = read_checksums(spark, root)
    n_buckets = summ.agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
    totals = (
        spark.read.parquet(root)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("price_c").cast("bigint").alias("price_c_total"),
        )
    )
    return (
        totals.crossJoin(F.broadcast(n_buckets))
        .crossJoin(F.broadcast(fsck))
        .select("n_rows", "n_buckets", "n_mismatched", "price_c_total")
    )


@register(
    "ops_cdc_apply",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c,
             o_orderpriority AS prio
      FROM orders),
    v2 AS (
      SELECT k,
             CASE WHEN k % 8 = 0 THEN price_c + 5 ELSE price_c END AS price_c,
             prio
      FROM v1 WHERE k % 21 <> 0
      UNION ALL
      SELECT -(k + 4), price_c, prio FROM v1 WHERE k % 27 = 0)
    SELECT CAST((SELECT count(*) FROM v2 WHERE k < 0) AS BIGINT) AS n_insert,
           CAST((SELECT count(*) FROM v1
                 WHERE k % 21 <> 0 AND k % 8 = 0) AS BIGINT) AS n_update,
           CAST((SELECT count(*) FROM v1 WHERE k % 21 = 0) AS BIGINT)
             AS n_delete,
           CAST(0 AS BIGINT) AS n_drift,
           CAST((SELECT count(*) FROM v2) AS BIGINT) AS n_rows,
           CAST((SELECT sum(price_c) FROM v2) AS BIGINT) AS price_c_total
    """,
    tags=("ops", "versioned", "cdc", "diff", "incremental", "extension",
          "scale-path", "persisted-view"),
)
def ops_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FULL REPLICATION LOOP, drift-bounded end to end: the source
    table commits v1 and v2 through the manifest-summarized versioned
    store; the CDC between them resolves its differing buckets from
    MANIFEST METADATA (table_changes_pruned — zero phase-1 data reads);
    :func:`operators.diff.apply_changes` applies the change frame to a
    v1 replica reading only the changed keys' buckets (the post-image
    upsert + keyed delete through the overwrite door, which also keeps
    the replica's checksum summary honest); and the audit —
    diff_tables with summaries on both sides — proves the replica
    converged by reading 2 x nb summary rows. Nothing in the loop ever
    scans an unchanged bucket. Output: per-class change counts, the
    audit's drift row count (0), and the converged replica's totals —
    all recomputed from the construction by the oracle, so the send
    side, the apply side, AND the audit are hash-gated together.

    Scale shape: CDC phase 1 is a manifest dict comparison; the apply
    and the final audit are bounded by the drift's buckets; the replica
    totals are the one deliberate full aggregate (the deliverable)."""
    import shutil

    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.operators.diff import (
        apply_changes,
        diff_tables,
        write_bucketed,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
        F.col("o_orderpriority").alias("prio"),
    )
    b = (
        o.filter(F.col("k") % 21 != 0)
        .select(
            "k",
            F.when(F.col("k") % 8 == 0, F.col("price_c") + 5)
            .otherwise(F.col("price_c"))
            .alias("price_c"),
            "prio",
        )
        .unionByName(
            o.filter(F.col("k") % 27 == 0).select(
                (-(F.col("k") + 4)).alias("k"), "price_c", "prio"
            )
        )
    )
    root = _persisted_index_root(sf_dir, "cdc_apply")
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/source"
    v1 = V.commit_bucketed(spark, o, src, "k")
    v2 = V.commit_bucketed(spark, b, src, "k", op="upsert")

    replica = f"{root}/replica"
    write_bucketed(o, replica, "k", checksums=True)
    ch = V.table_changes_pruned(spark, src, ["k"], v1, v2).localCheckpoint(
        eager=False
    )
    counts = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    apply_changes(spark, replica, ch, "k")

    expected = f"{root}/expected"
    write_bucketed(b, expected, "k", checksums=True)
    drift = diff_tables(
        spark, replica, expected, ["k"], ["price_c", "prio"]
    ).count()
    totals = spark.read.parquet(replica).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price_c").cast("bigint").alias("price_c_total"),
    )
    return totals.select(
        F.lit(counts.get("insert", 0)).cast("bigint").alias("n_insert"),
        F.lit(counts.get("update", 0)).cast("bigint").alias("n_update"),
        F.lit(counts.get("delete", 0)).cast("bigint").alias("n_delete"),
        F.lit(drift).cast("bigint").alias("n_drift"),
        "n_rows",
        "price_c_total",
    )


def _sql_kb(expr: str, nb: int = 16) -> str:
    """DuckDB twin of operators/partitioning.id_bucket (md5 prefix mod
    nb) — engine-portable by construction."""
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % {nb})"


@register(
    "ops_store_compaction_audit",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c,
             o_orderkey % 3 AS g, {_sql_kb('o_orderkey')} AS b
      FROM orders),
    fb AS (SELECT b, count(DISTINCT g) AS gs FROM t GROUP BY b)
    SELECT CAST((SELECT sum(gs) FROM fb) AS BIGINT) AS n_files_before,
           CAST((SELECT count(*) FROM fb WHERE gs >= 2) AS BIGINT)
             AS n_compacted,
           CAST((SELECT count(*) FROM fb) AS BIGINT) AS n_files_after,
           CAST(0 AS BIGINT) AS n_mismatched,
           CAST((SELECT count(*) FROM t) AS BIGINT) AS n_rows,
           CAST((SELECT sum(price_c) FROM t) AS BIGINT) AS price_c_total
    """,
    tags=("ops", "diff", "maintenance", "compaction", "extension",
          "scale-path", "persisted-view"),
)
def ops_store_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET-AWARE COMPACTION (bucket_store.compact_buckets) — paying
    off the append doors' small-files debt while keeping the layout AND
    the checksum summary: every append lands one file per touched
    bucket per batch, so after a seed + two appends a bucket touched by
    g of the 3 writes holds g files (the oracle recomputes the whole
    file census from the same md5 bucket hash). Compaction merges every
    >1-file bucket back to ONE file through the overwrite door — which
    re-derives ONLY the touched buckets' summary rows, so the fsck
    audits clean (n_mismatched) with no full recompute — and leaves
    single-file buckets byte-identical (asserted in
    tests/test_store_lifecycle.py). Totals prove content survived.

    Scale shape: compaction reads and rewrites exactly the debt-bearing
    buckets (partition-pruned, pinned-schema read); the trigger is a
    per-bucket file count off the directory listing — the same listing
    a probe pays for, which is the cost being reclaimed. After N
    streaming batches the listing cost is N files/bucket; after
    compaction it is 1, flat in history (gated by the --compaction
    scaling probe)."""
    import shutil

    from etl_8million_data__spark.operators.bucket_store import (
        bucket_file_counts,
        compact_buckets,
    )
    from etl_8million_data__spark.operators.diff import (
        append_bucketed,
        checksums_fsck,
        write_bucketed,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    root = _persisted_index_root(sf_dir, "store_compaction")
    shutil.rmtree(root, ignore_errors=True)
    write_bucketed(o.filter(F.col("k") % 3 == 0), root, "k", checksums=True)
    append_bucketed(o.filter(F.col("k") % 3 == 1), root, "k")
    append_bucketed(o.filter(F.col("k") % 3 == 2), root, "k")
    n_before = sum(bucket_file_counts(root, "kb").values())
    n_compacted = compact_buckets(spark, root, "kb")
    n_after = sum(bucket_file_counts(root, "kb").values())
    fsck = checksums_fsck(spark, root).select("n_mismatched")
    totals = spark.read.parquet(root).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price_c").cast("bigint").alias("price_c_total"),
    )
    return totals.crossJoin(F.broadcast(fsck)).select(
        F.lit(n_before).cast("bigint").alias("n_files_before"),
        F.lit(n_compacted).cast("bigint").alias("n_compacted"),
        F.lit(n_after).cast("bigint").alias("n_files_after"),
        "n_mismatched",
        "n_rows",
        "price_c_total",
    )


@register(
    "advisor_compaction",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey AS k, o_orderkey % 3 AS g, {_sql_kb('o_orderkey')} AS b
      FROM orders),
    fb AS (SELECT b, count(DISTINCT g) AS gs FROM t GROUP BY b)
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(gs) AS BIGINT) AS n_files,
           CAST(max(gs) AS BIGINT) AS max_files_per_bucket,
           CAST(sum(CASE WHEN gs > 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_debt_buckets,
           CAST(sum(CASE WHEN gs > 2 THEN gs - 1 ELSE 0 END) AS BIGINT)
             AS debt_files,
           CASE WHEN sum(CASE WHEN gs > 2 THEN 1 ELSE 0 END) > 0
                THEN 'compact' ELSE 'keep' END AS action_before,
           CAST(sum(CASE WHEN gs > 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_compacted,
           'keep' AS action_after
    FROM fb
    """,
    tags=("advisor", "ops", "maintenance", "compaction", "extension",
          "scale-path", "persisted-view"),
)
def advisor_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION ADVISOR (bucket_store.advise_compaction) — the
    measure-then-advise arm the compaction door
    (ops_store_compaction_audit) was missing: WHEN to compact is read
    off the store's own per-bucket file census, the same listing every
    pruned probe pays (which is exactly the cost compaction reclaims),
    never a schedule. The construction is the compaction audit's —
    seed + two appends land one file per touched bucket per write, so
    a bucket touched by g of the 3 writes holds g files — and the
    DuckDB oracle recomputes the entire census (files per bucket, debt
    buckets over the threshold, reclaimable listing entries) from the
    same md5 bucket hash, then the compact/keep decisions before and
    after the door runs: 'compact' while any bucket exceeds the
    threshold, 'keep' after the door flattens them (n_compacted equals
    the advised debt-bucket count — advice and door agree).

    Scale shape: the advisor is one directory listing bounded by the
    layout's bucket count, zero Spark jobs, zero data reads; the door
    it arms rewrites only the debt buckets."""
    import shutil

    from etl_8million_data__spark.operators.bucket_store import (
        advise_compaction,
        compact_buckets,
    )
    from etl_8million_data__spark.operators.diff import (
        append_bucketed,
        write_bucketed,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    root = _persisted_index_root(sf_dir, "advisor_compaction")
    shutil.rmtree(root, ignore_errors=True)
    write_bucketed(o.filter(F.col("k") % 3 == 0), root, "k")
    append_bucketed(o.filter(F.col("k") % 3 == 1), root, "k")
    append_bucketed(o.filter(F.col("k") % 3 == 2), root, "k")
    adv = advise_compaction(root, max_files=2)
    n_compacted = compact_buckets(spark, root, "kb", max_files=2)
    after = advise_compaction(root, max_files=2)
    return spark.createDataFrame(
        [
            (
                adv["n_buckets"],
                adv["n_files"],
                adv["max_files_per_bucket"],
                adv["n_debt_buckets"],
                adv["debt_files"],
                adv["action"],
                n_compacted,
                after["action"],
            )
        ],
        "n_buckets bigint, n_files bigint, max_files_per_bucket bigint,"
        " n_debt_buckets bigint, debt_files bigint, action_before string,"
        " n_compacted bigint, action_after string",
    )


@register(
    "ops_cdc_apply_versioned",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c,
             o_orderpriority AS prio
      FROM orders),
    v2 AS (
      SELECT k,
             CASE WHEN k % 9 = 0 THEN price_c + 7 ELSE price_c END AS price_c,
             prio
      FROM v1 WHERE k % 22 <> 0
      UNION ALL
      SELECT -(k + 6), price_c, prio FROM v1 WHERE k % 31 = 0),
    v3 AS (
      SELECT k,
             CASE WHEN k > 0 AND k % 12 = 0 THEN price_c + 11
                  ELSE price_c END AS price_c,
             prio
      FROM v2 WHERE NOT (k > 0 AND k % 26 = 0)
      UNION ALL
      SELECT -(k + 1000000), price_c, prio FROM v2
      WHERE k > 0 AND k % 41 = 0),
    ch12 AS (
      SELECT k FROM v1 WHERE k % 22 = 0
      UNION ALL SELECT k FROM v1 WHERE k % 22 <> 0 AND k % 9 = 0
      UNION ALL SELECT -(k + 6) FROM v1 WHERE k % 31 = 0),
    ch23 AS (
      SELECT k FROM v2 WHERE k > 0 AND k % 26 = 0
      UNION ALL SELECT k FROM v2
        WHERE k > 0 AND k % 26 <> 0 AND k % 12 = 0
      UNION ALL SELECT -(k + 1000000) FROM v2 WHERE k > 0 AND k % 41 = 0)
    SELECT CAST((SELECT count(*) FROM ch12) AS BIGINT) AS n_ch12,
           CAST((SELECT count(*) FROM ch23) AS BIGINT) AS n_ch23,
           CAST((SELECT count(*) FROM ch12
                 WHERE k NOT IN (SELECT k FROM ch23)) AS BIGINT)
             AS n_applied_late,
           CAST(0 AS BIGINT) AS n_redelivered,
           CAST(0 AS BIGINT) AS n_drift,
           CAST((SELECT count(*) FROM v3) AS BIGINT) AS n_rows,
           CAST((SELECT sum(price_c) FROM v3) AS BIGINT) AS price_c_total
    """,
    tags=("ops", "versioned", "cdc", "diff", "incremental", "extension",
          "scale-path", "persisted-view"),
)
def ops_cdc_apply_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-ORDER-SAFE REPLICATION (diff.apply_changes_versioned):
    the source commits v1 -> v2 -> v3; the two adjacent CDC frames are
    read WITH their commit version (table_changes_pruned
    include_version=True — phase 1 still from manifest metadata alone)
    and applied to a v1 replica IN THE WRONG ORDER: the v2->v3 frame
    first, then the v1->v2 frame, then the v2->v3 frame AGAIN
    (redelivery). Max-version-wins per key makes all three applies
    converge to exactly the v3 image: the late v1->v2 frame lands only
    its keys NOT superseded by v3 (n_applied_late — recomputed by the
    oracle from the construction), the redelivery applies zero rows,
    deletes persist as version-carrying tombstones (read_replica hides
    them; diff.vacuum_tombstones reclaims those behind the producer's
    replay horizon, rewriting only their buckets), and the replica audit vs an independently built v3 table
    shows zero drift. The v3 insert keys are offset by 1e6 so the two
    insert generations never collide at test scales.

    Scale shape: every apply reads only the frame keys' buckets (the
    version comparison joins the PRUNED old rows, broadcast change
    keys); tombstone space is reclaimed by vacuum_tombstones with a version
    floor trailing the replay horizon, not by unbounded retention."""
    import shutil

    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.operators.diff import (
        apply_changes_versioned,
        diff_tables,
        read_replica,
        write_bucketed,
        write_replica,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
        F.col("o_orderpriority").alias("prio"),
    )
    s2 = (
        o.filter(F.col("k") % 22 != 0)
        .select(
            "k",
            F.when(F.col("k") % 9 == 0, F.col("price_c") + 7)
            .otherwise(F.col("price_c"))
            .alias("price_c"),
            "prio",
        )
        .unionByName(
            o.filter(F.col("k") % 31 == 0).select(
                (-(F.col("k") + 6)).alias("k"), "price_c", "prio"
            )
        )
    )
    s3 = (
        s2.filter(~((F.col("k") > 0) & (F.col("k") % 26 == 0)))
        .select(
            "k",
            F.when(
                (F.col("k") > 0) & (F.col("k") % 12 == 0),
                F.col("price_c") + 11,
            )
            .otherwise(F.col("price_c"))
            .alias("price_c"),
            "prio",
        )
        .unionByName(
            s2.filter((F.col("k") > 0) & (F.col("k") % 41 == 0)).select(
                (-(F.col("k") + 1000000)).alias("k"), "price_c", "prio"
            )
        )
    )
    root = _persisted_index_root(sf_dir, "cdc_apply_versioned")
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/source"
    v1 = V.commit_bucketed(spark, o, src, "k")
    v2 = V.commit_bucketed(spark, s2, src, "k", op="upsert")
    v3 = V.commit_bucketed(spark, s3, src, "k", op="upsert")

    ch12 = V.table_changes_pruned(
        spark, src, ["k"], v1, v2, include_version=True
    ).localCheckpoint(eager=False)
    ch23 = V.table_changes_pruned(
        spark, src, ["k"], v2, v3, include_version=True
    ).localCheckpoint(eager=False)
    n_ch12, n_ch23 = ch12.count(), ch23.count()

    replica = f"{root}/replica"
    write_replica(o, replica, "k", version=v1)
    applied_23 = apply_changes_versioned(spark, replica, ch23, "k")
    assert applied_23 == n_ch23
    n_applied_late = apply_changes_versioned(spark, replica, ch12, "k")
    n_redelivered = apply_changes_versioned(spark, replica, ch23, "k")

    expected = f"{root}/expected"
    write_bucketed(s3, expected, "k", checksums=True)
    visible = f"{root}/visible"
    write_bucketed(read_replica(spark, replica), visible, "k", checksums=True)
    drift = diff_tables(
        spark, visible, expected, ["k"], ["price_c", "prio"]
    ).count()
    totals = spark.read.parquet(visible).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price_c").cast("bigint").alias("price_c_total"),
    )
    return totals.select(
        F.lit(n_ch12).cast("bigint").alias("n_ch12"),
        F.lit(n_ch23).cast("bigint").alias("n_ch23"),
        F.lit(n_applied_late).cast("bigint").alias("n_applied_late"),
        F.lit(n_redelivered).cast("bigint").alias("n_redelivered"),
        F.lit(drift).cast("bigint").alias("n_drift"),
        "n_rows",
        "price_c_total",
    )


@register(
    "ops_cdc_producer_stream",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c
      FROM orders),
    v2 AS (
      SELECT k,
             CASE WHEN k % 10 = 0 THEN price_c + 3 ELSE price_c END AS price_c
      FROM v1 WHERE k % 24 <> 0
      UNION ALL
      SELECT -(k + 7), price_c FROM v1 WHERE k % 37 = 0),
    v3 AS (
      SELECT k,
             CASE WHEN k > 0 AND k % 15 = 0 THEN price_c + 9
                  ELSE price_c END AS price_c
      FROM v2 WHERE NOT (k > 0 AND k % 28 = 0)
      UNION ALL
      SELECT -(k + 2000000), price_c FROM v2 WHERE k > 0 AND k % 43 = 0)
    SELECT CAST(2 AS BIGINT) AS n_published,
           CAST(0 AS BIGINT) AS n_republished,
           CAST(0 AS BIGINT) AS n_drift,
           CAST((SELECT count(*) FROM v3) AS BIGINT) AS n_rows,
           CAST((SELECT sum(price_c) FROM v3) AS BIGINT) AS price_c_total
    """,
    tags=("ops", "versioned", "cdc", "streaming", "incremental",
          "extension", "scale-path", "persisted-view"),
)
def ops_cdc_producer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CONTINUOUS REPLICATION LOOP END TO END (operators/cdc_log.py
    + diff.stream_apply_changes): commits v1 -> v2 -> v3 on the source
    are TAILED into a file-based change log (publish_changes — each
    version ships its metadata-pruned CDC frame with _commit_version;
    the resumable watermark makes a re-publish ship zero versions), a
    file-source STREAM consumes the log, and each micro-batch applies
    through the versioned max-version-wins door — so the loop is safe
    under the file source's at-least-once redelivery AND any batch
    reordering. The final audit diffs the replica's visible rows
    against an independently built v3 table (zero drift), and the
    oracle recomputes the v3 totals from the construction, gating
    producer, transport, apply, and audit together.

    Scale shape: each published frame is drift-sized (differing buckets
    only, phase 1 from manifest metadata); the consumer's applies read
    only the frame keys' buckets; the audit reads 2 x nb summary rows.
    Nothing in the loop ever scans an unchanged bucket of either
    table."""
    import shutil

    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.operators.cdc_log import (
        changes_stream,
        publish_changes,
    )
    from etl_8million_data__spark.operators.diff import (
        diff_tables,
        read_replica,
        stream_apply_changes,
        write_bucketed,
        write_replica,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    s2 = (
        o.filter(F.col("k") % 24 != 0)
        .select(
            "k",
            F.when(F.col("k") % 10 == 0, F.col("price_c") + 3)
            .otherwise(F.col("price_c"))
            .alias("price_c"),
        )
        .unionByName(
            o.filter(F.col("k") % 37 == 0).select(
                (-(F.col("k") + 7)).alias("k"), "price_c"
            )
        )
    )
    s3 = (
        s2.filter(~((F.col("k") > 0) & (F.col("k") % 28 == 0)))
        .select(
            "k",
            F.when(
                (F.col("k") > 0) & (F.col("k") % 15 == 0),
                F.col("price_c") + 9,
            )
            .otherwise(F.col("price_c"))
            .alias("price_c"),
        )
        .unionByName(
            s2.filter((F.col("k") > 0) & (F.col("k") % 43 == 0)).select(
                (-(F.col("k") + 2000000)).alias("k"), "price_c"
            )
        )
    )
    root = _persisted_index_root(sf_dir, "cdc_producer")
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/source"
    v1 = V.commit_bucketed(spark, o, src, "k")
    V.commit_bucketed(spark, s2, src, "k", op="upsert")
    V.commit_bucketed(spark, s3, src, "k", op="upsert")

    log = f"{root}/log"
    n_published = publish_changes(spark, src, log, ["k"], from_version=v1)
    n_republished = publish_changes(spark, src, log, ["k"])

    replica = f"{root}/replica"
    write_replica(o, replica, "k", version=v1)
    q = stream_apply_changes(
        changes_stream(spark, log), replica, "k", f"{root}/ck"
    )
    q.awaitTermination(120)

    expected = f"{root}/expected"
    write_bucketed(s3, expected, "k", checksums=True)
    visible = f"{root}/visible"
    write_bucketed(read_replica(spark, replica), visible, "k", checksums=True)
    drift = diff_tables(spark, visible, expected, ["k"], ["price_c"]).count()
    totals = spark.read.parquet(visible).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price_c").cast("bigint").alias("price_c_total"),
    )
    return totals.select(
        F.lit(n_published).cast("bigint").alias("n_published"),
        F.lit(n_republished).cast("bigint").alias("n_republished"),
        F.lit(drift).cast("bigint").alias("n_drift"),
        "n_rows",
        "price_c_total",
    )


@register(
    "ops_replica_repair",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c
      FROM orders),
    s2 AS (
      SELECT k,
             CASE WHEN k % 10 = 0 THEN price_c + 3 ELSE price_c END AS price_c
      FROM v1),
    drift AS (
      SELECT CAST((SELECT count(*) FROM v1 WHERE k % 100 = 1) +
                  (SELECT count(*) FROM v1 WHERE k % 150 = 2) + 1
             AS BIGINT) AS n)
    SELECT (SELECT n FROM drift) AS n_drifted,
           (SELECT n FROM drift) AS n_repaired,
           CAST(0 AS BIGINT) AS n_repair_again,
           CAST(0 AS BIGINT) AS n_refenced,
           CAST(0 AS BIGINT) AS n_drift,
           CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_rows,
           CAST((SELECT sum(price_c) FROM s2) AS BIGINT) AS price_c_total
    """,
    tags=("ops", "versioned", "cdc", "repair", "extension",
          "scale-path", "persisted-view"),
)
def ops_replica_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLICA REPAIR DOOR (round 14, diff.repair_replica) — the
    missing half of the audit story: the summarized replica audit
    DETECTS drift; this door HEALS it without reseeding, through the
    same max-version-wins apply every legitimate change takes. The
    replica takes a legit v2 change, then three kinds of rogue drift
    at version 50: wrong values (every k%100==1 key), a phantom key,
    and wrongful deletes (every k%150==2 key — leaving tombstones the
    repair must overcome). repair_replica phase-1-proves the clean
    buckets equal (per-bucket hash sums vs the expected table's
    persisted summary — zero scan on the expected side), classifies
    the drifted buckets' rows (wrong value -> update, phantom ->
    delete, wrongly tombstoned -> resurrect insert), stamps the
    synthetic frame one version past the drift, and applies. The
    audit then reads zero drift, a second repair is a phase-1 no-op,
    and a REDELIVERED rogue frame still lands nothing (the fence
    survives the repair). The oracle recomputes the drift census and
    the healed totals from the construction.

    Scale shape: phase 1 is one column-pruned visible scan vs the
    expected summary sidecar; phase 2 and the apply read only the
    drifted buckets; idempotent repair costs phase 1 alone."""
    import shutil

    from etl_8million_data__spark.operators.diff import (
        apply_changes_versioned,
        diff_tables,
        read_replica,
        repair_replica,
        write_bucketed,
        write_replica,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    s2 = o.select(
        "k",
        F.when(F.col("k") % 10 == 0, F.col("price_c") + 3)
        .otherwise(F.col("price_c"))
        .alias("price_c"),
    )
    root = _persisted_index_root(sf_dir, "replica_repair")
    shutil.rmtree(root, ignore_errors=True)
    replica = f"{root}/replica"
    write_replica(o, replica, "k", version=1)
    legit = s2.filter(F.col("k") % 10 == 0).select(
        F.lit("update").alias("_change_type"),
        "k",
        "price_c",
        F.lit(2).cast("bigint").alias("_commit_version"),
    )
    apply_changes_versioned(spark, replica, legit, "k")

    rogue = (
        o.filter(F.col("k") % 100 == 1)
        .select(
            F.lit("update").alias("_change_type"),
            "k",
            F.lit(777).cast("bigint").alias("price_c"),
        )
        .unionByName(
            spark.createDataFrame(
                [("insert", -999, 1)], "_change_type string, k long, price_c long"
            )
        )
        .unionByName(
            o.filter(F.col("k") % 150 == 2).select(
                F.lit("delete").alias("_change_type"), "k", "price_c"
            )
        )
        .withColumn("_commit_version", F.lit(50).cast("bigint"))
    )
    n_drifted = apply_changes_versioned(spark, replica, rogue, "k")

    expected = f"{root}/expected"
    write_bucketed(s2, expected, "k", checksums=True)
    n_repaired = repair_replica(spark, replica, expected, "k")
    n_repair_again = repair_replica(spark, replica, expected, "k")
    n_refenced = apply_changes_versioned(spark, replica, rogue, "k")

    visible = f"{root}/visible"
    write_bucketed(read_replica(spark, replica), visible, "k", checksums=True)
    drift = diff_tables(spark, visible, expected, ["k"], ["price_c"]).count()
    totals = spark.read.parquet(visible).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price_c").cast("bigint").alias("price_c_total"),
    )
    return totals.select(
        F.lit(n_drifted).cast("bigint").alias("n_drifted"),
        F.lit(n_repaired).cast("bigint").alias("n_repaired"),
        F.lit(n_repair_again).cast("bigint").alias("n_repair_again"),
        F.lit(n_refenced).cast("bigint").alias("n_refenced"),
        F.lit(drift).cast("bigint").alias("n_drift"),
        "n_rows",
        "price_c_total",
    )


@register(
    "ops_cdc_stream_evolution",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c
      FROM orders),
    s2 AS (
      SELECT k,
             CASE WHEN k % 10 = 0 THEN price_c + 3 ELSE price_c END AS price_c
      FROM v1),
    s3 AS (
      SELECT k,
             CASE WHEN k % 15 = 0 THEN price_c + 9 ELSE price_c END AS price_c,
             CASE WHEN k % 100 = 0 THEN 'VIP' ELSE NULL END AS tier
      FROM s2)
    SELECT CAST(2 AS BIGINT) AS n_published,
           CAST(1 AS BIGINT) AS pin_has_tier,
           CAST(1 AS BIGINT) AS stream_has_tier,
           CAST((SELECT count(*) FROM s3 WHERE tier = 'VIP') AS BIGINT)
             AS n_vip,
           CAST((SELECT count(*) FROM s3 WHERE tier IS NULL) AS BIGINT)
             AS n_null_tier,
           CAST(0 AS BIGINT) AS n_drift,
           CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_rows,
           CAST((SELECT sum(price_c) FROM s3) AS BIGINT) AS price_c_total
    """,
    tags=("ops", "versioned", "cdc", "streaming", "schema-evolution",
          "extension", "scale-path", "persisted-view"),
)
def ops_cdc_stream_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE SCHEMA EVOLUTION THROUGH THE STREAMING TRANSPORT (round
    14, operators/cdc_log._pin_schema + changes_stream): round 13's
    silent-wrong-data edge was the stream deriving its declared schema
    from ONE arbitrary parquet footer — on a mixed-generation log a
    pre-evolution footer silently dropped the evolved column from
    every newer frame, bypassing the replica's loud extra-column
    guard. Now the log pins its change-frame schema at publish
    (`_schema.json`): v3 widens the source with `tier` (non-NULL on
    k%100==0 only), the pin BUMPS (older retained frames read back
    NULL-extended), the stream declares the pin, the evolved replica
    receives real `tier` values through the SAME checkpoint, and the
    final audit diffs the replica against an independently built v3
    table INCLUDING the evolved column (zero drift). The before-image
    NULL-extension in `versioned._classify_changes` makes the CDC
    itself classify correctly at the boundary: a row NULL-on-both-
    sides is unchanged, one that gained a value ships it.

    Scale shape: the pin is one sidecar read/replace per publish; each
    frame stays drift-sized (differing buckets only) and the applies
    bucket-pruned — evolution adds zero rewrite anywhere (replica
    evolution is the metadata-only evolve_add_columns door)."""
    import shutil

    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.operators.bucket_store import (
        evolve_add_columns,
    )
    from etl_8million_data__spark.operators.cdc_log import (
        changes_stream,
        publish_changes,
        read_log_schema,
    )
    from etl_8million_data__spark.operators.diff import (
        diff_tables,
        read_replica,
        stream_apply_changes,
        write_bucketed,
        write_replica,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    s2 = o.select(
        "k",
        F.when(F.col("k") % 10 == 0, F.col("price_c") + 3)
        .otherwise(F.col("price_c"))
        .alias("price_c"),
    )
    s3 = s2.select(
        "k",
        F.when(F.col("k") % 15 == 0, F.col("price_c") + 9)
        .otherwise(F.col("price_c"))
        .alias("price_c"),
        F.when(F.col("k") % 100 == 0, F.lit("VIP"))
        .otherwise(F.lit(None).cast("string"))
        .alias("tier"),
    )
    root = _persisted_index_root(sf_dir, "cdc_stream_evolution")
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/source"
    v1 = V.commit_bucketed(spark, o, src, "k")
    V.commit_bucketed(spark, s2, src, "k", op="upsert")

    log = f"{root}/log"
    n_pub1 = publish_changes(spark, src, log, ["k"], from_version=v1)
    replica = f"{root}/replica"
    write_replica(o, replica, "k", version=v1)
    q = stream_apply_changes(
        changes_stream(spark, log), replica, "k", f"{root}/ck"
    )
    q.awaitTermination(120)

    # the source evolves; the publish bumps the pin
    V.commit_bucketed(spark, s3, src, "k", op="upsert")
    n_pub2 = publish_changes(spark, src, log, ["k"])
    pin_has_tier = int(
        "tier" in {f.name for f in read_log_schema(log).fields}
    )
    stream = changes_stream(spark, log)
    stream_has_tier = int("tier" in stream.columns)
    # evolve the replica (metadata-only), then the SAME checkpoint
    # delivers the evolved frames
    evolve_add_columns(spark, replica, "tier string", compare=True)
    q = stream_apply_changes(stream, replica, "k", f"{root}/ck")
    q.awaitTermination(120)

    expected = f"{root}/expected"
    write_bucketed(s3, expected, "k", checksums=True)
    visible = f"{root}/visible"
    write_bucketed(read_replica(spark, replica), visible, "k", checksums=True)
    drift = diff_tables(
        spark, visible, expected, ["k"], ["price_c", "tier"]
    ).count()
    totals = spark.read.parquet(visible).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price_c").cast("bigint").alias("price_c_total"),
        F.sum((F.col("tier") == "VIP").cast("bigint"))
        .cast("bigint")
        .alias("n_vip"),
        F.sum(F.col("tier").isNull().cast("bigint"))
        .cast("bigint")
        .alias("n_null_tier"),
    )
    return totals.select(
        F.lit(n_pub1 + n_pub2).cast("bigint").alias("n_published"),
        F.lit(pin_has_tier).cast("bigint").alias("pin_has_tier"),
        F.lit(stream_has_tier).cast("bigint").alias("stream_has_tier"),
        "n_vip",
        "n_null_tier",
        F.lit(drift).cast("bigint").alias("n_drift"),
        "n_rows",
        "price_c_total",
    )


@register(
    "ops_cdc_retention",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c
      FROM orders),
    s2 AS (
      SELECT k,
             CASE WHEN k % 10 = 0 THEN price_c + 3 ELSE price_c END AS price_c
      FROM v1 WHERE k % 24 <> 0),
    s3 AS (
      SELECT k,
             CASE WHEN k % 15 = 0 THEN price_c + 9 ELSE price_c END AS price_c
      FROM s2 WHERE k % 28 <> 0)
    SELECT CAST(2 AS BIGINT) AS n_published,
           CAST(1 AS BIGINT) AS n_illegal_rejected,
           CAST(2 AS BIGINT) AS horizon_minus_v1,
           CAST(1 AS BIGINT) AS n_versions_retained,
           CAST((SELECT count(*) FROM v1 WHERE k % 24 = 0) AS BIGINT)
             AS n_reclaimed,
           CAST((SELECT count(*) FROM v1 WHERE k % 24 <> 0 AND k % 28 = 0)
             AS BIGINT) AS n_tomb_left,
           CAST(0 AS BIGINT) AS n_drift,
           CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_rows,
           CAST((SELECT sum(price_c) FROM s3) AS BIGINT) AS price_c_total
    """,
    tags=("ops", "versioned", "cdc", "retention", "extension",
          "scale-path", "persisted-view"),
)
def ops_cdc_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC LOG RETENTION + THE VALIDATED REPLAY HORIZON (round 14,
    operators/cdc_log.truncate_published + diff.vacuum_tombstones):
    the lifecycle that keeps both the log's file count and the
    replica's tombstone space bounded, with the safety coupling made
    MECHANICAL. v2 deletes every k%24==0 key (tombstones at _v=2), v3
    deletes k%28==0 among the survivors (tombstones at _v=3); the
    stream drains both. Then, in order: (1) vacuuming with floor v1+2
    while the log can still redeliver v2 REFUSES (a reclaimed
    tombstone + a redelivered pre-delete change = a resurrected key —
    the round-13 contract was docstring prose, now it raises);
    (2) truncate_published drops v2's version-named files and advances
    the persisted horizon to v1+2; (3) the same vacuum floor is now
    legal and reclaims exactly v2's tombstones while v3's survive
    (they still fence redelivery of the retained v3 frames);
    (4) a FRESH-checkpoint redelivery from the truncated log converges
    (zero drift vs the independently built v3 table). The oracle
    recomputes every count from the construction.

    Scale shape: truncation is a driver-side listing of version-named
    files; the vacuum's locate pass is column-pruned to (_gone, _v,
    kb) and only tombstone-holding buckets rewrite; the log's file
    count is bounded by retention however many versions the producer
    ships."""
    import shutil

    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.operators.cdc_log import (
        publish_changes,
        replay_horizon,
        truncate_published,
    )
    from etl_8million_data__spark.operators.cdc_log import (
        changes_stream as _changes_stream,
    )
    from etl_8million_data__spark.operators.diff import (
        diff_tables,
        read_replica,
        stream_apply_changes,
        vacuum_tombstones,
        write_bucketed,
        write_replica,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    s2 = o.filter(F.col("k") % 24 != 0).select(
        "k",
        F.when(F.col("k") % 10 == 0, F.col("price_c") + 3)
        .otherwise(F.col("price_c"))
        .alias("price_c"),
    )
    s3 = s2.filter(F.col("k") % 28 != 0).select(
        "k",
        F.when(F.col("k") % 15 == 0, F.col("price_c") + 9)
        .otherwise(F.col("price_c"))
        .alias("price_c"),
    )
    root = _persisted_index_root(sf_dir, "cdc_retention")
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/source"
    v1 = V.commit_bucketed(spark, o, src, "k")
    V.commit_bucketed(spark, s2, src, "k", op="upsert")
    V.commit_bucketed(spark, s3, src, "k", op="upsert")

    log = f"{root}/log"
    n_published = publish_changes(spark, src, log, ["k"], from_version=v1)

    replica = f"{root}/replica"
    write_replica(o, replica, "k", version=v1)
    q = stream_apply_changes(
        _changes_stream(spark, log), replica, "k", f"{root}/ck"
    )
    q.awaitTermination(120)

    # (1) the illegal floor refuses while v2 is still redeliverable
    n_illegal_rejected = 0
    try:
        vacuum_tombstones(spark, replica, below_version=v1 + 2, log_dir=log)
    except ValueError:
        n_illegal_rejected = 1
    # (2) retention advances the horizon, (3) the floor becomes legal
    truncate_published(log, below_version=v1 + 2)
    horizon_minus_v1 = replay_horizon(log) - v1
    import os as _os

    n_versions_retained = len(
        {
            int(f[1:13])
            for f in _os.listdir(_os.path.join(log, "data"))
            if f.startswith("v") and f.endswith(".parquet")
        }
    )
    n_reclaimed = vacuum_tombstones(
        spark, replica, below_version=v1 + 2, log_dir=log
    )
    from etl_8million_data__spark.operators.bucket_store import (
        read_store_pinned,
    )

    n_tomb_left = (
        read_store_pinned(spark, replica).filter(F.col("_gone") == 1).count()
    )
    # (4) fresh-checkpoint redelivery from the truncated log converges
    q = stream_apply_changes(
        _changes_stream(spark, log), replica, "k", f"{root}/ck_fresh"
    )
    q.awaitTermination(120)
    expected = f"{root}/expected"
    write_bucketed(s3, expected, "k", checksums=True)
    visible = f"{root}/visible"
    write_bucketed(read_replica(spark, replica), visible, "k", checksums=True)
    drift = diff_tables(spark, visible, expected, ["k"], ["price_c"]).count()
    totals = spark.read.parquet(visible).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price_c").cast("bigint").alias("price_c_total"),
    )
    return totals.select(
        F.lit(n_published).cast("bigint").alias("n_published"),
        F.lit(n_illegal_rejected).cast("bigint").alias("n_illegal_rejected"),
        F.lit(horizon_minus_v1).cast("bigint").alias("horizon_minus_v1"),
        F.lit(n_versions_retained).cast("bigint").alias("n_versions_retained"),
        F.lit(n_reclaimed).cast("bigint").alias("n_reclaimed"),
        F.lit(n_tomb_left).cast("bigint").alias("n_tomb_left"),
        F.lit(drift).cast("bigint").alias("n_drift"),
        "n_rows",
        "price_c_total",
    )


@register(
    "ops_cdc_log_fsck",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS n_published,
           CAST(1 AS BIGINT) AS before_consistent,
           CAST(1 AS BIGINT) AS n_orphan_stages,
           CAST(1 AS BIGINT) AS n_subhorizon_files,
           CAST(1 AS BIGINT) AS n_unversioned_files,
           CAST(1 AS BIGINT) AS n_pin_violations,
           CAST(1 AS BIGINT) AS n_stages_swept,
           CAST(1 AS BIGINT) AS n_files_deleted,
           CAST(0 AS BIGINT) AS after_orphans,
           CAST(0 AS BIGINT) AS after_subhorizon,
           CAST(2 AS BIGINT) AS after_surfaced,
           CAST((SELECT count(*) FROM orders WHERE o_orderkey % 15 = 0)
             AS BIGINT) AS n_changes_v3
    """,
    tags=("ops", "cdc", "fsck", "maintenance", "extension",
          "scale-path", "persisted-view"),
)
def ops_cdc_log_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC LOG HEALTH AUDIT (round 14, cdc_log.fsck_log/repair_log) —
    the fsck every other persisted artifact of this family already
    has, over the log's four invariants: orphaned publish stages
    (crash debris), change files below the replay horizon (retention's
    promise broken on disk — a fresh consumer would redeliver a
    version the vacuum contract says is impossible), files
    unattributable to any version (legacy pre-retention logs, outside
    retention's reach by design), and files whose footer exceeds the
    pinned schema (a publish that bypassed the pin door — columns a
    declared read silently drops). The query: a healthy 2-version log
    audits clean; all four faults are PLANTED (a stage dir, a real
    parquet file named below the horizon, a legacy-named file, a
    rogue-column file); the fsck counts each exactly once; repair
    sweeps the stage and deletes the sub-horizon file while the
    unversioned/pin findings stay SURFACED (never auto-deleted — their
    data needs an operator's decision); and the version-fenced change
    count through the pinned read is identical before plant, after
    plant, and after repair (planted frames carry _commit_version=0 —
    the eligibility fence a consumer applies drops them, and the audit
    count filters on the real version). Oracle recomputes the planted
    census and the v3 change count from the construction.

    Scale shape: fsck is one directory listing + one pyarrow footer
    read per log file (bounded by retention), zero Spark jobs; repair
    is driver-side deletes."""
    import os as _os
    import shutil

    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.operators.cdc_log import (
        fsck_log,
        publish_changes,
        read_log_schema,
        repair_log,
        truncate_published,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    s2 = o.select(
        "k",
        F.when(F.col("k") % 10 == 0, F.col("price_c") + 3)
        .otherwise(F.col("price_c"))
        .alias("price_c"),
    )
    s3 = s2.select(
        "k",
        F.when(F.col("k") % 15 == 0, F.col("price_c") + 9)
        .otherwise(F.col("price_c"))
        .alias("price_c"),
    )
    root = _persisted_index_root(sf_dir, "cdc_log_fsck")
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/source"
    v1 = V.commit_bucketed(spark, o, src, "k")
    V.commit_bucketed(spark, s2, src, "k", op="upsert")
    V.commit_bucketed(spark, s3, src, "k", op="upsert")
    log = f"{root}/log"
    n_published = publish_changes(spark, src, log, ["k"], from_version=v1)
    truncate_published(log, below_version=v1 + 2)
    before = fsck_log(log)

    def count_v3():
        return (
            spark.read.schema(read_log_schema(log))
            .parquet(_os.path.join(log, "data"))
            .filter(F.col("_commit_version") == v1 + 2)
            .count()
        )

    n_v3_clean = count_v3()

    # plant all four faults (real parquet files — fsck reads footers)
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    data_dir = _os.path.join(log, "data")
    base_cols = {
        "_change_type": ["update"],
        "k": [1],
        "price_c": [1],
        "_commit_version": [0],
    }
    _os.makedirs(_os.path.join(log, "_stage_v999"), exist_ok=True)
    _pq.write_table(
        _pa.table(base_cols),
        _os.path.join(data_dir, f"v{v1 + 1:012d}-planted-0.parquet"),
    )
    _pq.write_table(
        _pa.table(base_cols), _os.path.join(data_dir, "legacy-0.parquet")
    )
    _pq.write_table(
        _pa.table({**base_cols, "rogue": [1]}),
        _os.path.join(data_dir, f"v{v1 + 2:012d}-rogue-9.parquet"),
    )
    dirty = fsck_log(log)
    n_v3_dirty = count_v3()
    rep = repair_log(log)
    after = fsck_log(log)
    n_v3_after = count_v3()
    assert n_v3_clean == n_v3_dirty == n_v3_after

    return spark.createDataFrame(
        [
            (
                n_published,
                before["consistent"],
                dirty["n_orphan_stages"],
                dirty["n_subhorizon_files"],
                dirty["n_unversioned_files"],
                dirty["n_pin_violations"],
                rep["n_stages_swept"],
                rep["n_files_deleted"],
                after["n_orphan_stages"],
                after["n_subhorizon_files"],
                after["n_unversioned_files"] + after["n_pin_violations"],
                n_v3_clean,
            )
        ],
        "n_published bigint, before_consistent bigint,"
        " n_orphan_stages bigint, n_subhorizon_files bigint,"
        " n_unversioned_files bigint, n_pin_violations bigint,"
        " n_stages_swept bigint, n_files_deleted bigint,"
        " after_orphans bigint, after_subhorizon bigint,"
        " after_surfaced bigint, n_changes_v3 bigint",
    )


@register(
    "ops_rebucket_migration",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c
      FROM orders WHERE o_orderkey % 13 <> 0)
    SELECT CAST(64 AS BIGINT) AS nb_after,
           CAST((SELECT count(DISTINCT {_sql_kb('k', 64)}) FROM t) AS BIGINT)
             AS n_buckets,
           CAST(0 AS BIGINT) AS n_mismatched,
           CAST((SELECT count(*) FROM t) AS BIGINT) AS n_rows,
           CAST((SELECT sum(price_c) FROM t) AS BIGINT) AS price_c_total
    """,
    tags=("ops", "maintenance", "migration", "extension", "scale-path",
          "persisted-view"),
)
def ops_rebucket_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB MIGRATION (bucket_store.rebucket): the bucket modulus is the
    blast-radius knob of every kb= door (the same change set reads 7/16
    vs 10/256 of the table — SCALING.md), and this door makes it
    changeable after creation: a 16-bucket checksummed store migrates
    to 64 in one bounded read+write pass, with content equality
    asserted BEFORE the directory swap (row count + order-insensitive
    full-table hash sum, staged vs live) and every sidecar re-seeded —
    _nb, the pinned schema, and the checksum summary recomputed at the
    new modulus. The proof the migration is REAL: a keyed delete runs
    afterward AT THE NEW MODULUS (a door passing the old nb=16 raises,
    asserted in tests), the fsck audits clean, and the oracle
    recomputes the surviving bucket census with md5 % 64.

    Scale shape: one read+write of the table (unavoidable — every row
    can change buckets) staged NEXT TO the live store and committed
    through the whole-table commit door (``maintenance.swap_in``), the
    same rename protocol every other table uses; the store stays one
    flat Parquet directory at its path."""
    import shutil

    from etl_8million_data__spark.operators.bucket_store import (
        bucket_file_counts,
        read_nb,
        read_store_pinned,
        rebucket,
    )
    from etl_8million_data__spark.operators.diff import (
        checksums_fsck,
        delete_keys_bucketed,
        write_bucketed,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    root = _persisted_index_root(sf_dir, "rebucket")
    shutil.rmtree(root, ignore_errors=True)
    write_bucketed(o, root, "k", nb=16, checksums=True)
    rebucket(spark, root, "k", 64)
    delete_keys_bucketed(
        spark, root, o.filter(F.col("k") % 13 == 0).select("k"), "k"
    )
    fsck = checksums_fsck(spark, root).select("n_mismatched")
    n_buckets = len(bucket_file_counts(root, "kb"))
    # the migrated store is a plain Parquet directory at the same path
    totals = read_store_pinned(spark, root).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price_c").cast("bigint").alias("price_c_total"),
    )
    return totals.crossJoin(F.broadcast(fsck)).select(
        F.lit(read_nb(root)).cast("bigint").alias("nb_after"),
        F.lit(n_buckets).cast("bigint").alias("n_buckets"),
        "n_mismatched",
        "n_rows",
        "price_c_total",
    )


def _advisor_nb_oracle() -> str:
    from etl_8million_data__spark.operators.bucket_store import (
        sql_recommend_nb,
    )

    rec = sql_recommend_nb("churn_keys", "table_rows", bytes_sql="table_bytes")
    return f"""
    WITH daily AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderdate AS d,
             count(DISTINCT o_custkey) AS c
      FROM orders GROUP BY 1, 2),
    churn AS (
      SELECT yr, CAST(max(c) AS BIGINT) AS churn_keys FROM daily GROUP BY yr),
    meas AS (
      SELECT yr, churn_keys,
             (SELECT CAST(count(*) AS BIGINT) FROM customer) AS table_rows,
             (SELECT CAST(count(*) * 256 AS BIGINT) FROM customer)
               AS table_bytes
      FROM churn),
    proj AS (
      SELECT CAST(9999 AS INTEGER) AS yr,
             (SELECT CAST(max(churn_keys) AS BIGINT) FROM churn)
               AS churn_keys,
             CAST(400000000000 AS BIGINT) AS table_rows,
             CAST(100000000000000 AS BIGINT) AS table_bytes),
    t AS (SELECT * FROM meas UNION ALL SELECT * FROM proj)
    SELECT yr, churn_keys, table_rows, table_bytes,
           {rec} AS nb_recommended,
           CAST(churn_keys * 1000 // {rec} AS BIGINT) AS read_per_mille
    FROM t
    ORDER BY yr
    """


@register(
    "advisor_bucket_count",
    oracle=_advisor_nb_oracle(),
    tags=("advisor", "ops", "maintenance", "extension", "scale-path"),
)
def advisor_bucket_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET-COUNT ADVISOR (bucket_store.recommend_nb) — the fourth
    advisor, closing the last hand-set physical-design decision in the
    kb= store family: the modulus trades blast radius (a change set of
    c keys reads ~c/nb of the table per apply) against small files
    (tiny buckets turn scans into listing storms). The advisor follows
    the measure-then-advise discipline: churn is MEASURED from the
    workload (here: the peak daily distinct-customer change-set size,
    per year — one advice row per year, so drifting churn shows up as
    drifting advice), the table size from the store, and the
    recommendation is the next power of two holding the per-apply read
    fraction under 1/16, capped at the largest power keeping >= 64
    rows per bucket — the cap wins, so a small table never gets a
    listing-storm modulus — with a third, BYTE arm that binds on large
    tables: measured table bytes must keep every bucket under the
    256 MiB task budget, and this floor overrides the rows cap (a row
    floor alone would leave a 100 TB table at 4096 buckets of ~24 GB
    each — oversized tasks and join builds). The per-year rows use
    measured workload churn; the yr=9999 row PROJECTS the same model
    at 100 TB / 400 G rows and shows the byte arm pushing nb past the
    old 4096 cap (to 524288 = ~190 MiB/bucket). Pure integer ladder
    arithmetic, so the DuckDB oracle reproduces every recommendation
    bit-for-bit; the EXECUTION door is bucket_store.rebucket
    (ops_rebucket_migration), and the blast-radius claim behind the
    model is the one measured in SCALING.md (7/16 vs 10/256 for the
    same change set).

    Scale shape: churn measurement is one groupBy over the workload
    table; the advice itself is |years|+1 rows of driver arithmetic.
    The advisor never touches the store."""
    from etl_8million_data__spark.operators.bucket_store import recommend_nb

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    daily = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderdate").alias("d"),
    ).agg(F.countDistinct("o_custkey").alias("c"))
    churn = daily.groupBy("yr").agg(
        F.max("c").cast("bigint").alias("churn_keys")
    )
    rows = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("table_rows"),
        (F.count(F.lit(1)) * 256).cast("bigint").alias("table_bytes"),
    )
    meas = churn.crossJoin(F.broadcast(rows))
    proj = churn.agg(
        F.max("churn_keys").cast("bigint").alias("churn_keys")
    ).select(
        F.lit(9999).cast("int").alias("yr"),
        "churn_keys",
        F.lit(400_000_000_000).cast("bigint").alias("table_rows"),
        F.lit(100_000_000_000_000).cast("bigint").alias("table_bytes"),
    )
    t = meas.select(
        "yr", "churn_keys", "table_rows", "table_bytes"
    ).unionByName(proj)
    rec = recommend_nb(
        F.col("churn_keys"),
        F.col("table_rows"),
        bytes_col=F.col("table_bytes"),
    )
    return t.select(
        "yr",
        "churn_keys",
        "table_rows",
        "table_bytes",
        rec.alias("nb_recommended"),
        # floor division (DuckDB `//`): exact for these magnitudes
        F.floor(F.col("churn_keys") * 1000 / rec)
        .cast("bigint")
        .alias("read_per_mille"),
    ).orderBy("yr")


@register(
    "ops_schema_evolution",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c
      FROM orders),
    added AS (
      SELECT -(k + 11) AS k, price_c, price_c // 10 AS discount_c
      FROM base WHERE k % 35 = 0)
    SELECT CAST((SELECT count(*) FROM base) + (SELECT count(*) FROM added)
                AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM base) AS BIGINT) AS n_legacy_null,
           CAST((SELECT count(*) FROM added) AS BIGINT) AS n_new,
           CAST(0 AS BIGINT) AS n_mismatched,
           CAST((SELECT sum(discount_c) FROM added) AS BIGINT)
             AS discount_c_total
    """,
    tags=("ops", "maintenance", "schema-evolution", "extension",
          "scale-path", "persisted-view"),
)
def ops_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-EVOLUTION DOOR (bucket_store.evolve_add_columns): adding
    a column to a checksummed bucketed store bumps ONLY the pinned
    declared schema — zero data files rewritten (byte-asserted in
    tests/test_store_lifecycle.py); legacy rows read back NULL-extended
    under the declared schema (n_legacy_null — every pre-evolution
    row), new appends carry the column (n_new), and because the new
    column joins the COMPARED set, the checksum summary is re-seeded in
    the one deliberate full pass this lifecycle step needs — after
    which the doors maintain it incrementally again and the fsck audits
    clean (n_mismatched). The integer-cents discount on appended rows
    gives the oracle a value-level check that NULL-extension never
    leaked into the new rows or vice versa.

    Scale shape: the evolution itself is a metadata write; the summary
    re-seed is the only full pass and happens exactly when the compared
    column set changes (compare=False skips it for bookkeeping
    columns)."""
    import shutil

    from etl_8million_data__spark.operators.bucket_store import (
        evolve_add_columns,
        read_store_pinned,
    )
    from etl_8million_data__spark.operators.diff import (
        append_bucketed,
        checksums_fsck,
        write_bucketed,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    root = _persisted_index_root(sf_dir, "schema_evolution")
    shutil.rmtree(root, ignore_errors=True)
    write_bucketed(o, root, "k", checksums=True)
    evolve_add_columns(spark, root, "discount_c bigint", compare=True)
    append_bucketed(
        o.filter(F.col("k") % 35 == 0).select(
            (-(F.col("k") + 11)).alias("k"),
            "price_c",
            # floor division (DuckDB `//`): bigint-exact on both engines
            F.expr("price_c div 10").alias("discount_c"),
        ),
        root,
        "k",
    )
    fsck = checksums_fsck(spark, root).select("n_mismatched")
    t = read_store_pinned(spark, root)
    counts = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("discount_c").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_legacy_null"),
        F.sum(F.when(F.col("discount_c").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum("discount_c").cast("bigint").alias("discount_c_total"),
    )
    return counts.crossJoin(F.broadcast(fsck)).select(
        "n_rows", "n_legacy_null", "n_new", "n_mismatched", "discount_c_total"
    )


def _advisor_telemetry_oracle() -> str:
    from etl_8million_data__spark.operators.bucket_store import (
        sql_recommend_nb,
    )

    rec = sql_recommend_nb("churn_p95", "table_rows")
    return f"""
    WITH t AS (SELECT o_orderkey AS k FROM orders),
    churns AS (
      SELECT k % 97 AS i, CAST(count(*) AS BIGINT) AS c
      FROM t WHERE k % 97 BETWEEN 1 AND 5 GROUP BY 1),
    agg AS (
      SELECT CAST(5 AS BIGINT) AS n_applies,
             (SELECT max(c) FROM churns) AS churn_p95,
             (SELECT CAST(count(*) AS BIGINT) FROM t
              WHERE k % 97 NOT BETWEEN 1 AND 5) AS table_rows)
    SELECT n_applies, churn_p95, table_rows,
           {rec} AS nb_recommended,
           CASE WHEN {rec} <> 16 THEN 'rebucket' ELSE 'keep' END AS action
    FROM agg
    """


@register(
    "advisor_rebucket_telemetry",
    oracle=_advisor_telemetry_oracle(),
    tags=("advisor", "ops", "maintenance", "telemetry", "extension",
          "scale-path", "persisted-view"),
)
def advisor_rebucket_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE ADVISOR ON THE STORE'S OWN TELEMETRY
    (bucket_store.advise_rebucket): instead of a workload proxy
    (advisor_bucket_count), the modulus recommendation here reads what
    the store's write doors RECORDED — every door appends its
    change-set size and touched-bucket count driver-side at apply time
    (zero extra Spark jobs; the counts were already in hand). The
    construction runs five deterministic delete batches (keys k%97 in
    1..5) through delete_keys_bucketed on a 16-bucket orders store, so
    the telemetry's p95 churn, the post-delete table size, the ladder
    recommendation, and the rebucket/keep action are all recomputable
    by the DuckDB oracle from the same arithmetic — the
    measure-then-advise loop is hash-gated end to end. The EXECUTION
    door is bucket_store.rebucket (ops_rebucket_migration + the
    --rebucket probe: the same change set reads 21.5x less after
    migrating to advised advice).

    Scale shape: telemetry is a local file append per apply; the
    advice reads one count off the store plus the sidecar — the
    advisor never rewrites data."""
    import shutil

    from etl_8million_data__spark.operators.bucket_store import (
        advise_rebucket,
    )
    from etl_8million_data__spark.operators.diff import (
        delete_keys_bucketed,
        write_bucketed,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
    )
    root = _persisted_index_root(sf_dir, "rebucket_telemetry")
    shutil.rmtree(root, ignore_errors=True)
    write_bucketed(o, root, "k", nb=16, checksums=True)
    for i in range(1, 6):
        delete_keys_bucketed(
            spark, root, o.filter(F.col("k") % 97 == i).select("k"), "k"
        )
    adv = advise_rebucket(spark, root)
    return spark.createDataFrame(
        [
            (
                adv["n_applies"],
                adv["churn_p95"],
                adv["table_rows"],
                adv["nb_recommended"],
                adv["action"],
            )
        ],
        "n_applies bigint, churn_p95 bigint, table_rows bigint,"
        " nb_recommended int, action string",
    )


@register(
    "ops_retention_sweep",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey AS k, {sql_cents('o_totalprice')} AS price_c,
             CASE WHEN o_orderkey % 50 = 0 THEN NULL
                  ELSE o_orderdate END AS od
      FROM orders),
    kept AS (SELECT * FROM t WHERE NOT coalesce(od < DATE '1995-01-01', FALSE))
    SELECT CAST((SELECT count(*) FROM t) -
                (SELECT count(*) FROM kept) AS BIGINT) AS n_deleted,
           CAST((SELECT count(*) FROM kept WHERE od IS NULL) AS BIGINT)
             AS n_null_kept,
           CAST(0 AS BIGINT) AS n_mismatched,
           CAST((SELECT count(*) FROM kept) AS BIGINT) AS n_rows,
           CAST((SELECT sum(price_c) FROM kept) AS BIGINT) AS price_c_total
    """,
    tags=("ops", "maintenance", "retention", "extension", "scale-path",
          "persisted-view"),
)
def ops_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREDICATE RETENTION SWEEP (diff.delete_where_bucketed) — the TTL
    delete every retention policy needs on the bucketed stores: DELETE
    WHERE order_date < 1995-01-01 runs as one column-pruned locate pass
    (the predicate columns only) to find the buckets holding matching
    rows, then rewrites ONLY those buckets through the overwrite door —
    checksum summary honest (n_mismatched from the fsck), untouched
    buckets byte-identical. Rows whose predicate evaluates NULL (every
    50th key's date is nulled in the construction) are KEPT — SQL
    DELETE semantics, counted explicitly (n_null_kept) so an engine
    that deletes NULL-predicate rows fails the hash compare. The oracle
    recomputes the deleted count, the NULL-kept count, and the
    surviving totals from the same construction.

    Scale shape: the locate pass is the narrow full scan every TTL
    sweep pays once; the rewrite is bounded by the buckets that
    actually hold expiring rows (time-correlated keys expire in few
    buckets; hash keys in many — the layout trade the nb advisor
    reasons about)."""
    import shutil

    from etl_8million_data__spark.operators.diff import (
        checksums_fsck,
        delete_where_bucketed,
        write_bucketed,
    )
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_c"),
        F.when(F.col("o_orderkey") % 50 == 0, F.lit(None))
        .otherwise(F.col("o_orderdate"))
        .alias("od"),
    )
    root = _persisted_index_root(sf_dir, "retention_sweep")
    shutil.rmtree(root, ignore_errors=True)
    write_bucketed(o, root, "k", checksums=True)
    n_deleted = delete_where_bucketed(
        spark, root, F.col("od") < F.lit("1995-01-01").cast("date")
    )
    fsck = checksums_fsck(spark, root).select("n_mismatched")
    t = spark.read.parquet(root)
    counts = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("od").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_kept"),
        F.sum("price_c").cast("bigint").alias("price_c_total"),
    )
    return counts.crossJoin(F.broadcast(fsck)).select(
        F.lit(n_deleted).cast("bigint").alias("n_deleted"),
        "n_null_kept",
        "n_mismatched",
        "n_rows",
        "price_c_total",
    )
