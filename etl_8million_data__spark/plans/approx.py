"""Approximate aggregates — the sketch family (SURVEY §2.4 notes these
come free in Spark).

Sketch *values* differ by engine, so they can't be hash-compared
against DuckDB. But Spark's sketches are deterministic functions of the
input, so each query emits the EXACT aggregate alongside a boolean
asserting the sketch landed within its error bound — and THAT output
is fully oracle-checkable (the oracle computes the exact side and
expects the assertion to hold). Accuracy-tolerance tests against the
raw approx values live in tests/test_approx.py.

At 100 TB these are the difference between a shuffle of |distinct keys|
and a few KB of sketch per partition."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.plans.registry import register


@register(
    "approx_distinct_users_hll",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS n_events,
           true AS hll_within_bound
    FROM events GROUP BY event_type
    """,
    tags=("approx", "hll", "agg"),
)
def approx_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event_type (rsd 2%), gated:
    the output carries the exact distinct count plus the assertion that
    the HLL estimate landed within 10%+5 of it (5x the configured rsd —
    generous, so the deterministic sketch always satisfies it). The
    oracle recomputes the exact side and expects the assertion true, so
    the sketch path is driver-verifiable despite being approximate."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_appx"),
        F.count_distinct(F.col("user_id")).alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("_appx") - F.col("exact_users"))
            <= F.col("exact_users") * 0.10 + F.lit(5)
        ).alias("hll_within_bound"),
    )


@register(
    "approx_percentile_prices",
    oracle="""
    SELECT count(*) AS n_orders,
           true AS p50_ok, true AS p90_ok, true AS p99_ok
    FROM orders
    """,
    tags=("approx", "percentile", "agg"),
)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna) of order values at
    p50/p90/p99 (accuracy 10000 -> rank error <= n/10000), gated: the
    returned sketch values are ranked back against the data and each
    must sit within +-0.5% of its target rank (50x the GK guarantee, so
    the deterministic sketch always satisfies it). The oracle expects
    every assertion true — a driver-verifiable accuracy contract."""
    o = load_table(spark, sf_dir, "orders")
    appx = o.agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000).alias("pcts")
    )
    j = o.join(F.broadcast(appx))
    le = [
        F.sum(F.when(F.col("o_totalprice") <= F.col("pcts")[i], 1).otherwise(0))
        for i in range(3)
    ]
    agg = j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        le[0].alias("_le50"),
        le[1].alias("_le90"),
        le[2].alias("_le99"),
    )
    def ok(le_col: str, p: float):
        n = F.col("n_orders")
        return (F.col(le_col) >= (n * (p - 0.005))) & (
            F.col(le_col) <= n * (p + 0.005) + 1
        )
    return agg.select(
        "n_orders",
        ok("_le50", 0.5).alias("p50_ok"),
        ok("_le90", 0.9).alias("p90_ok"),
        ok("_le99", 0.99).alias("p99_ok"),
    )


@register(
    "sketch_kmv_distinct_customers",
    oracle="""
    WITH h AS (
      SELECT DISTINCT list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(8), i -> CAST(
                   strpos('0123456789abcdef',
                          md5(CAST(c_custkey AS VARCHAR))[i+1:i+1]) - 1 AS BIGINT))),
               (a, x) -> a * 16 + x) AS h
      FROM customer),
    k AS (SELECT h FROM h ORDER BY h LIMIT 64)
    SELECT CASE WHEN count(*) < 64 THEN count(*) * 1.0
                ELSE 63 * 4294967296.0 / max(h) END AS est_distinct,
           count(*) AS k_used
    FROM k
    """,
    tags=("sketch", "kmv", "approx", "extension"),
)
def sketch_kmv_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (k=64): keep the k
    smallest 32-bit hashes of the key; estimate = (k-1) / kth-min
    (normalized). Unlike HLL the sketch is a deterministic function of
    the input set — md5-derived hashes are engine-portable — so this
    approximate operator still gets an EXACT oracle. Mergeable across
    partitions/tables by unioning hash sets and re-truncating to k."""
    from etl_8million_data__spark.operators.text import hex_prefix_int, md5_utf8

    c = load_table(spark, sf_dir, "customer")
    h = hex_prefix_int(md5_utf8(F.col("c_custkey").cast("string")), 8)
    top = c.select(h.alias("h")).distinct().orderBy("h").limit(64)
    return top.agg(
        F.count(F.lit(1)).alias("_k"), F.max("h").alias("_mx")
    ).select(
        F.when(F.col("_k") < 64, F.col("_k") * 1.0)
        .otherwise(63 * 4294967296.0 / F.col("_mx"))
        .alias("est_distinct"),
        F.col("_k").alias("k_used"),
    )


_CM_BUCKET_SQL = """list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(4), i -> CAST(
                   strpos('0123456789abcdef',
                          md5(CAST(r.r AS VARCHAR) || '|' || token)[i+1:i+1]) - 1
                   AS BIGINT))),
               (a, x) -> a * 16 + x) % 64"""


@register(
    "sketch_count_min_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
               AS token
      FROM documents),
    occ AS (
      SELECT token, r.r AS r, {_CM_BUCKET_SQL} AS bucket
      FROM tok CROSS JOIN (SELECT unnest(range(4)) AS r) r),
    sketch AS (
      SELECT r, bucket, count(*) AS cnt FROM occ GROUP BY r, bucket),
    keys AS (
      SELECT DISTINCT token, r.r AS r, {_CM_BUCKET_SQL} AS bucket
      FROM (SELECT DISTINCT token FROM tok) tok
      CROSS JOIN (SELECT unnest(range(4)) AS r) r),
    est AS (
      SELECT k.token, min(s.cnt) AS cm_estimate
      FROM keys k JOIN sketch s ON s.r = k.r AND s.bucket = k.bucket
      GROUP BY k.token),
    exact AS (SELECT token, count(*) AS exact_count FROM tok GROUP BY token)
    SELECT e.token, e.exact_count,
           CAST(x.cm_estimate AS BIGINT) AS cm_estimate,
           CAST(x.cm_estimate - e.exact_count AS BIGINT) AS overcount,
           x.cm_estimate >= e.exact_count AS never_undercounts
    FROM exact e JOIN est x ON x.token = e.token
    ORDER BY e.exact_count DESC, e.token LIMIT 25
    """,
    tags=("sketch", "count-min", "heavy-hitters", "approx", "extension"),
)
def sketch_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters over the corpus vocabulary —
    depth 4 x width 64, md5-derived buckets, so the WHOLE sketch (not
    just an error bound) is bit-identical in DuckDB: estimates
    hash-compare exactly, and the CM guarantee (never undercounts) is
    emitted as a checked column.

    Scale story: the sketch is 256 cells regardless of corpus size —
    the groupBy(r, bucket) collapses map-side to 256 partials per task,
    and the per-token estimate join broadcasts those 256 rows; vs an
    exact top-k, the shuffle drops from |vocabulary| to O(1).  (The
    exact side here exists only to certify the estimates.)"""
    from etl_8million_data__spark.operators.text import hex_prefix_int, tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("token"))

    def bucket(r: int) -> F.Column:
        return hex_prefix_int(
            F.md5(F.encode(F.concat(F.lit(f"{r}|"), F.col("token")), "UTF-8")), 4
        ) % 64

    rows4 = F.array(
        *[F.struct(F.lit(r).alias("r"), bucket(r).alias("bucket")) for r in range(4)]
    )
    occ = tok.select("token", F.explode(rows4).alias("rb")).select(
        "token", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket")
    )
    sketch = occ.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    keys = (
        tok.distinct()
        .select("token", F.explode(rows4).alias("rb"))
        .select("token", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    )
    est = (
        keys.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("token")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        exact.join(est, "token")
        .select(
            "token",
            "exact_count",
            F.col("cm_estimate").cast("bigint").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("exact_count")).cast("bigint").alias("overcount"),
            (F.col("cm_estimate") >= F.col("exact_count")).alias("never_undercounts"),
        )
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(25)
    )


@register(
    "sketch_hll_sharded_union",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_users,
           true AS merge_consistent,
           true AS within_bound
    FROM events
    """,
    tags=("sketch", "hll", "mergeable", "approx", "extension", "scale-path"),
)
def sketch_hll_sharded_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-mergeable distinct counting — the pattern that makes
    distinct counts tractable at 100 TB: build a Datasketches HLL
    sketch PER SHARD (here per event_type; in production per partition
    / per day), persist the binary sketches, and answer global
    questions by unioning sketches instead of rescanning raw data.

    In the dense regime HLL registers max-merge, but Datasketches
    sketches start SPARSE and the union path promotes representations
    differently than a single-pass build — so the two estimates are
    close, not bit-equal (observed: 1488 vs 1494 on 1500 exact).
    ``merge_consistent`` therefore gates |merged - direct| within
    2%+5 of the exact count — the sharded path loses nothing
    material vs the monolithic one — and ``within_bound`` gates the
    merged estimate against the exact count (10%+5, generous for
    lgK=12's ~1.6% rse). The oracle recomputes the exact side and
    expects both assertions true — the driver verifies an approximate,
    mergeable pipeline exactly (same self-certifying pattern as
    approx_distinct_users_hll)."""
    e = load_table(spark, sf_dir, "events")
    shards = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = shards.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_merged_est")
    )
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("_direct_est"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return direct.crossJoin(F.broadcast(merged)).select(
        "exact_users",
        (
            F.abs(F.col("_merged_est") - F.col("_direct_est"))
            <= F.col("exact_users") * 0.02 + F.lit(5)
        ).alias("merge_consistent"),
        (
            F.abs(F.col("_merged_est") - F.col("exact_users"))
            <= F.col("exact_users") * 0.10 + F.lit(5)
        ).alias("within_bound"),
    )


# Deterministic double-hashing for the Bloom filter: two Knuth-style
# multiplicative mixes over the integer key (the portable-split-hash
# discipline from corpus_ops — NOT engine hash()), h2 forced odd so the
# k probe positions stride the whole table. Key is reduced mod 2^31
# before the multiply so the intermediate never wraps int64.
def _bloom_pos(key: str, i: str) -> str:
    """SQL for the i-th probe position of ``key`` — identical text on
    both engines so the filter words and every verdict bit match."""
    h1 = f"((({key} % 2147483648) * 2654435761 + 104729) % 4294967296)"
    h2 = f"(((({key} % 2147483648) * 40503 + 2531011) % 2147483648) * 2 + 1)"
    return f"CAST(({h1} + {i} * {h2}) % 8192 AS INT)"


# 8192 bits as 256 32-bit words; k=5 probes. Sized so the fixture
# workload (~1.3k member keys at sf0.01) lands at a fill factor where
# the false-positive branch of the audit is EXERCISED (measured 12
# real FPs at sf0.01), not a dead arm under an oversized table.
_BLOOM_POS = _bloom_pos("key", "i")
# The member-key set: custkeys holding at least one URGENT order — a
# genuine subset of customers (18 non-members at sf0.001, 203 at
# sf0.01), so membership verdicts have both arms populated. TPC-H's
# own generator leaves ~1/3 of customers order-less; this fixture data
# gives every customer an order, so the subset predicate restores the
# non-member population the audit needs.
_BLOOM_KEYS_SQL = (
    "SELECT DISTINCT o_custkey AS key FROM orders "
    "WHERE o_orderpriority = '1-URGENT'"
)


@register(
    "sketch_bloom_membership",
    oracle=f"""
    WITH keys AS ({_BLOOM_KEYS_SQL}),
    probes AS (
      SELECT key, {_BLOOM_POS} AS pos
      FROM keys, unnest(range(5)) AS u(i)),
    words AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
      FROM probes GROUP BY pos // 32),
    cprobe AS (
      SELECT c.c_custkey, c.c_mktsegment, u.i,
             {_BLOOM_POS.replace('key', 'c.c_custkey')} AS pos
      FROM customer c, unnest(range(5)) AS u(i)),
    hits AS (
      SELECT cp.c_custkey, cp.c_mktsegment,
             CAST(sum(CASE WHEN (coalesce(w.bits, 0) >> (cp.pos % 32)) % 2 = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_set
      FROM cprobe cp LEFT JOIN words w ON w.word = cp.pos // 32
      GROUP BY cp.c_custkey, cp.c_mktsegment),
    verdict AS (
      SELECT h.c_custkey, h.c_mktsegment,
             CASE WHEN h.n_set = 5 THEN 1 ELSE 0 END AS flagged,
             CASE WHEN k.key IS NOT NULL THEN 1 ELSE 0 END AS actual
      FROM hits h LEFT JOIN keys k ON k.key = h.c_custkey)
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(flagged) AS BIGINT) AS n_flagged,
           CAST(sum(actual) AS BIGINT) AS n_actual,
           CAST(sum(CASE WHEN flagged = 1 AND actual = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN flagged = 0 AND actual = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_neg
    FROM verdict GROUP BY c_mktsegment
    """,
    tags=("sketch", "bloom", "approx", "extension", "scale-path"),
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch: build an 8192-bit filter (256
    32-bit words, k=5 double-hashed probes) over the DISTINCT customer
    keys holding URGENT orders — a genuine subset of customers, so the
    probe population contains real non-members — probe EVERY customer,
    and audit the sketch against exact membership per market segment.
    n_false_neg must be 0 by construction (Bloom filters never
    false-negative; the oracle hash-checks that property, not just the
    counts) and n_false_pos is the measured false-positive load at this
    fill factor (12 customers at sf0.01 — the FP arm is exercised, not
    asserted empty by an oversized table).

    Exactness: the whole sketch is integer arithmetic — two portable
    multiplicative hashes (same discipline as the corpus split hash:
    key reduced mod 2^31 before the multiply so nothing wraps), bit_or
    word aggregation, shift-and-mask probes — so the filter words and
    every verdict bit are identical in DuckDB and the value hash
    matches exactly.

    Scale shape: the filter is a ≤256-row aggregate (2 KB) however many
    billions of keys stream through it — the classic pre-join pruning
    sketch: broadcast the words, drop definitely-absent probe rows
    before an expensive shuffle join (sketch_bloom_pruned_antijoin
    consumes exactly this filter). Probing is one broadcast join + a
    5-row-per-key fan-out; no shuffle is keyed on the data. At 100 TB
    you widen the word table with the key cardinality (it stays a
    broadcastable aggregate up to millions of words) — the fixture
    width is chosen for audit coverage, not as a constant."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    grid = spark.range(5).select(F.col("id").cast("int").alias("i"))
    probes = keys.crossJoin(F.broadcast(grid)).select(
        "key", F.expr(_BLOOM_POS).alias("pos")
    )
    words = probes.groupBy(F.expr("pos div 32").alias("word")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), pos % 32))").alias("bits")
    )
    cprobe = (
        cust.select(F.col("c_custkey").alias("key"), "c_mktsegment")
        .crossJoin(F.broadcast(grid))
        .select(
            F.col("key").alias("c_custkey"),
            "c_mktsegment",
            F.expr(_BLOOM_POS).alias("pos"),
        )
    )
    hits = (
        cprobe.join(F.broadcast(words), F.expr("word = pos div 32"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.sum(
                F.when(
                    F.expr("(coalesce(bits, 0) >> (pos % 32)) % 2 = 1"), 1
                ).otherwise(0)
            ).alias("n_set")
        )
    )
    verdict = hits.join(
        keys.withColumnRenamed("key", "c_custkey").withColumn("_in", F.lit(1)),
        "c_custkey",
        "left",
    ).select(
        "c_mktsegment",
        F.when(F.col("n_set") == 5, 1).otherwise(0).alias("flagged"),
        F.when(F.col("_in").isNotNull(), 1).otherwise(0).alias("actual"),
    )
    return verdict.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("flagged").alias("n_flagged"),
        F.sum("actual").alias("n_actual"),
        F.sum(
            F.when((F.col("flagged") == 1) & (F.col("actual") == 0), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when((F.col("flagged") == 0) & (F.col("actual") == 1), 1).otherwise(0)
        ).alias("n_false_neg"),
    )


@register(
    "sketch_bloom_pruned_antijoin",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    tags=("sketch", "bloom", "anti-join", "extension", "scale-path"),
)
def sketch_bloom_pruned_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no URGENT order, computed as a BLOOM-PRUNED
    anti-join — the registered consumer of sketch_bloom_membership's
    filter: the 256-word filter over the member keys folds to ONE dense
    array row, broadcasts onto the customer scan, and every customer
    whose 5 probe bits are not all set is emitted DIRECTLY (a Bloom
    filter never false-negatives, so "any bit clear" proves absence);
    only the flagged rows — true members plus the measured ~1% false
    positives — reach the anti-join. False positives cost work, never
    rows, so the result is EXACTLY the unpruned anti-join and the
    oracle is the plain NOT EXISTS — the identity, not a lookalike, is
    what the hash compare certifies.

    Scale shape: the probe is a 1-row broadcast nested-loop over the
    scan — zero exchanges on the definitely-absent branch, which at a
    well-sized filter is almost all non-members; the shuffle the
    anti-join pays is proportional to |members| + FP load instead of
    the full probe table (at sf0.01: 1309 of 1500 customers shuffle,
    and the 191 pruned rows never leave their scan partition; at 100 TB
    with TPC-H's natural 1/3 order-less customers the pruned volume is
    the win the sketch exists for)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    grid = spark.range(5).select(F.col("id").cast("int").alias("i"))
    words = (
        keys.crossJoin(F.broadcast(grid))
        .select(F.expr(_BLOOM_POS).alias("pos"))
        .groupBy(F.expr("CAST(pos div 32 AS INT)").alias("word"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), pos % 32))").alias("bits"))
    )
    # Fold the ≤256 (word, bits) rows into ONE dense-array row so the
    # membership test is 5 element_at lookups per customer — no
    # explode, no per-customer re-aggregation, no shuffle keyed on the
    # probe table.
    warr = (
        words.groupBy()
        .agg(
            F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("wm")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(255)),
                lambda w: F.coalesce(F.element_at("wm", w), F.lit(0).cast("bigint")),
            ).alias("warr")
        )
    )
    probed = cust.select("c_custkey", "c_name", "c_mktsegment").crossJoin(
        F.broadcast(warr)
    )
    flagged_cond = F.lit(True)
    for i in range(5):
        pos = _bloom_pos("c_custkey", str(i))
        flagged_cond = flagged_cond & F.expr(
            f"(element_at(warr, CAST(({pos}) div 32 + 1 AS INT))"
            f" >> (({pos}) % 32)) % 2 = 1"
        )
    probed = probed.select(
        "c_custkey", "c_name", "c_mktsegment", flagged_cond.alias("_flagged")
    )
    definitely_absent = probed.filter(~F.col("_flagged")).drop("_flagged")
    survivors = (
        probed.filter(F.col("_flagged"))
        .drop("_flagged")
        .join(keys, F.col("c_custkey") == F.col("key"), "left_anti")
    )
    return definitely_absent.unionByName(survivors)


_KMV_H = """list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(8), i -> CAST(
                   strpos('0123456789abcdef',
                          md5(CAST(user_id AS VARCHAR))[i+1:i+1]) - 1 AS BIGINT))),
               (a, x) -> a * 16 + x)"""

# Same 32-bit md5-prefix hash over the churn query's custkey column.
_KMV_C = _KMV_H.replace("user_id", "c")


@register(
    "sketch_kmv_type_overlap",
    oracle=f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    hs AS (SELECT DISTINCT event_type, {_KMV_H} AS h FROM du),
    kmin AS (SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hs) WHERE rn <= 64),
    th AS (SELECT event_type,
                  CASE WHEN count(*) < 64 THEN 4294967296 ELSE max(h) END AS theta
           FROM kmin GROUP BY event_type),
    common AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                      least(ta.theta, tb.theta) AS theta,
                      count(*) AS n_common
               FROM kmin a
               JOIN kmin b ON b.h = a.h AND a.event_type < b.event_type
               JOIN th ta ON ta.event_type = a.event_type
               JOIN th tb ON tb.event_type = b.event_type
               WHERE a.h < least(ta.theta, tb.theta)
               GROUP BY 1, 2, 3),
    grid AS (SELECT a.event_type AS type_a, b.event_type AS type_b
             FROM (SELECT DISTINCT event_type FROM events) a
             JOIN (SELECT DISTINCT event_type FROM events) b
               ON a.event_type < b.event_type),
    exact AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                     count(*) AS exact_overlap
              FROM du a
              JOIN du b ON b.user_id = a.user_id
                       AND a.event_type < b.event_type
              GROUP BY 1, 2)
    SELECT g.type_a, g.type_b,
           CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
           CAST(coalesce((c.n_common * 4294967296 * 1000000) // c.theta, 0)
                AS BIGINT) AS est_micro,
           CAST(coalesce(e.exact_overlap, 0) AS BIGINT) AS exact_overlap
    FROM grid g
    LEFT JOIN common c ON c.type_a = g.type_a AND c.type_b = g.type_b
    LEFT JOIN exact e ON e.type_a = g.type_a AND e.type_b = g.type_b
    """,
    tags=("sketch", "kmv", "theta", "set-intersection", "approx", "extension"),
)
def sketch_kmv_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET INTERSECTION over KMV distinct sketches: the
    distinct-user overlap between every pair of event types estimated
    from each type's 64 smallest md5-derived 32-bit user hashes —
    |{{h in both k-min sets, h < min(theta_a, theta_b)}}| scaled by the
    sampled hash fraction. This is the set-ALGEBRA capability that
    makes distinct sketches compositional at 100 TB: per-partition
    k-min sets merge by union-and-retruncate (no re-scan), and
    union/intersection cardinalities of arbitrary segment combinations
    come from the tiny retained sets — audience-overlap analytics
    without ever shuffling the raw key sets.

    Exactness: the sketch is a deterministic function of the input
    (md5 hashes, integer thresholds, `div` for the single estimate
    scale — emitted as integer micro), so the ESTIMATE itself
    hash-matches DuckDB exactly, alongside the exact overlap for the
    accuracy audit (tolerance asserted in tests/test_approx.py;
    under-capacity sketches make the estimate exact by construction).

    Scale shape: one distinct aggregate keyed by (type, user), one
    64-row-per-type ranking window (bounded state), then all joins are
    over k-bounded frames — the pair grid, thresholds, and k-min sets
    are |types| * 64 rows however many billions of events stream in."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    from etl_8million_data__spark.operators.text import hex_prefix_int, md5_utf8

    e = load_table(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct()
    hs = du.select(
        "event_type",
        hex_prefix_int(md5_utf8(F2.col("user_id").cast("string")), 8).alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kmin = (
        hs.withColumn("rn", F2.row_number().over(w))
        .filter(F2.col("rn") <= 64)
        .select("event_type", "h")
        .localCheckpoint(eager=True)
    )
    th = kmin.groupBy("event_type").agg(
        F2.when(F2.count(F2.lit(1)) < 64, F2.lit(4294967296))
        .otherwise(F2.max("h"))
        .alias("theta")
    )
    a = kmin.select(F2.col("event_type").alias("type_a"), "h")
    b = kmin.select(F2.col("event_type").alias("type_b"), "h")
    ta = th.select(F2.col("event_type").alias("type_a"), F2.col("theta").alias("_ta"))
    tb = th.select(F2.col("event_type").alias("type_b"), F2.col("theta").alias("_tb"))
    common = (
        a.join(b, "h")
        .filter(F2.col("type_a") < F2.col("type_b"))
        .join(F2.broadcast(ta), "type_a")
        .join(F2.broadcast(tb), "type_b")
        .withColumn("theta", F2.least("_ta", "_tb"))
        .filter(F2.col("h") < F2.col("theta"))
        .groupBy("type_a", "type_b", "theta")
        .agg(F2.count(F2.lit(1)).alias("n_common"))
    )
    types = e.select("event_type").distinct()
    grid = (
        types.select(F2.col("event_type").alias("type_a"))
        .join(types.select(F2.col("event_type").alias("type_b")))
        .filter(F2.col("type_a") < F2.col("type_b"))
    )
    exact = (
        du.select(F2.col("event_type").alias("type_a"), "user_id")
        .join(du.select(F2.col("event_type").alias("type_b"), "user_id"), "user_id")
        .filter(F2.col("type_a") < F2.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F2.count(F2.lit(1)).alias("exact_overlap"))
    )
    return (
        grid.join(common, ["type_a", "type_b"], "left")
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F2.coalesce("n_common", F2.lit(0)).cast("bigint").alias("n_common"),
            F2.coalesce(
                F2.expr("(n_common * 4294967296 * 1000000) div theta"), F2.lit(0)
            )
            .cast("bigint")
            .alias("est_micro"),
            F2.coalesce("exact_overlap", F2.lit(0))
            .cast("bigint")
            .alias("exact_overlap"),
        )
    )


@register(
    "sketch_kmv_customer_churn",
    oracle=f"""
    WITH du AS (SELECT DISTINCT year(o_orderdate) AS y, o_custkey AS c
                FROM orders),
    hs AS (SELECT DISTINCT y, {_KMV_C} AS h FROM du),
    kmin AS (SELECT y, h FROM (
        SELECT y, h, row_number() OVER (PARTITION BY y ORDER BY h) AS rn
        FROM hs) WHERE rn <= 64),
    th AS (SELECT y,
                  CASE WHEN count(*) < 64 THEN 4294967296 ELSE max(h) END AS theta
           FROM kmin GROUP BY y),
    grid AS (SELECT a.y AS year_a, b.y AS year_b
             FROM (SELECT DISTINCT y FROM du) a
             JOIN (SELECT DISTINCT y FROM du) b ON a.y <> b.y),
    kdiff AS (SELECT g.year_a, g.year_b,
                     least(ta.theta, tb.theta) AS theta,
                     count(*) AS n_diff
              FROM grid g
              JOIN kmin a ON a.y = g.year_a
              JOIN th ta ON ta.y = g.year_a
              JOIN th tb ON tb.y = g.year_b
              WHERE a.h < least(ta.theta, tb.theta)
                AND NOT EXISTS (SELECT 1 FROM kmin b
                                WHERE b.y = g.year_b AND b.h = a.h)
              GROUP BY 1, 2, 3),
    exact AS (SELECT da.y AS year_a, g.year_b, count(*) AS exact_diff
              FROM du da JOIN grid g ON g.year_a = da.y
              WHERE NOT EXISTS (SELECT 1 FROM du db
                                WHERE db.y = g.year_b AND db.c = da.c)
              GROUP BY 1, 2)
    SELECT g.year_a, g.year_b,
           CAST(coalesce(d.n_diff, 0) AS BIGINT) AS n_diff,
           CAST(coalesce((d.n_diff * 4294967296 * 1000000) // d.theta, 0)
                AS BIGINT) AS est_micro,
           CAST(coalesce(e.exact_diff, 0) AS BIGINT) AS exact_diff
    FROM grid g
    LEFT JOIN kdiff d ON d.year_a = g.year_a AND d.year_b = g.year_b
    LEFT JOIN exact e ON e.year_a = g.year_a AND e.year_b = g.year_b
    """,
    tags=("sketch", "kmv", "theta", "set-difference", "approx", "extension"),
)
def sketch_kmv_customer_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET DIFFERENCE (A-not-B) — the third leg of the
    sketch set algebra (union = KMV merge, intersection =
    sketch_kmv_type_overlap, difference = this): for every ORDERED pair
    of order YEARS, |customers active in year A never seen in year B|
    estimated from the two 64-entry k-min sets alone — count A's
    retained hashes below theta = min(theta_a, theta_b) absent from B's
    retained set, scaled by the sampled hash fraction. Churn /
    incrementality ("how many of 1995's buyers did we lose by 1996?")
    is the asymmetric question sketches answer at 100 TB without ever
    joining the raw key sets. Year segments are used precisely because
    they genuinely DIFFER (the event-type user sets in this fixture are
    identical across types, which would make every difference a
    degenerate zero — the same dead-audit trap the Bloom FP probe
    fixed).

    Same determinism contract as the intersection: md5-derived 32-bit
    hashes, integer thresholds, `div` scaling to integer micro — the
    ESTIMATE hash-matches DuckDB bit-for-bit, and the exact difference
    rides along as the accuracy audit (under-capacity sketches are
    exact by construction; at-capacity relative error is gated in
    tests/test_approx.py).

    Scale shape: the sketch-side plan touches only k-bounded frames
    (|years|*64 k-min rows, |years|² grid, one anti-join on (year, h));
    the exact audit is the only corpus-proportional stage and exists
    for verification, not production."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    from etl_8million_data__spark.operators.text import hex_prefix_int, md5_utf8

    o = load_table(spark, sf_dir, "orders")
    du = o.select(
        F2.year("o_orderdate").alias("y"), F2.col("o_custkey").alias("c")
    ).distinct()
    hs = du.select(
        "y", hex_prefix_int(md5_utf8(F2.col("c").cast("string")), 8).alias("h")
    ).distinct()
    w = Window.partitionBy("y").orderBy("h")
    kmin = (
        hs.withColumn("rn", F2.row_number().over(w))
        .filter(F2.col("rn") <= 64)
        .select("y", "h")
        .localCheckpoint(eager=True)
    )
    th = kmin.groupBy("y").agg(
        F2.when(F2.count(F2.lit(1)) < 64, F2.lit(4294967296))
        .otherwise(F2.max("h"))
        .alias("theta")
    )
    years = du.select("y").distinct()
    grid = (
        years.select(F2.col("y").alias("year_a"))
        .join(years.select(F2.col("y").alias("year_b")))
        .filter(F2.col("year_a") != F2.col("year_b"))
    )
    ta = th.select(F2.col("y").alias("year_a"), F2.col("theta").alias("_ta"))
    tb = th.select(F2.col("y").alias("year_b"), F2.col("theta").alias("_tb"))
    cand = (
        grid.join(kmin.select(F2.col("y").alias("year_a"), "h"), "year_a")
        .join(ta, "year_a")
        .join(tb, "year_b")
        .filter(F2.col("h") < F2.least("_ta", "_tb"))
    )
    kdiff = (
        cand.join(
            kmin.select(F2.col("y").alias("year_b"), "h"),
            ["year_b", "h"],
            "left_anti",
        )
        .groupBy("year_a", "year_b", F2.least("_ta", "_tb").alias("theta"))
        .agg(F2.count(F2.lit(1)).alias("n_diff"))
    )
    exact = (
        du.select(F2.col("y").alias("year_a"), "c")
        .join(grid, "year_a")
        .join(
            du.select(F2.col("y").alias("year_b"), "c"),
            ["year_b", "c"],
            "left_anti",
        )
        .groupBy("year_a", "year_b")
        .agg(F2.count(F2.lit(1)).alias("exact_diff"))
    )
    return (
        grid.join(kdiff, ["year_a", "year_b"], "left")
        .join(exact, ["year_a", "year_b"], "left")
        .select(
            "year_a",
            "year_b",
            F2.coalesce("n_diff", F2.lit(0)).cast("bigint").alias("n_diff"),
            F2.coalesce(
                F2.expr("(n_diff * 4294967296 * 1000000) div theta"), F2.lit(0)
            )
            .cast("bigint")
            .alias("est_micro"),
            F2.coalesce("exact_diff", F2.lit(0)).cast("bigint").alias("exact_diff"),
        )
    )


@register(
    "sketch_bottomk_quantiles",
    oracle="""
    WITH v AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             md5(CAST(o_orderkey AS VARCHAR)) AS h
      FROM orders),
    n AS (SELECT count(*) AS n FROM v),
    samp AS (SELECT cents, h FROM v ORDER BY h LIMIT 256),
    sr AS (SELECT cents,
                  row_number() OVER (ORDER BY cents, h) AS rn
           FROM samp),
    fr AS (SELECT cents,
                  row_number() OVER (ORDER BY cents, o_orderkey) AS rn
           FROM v),
    grid AS (SELECT CAST(unnest([25, 50, 90, 95, 99]) AS INT) AS q_pct),
    a AS (SELECT g.q_pct, s.cents AS approx_cents
          FROM grid g JOIN sr s
            ON s.rn = CAST(ceil(g.q_pct * 256 / 100.0) AS BIGINT)),
    e AS (SELECT g.q_pct, f.cents AS exact_cents
          FROM grid g, n JOIN fr f
            ON f.rn = CAST(ceil(g.q_pct * n.n / 100.0) AS BIGINT))
    SELECT a.q_pct, a.approx_cents, e.exact_cents,
           (1000000 * abs(a.approx_cents - e.exact_cents))
             // greatest(e.exact_cents, 1) AS rel_err_micro
    FROM a JOIN e ON e.q_pct = a.q_pct
    ORDER BY a.q_pct
    """,
    tags=("sketch", "quantile", "approx", "extension", "scale-path"),
)
def sketch_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE approximate quantiles via the bottom-k hash sample —
    the quantile member of the KMV sketch family: keep the k=256 rows
    with the smallest md5(key) (a uniform, deterministic, engine-
    portable sample), read the q-th quantile off the sorted sample at
    integer rank ceil(q·k). Mergeability is the KMV property (bottom-k
    of a union = re-truncated union of bottom-ks), which is what
    t-digest/KLL buy in other engines — here with a sketch that is a
    PURE FUNCTION of the input set, so even the approximate values
    hash-match DuckDB exactly.

    The frame carries its own error audit: the exact discrete quantile
    (same ceil-rank definition over the full order) and the integer-
    micro relative error per q ∈ {25, 50, 90, 95, 99} — the audit the
    sketch's user reads before trusting p99. Scale shape: the sample is
    TakeOrderedAndProject on the hash (per-partition heaps of 256, no
    global sort); only the EXACT side's audit window needs a global
    order, and at 100 TB you run the sketch side alone (the exact side
    exists to be measured against, like every recall gate here).
    Quantile ties break (value, hash)/(value, key) so both rank
    definitions are total."""
    from etl_8million_data__spark.operators.text import md5_utf8
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        md5_utf8(F.col("o_orderkey").cast("string")).alias("h"),
    )
    k = 256
    samp = v.select("cents", "h").orderBy("h").limit(k)
    sr = samp.select(
        # the sample window is k-bounded by construction (256 rows)
        "cents", F.row_number().over(Window.orderBy("cents", "h")).alias("rn")
    )
    # Exact side (r15, guide §2.3/§2.4): only FIVE ranks are ever read,
    # so ranking every row (global_rank = full shuffle + sort of the
    # table by range bucket) computed |orders| - 5 ranks that were
    # thrown away. Same boundary-table idea, pruned to the consumers:
    # one map-side-combined bucket histogram (also yields n — the old
    # separate count scan is gone), cumulative offsets over the tiny
    # histogram locate WHICH bucket holds each target rank, and only
    # those <= 5 buckets' rows are sorted (per-bucket window) to read
    # the value at rank - offset. The (bucket, cents, o_orderkey) order
    # equals the global (cents, o_orderkey) order because the bucket is
    # monotone in cents — the identical total order global_rank used.
    bucket = F.expr("cents div 1000000")
    hist = v.groupBy(bucket.alias("_b")).agg(F.count(F.lit(1)).alias("_n"))
    wcum = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    bounds = hist.select(
        "_b", "_n", F.coalesce(F.sum("_n").over(wcum), F.lit(0)).alias("_off")
    )
    n = hist.agg(F.sum("_n").alias("n"))
    grid = spark.createDataFrame([(25,), (50,), (90,), (95,), (99,)], "q_pct int")
    a = (
        grid.crossJoin(F.broadcast(spark.range(1).select(F.lit(k).alias("_k"))))
        .select("q_pct", F.ceil(F.col("q_pct") * k / 100.0).cast("bigint").alias("rn"))
        .join(sr, "rn")
        .select("q_pct", F.col("cents").alias("approx_cents"))
    )
    targets = (
        grid.crossJoin(F.broadcast(n))
        .select(
            "q_pct",
            F.ceil(F.col("q_pct") * F.col("n") / 100.0).cast("bigint").alias("rn"),
        )
        .join(
            F.broadcast(bounds),
            (F.col("_off") < F.col("rn")) & (F.col("rn") <= F.col("_off") + F.col("_n")),
        )
        .select("q_pct", "rn", "_b", "_off")
    )
    # one broadcast inner join both FILTERS the scan to target buckets
    # and attaches (rn, _off); the window partitions by (_b, rn) so a
    # bucket holding two target ranks ranks its rows once per target —
    # at most 5 duplications, never data-sized
    lw = Window.partitionBy("_b", "rn").orderBy("cents", "o_orderkey")
    e = (
        v.select("cents", "o_orderkey", bucket.alias("_b"))
        .join(F.broadcast(targets), "_b")
        .withColumn("_lr", F.row_number().over(lw))
        .filter(F.col("_off") + F.col("_lr") == F.col("rn"))
        .select("q_pct", F.col("cents").alias("exact_cents"))
    )
    return (
        a.join(e, "q_pct")
        .select(
            "q_pct",
            "approx_cents",
            "exact_cents",
            F.expr(
                "(1000000 * abs(approx_cents - exact_cents))"
                " div greatest(exact_cents, 1)"
            ).alias("rel_err_micro"),
        )
        .orderBy("q_pct")
    )


_H32 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(8), i -> CAST(strpos('0123456789abcdef', "
    "md5({expr})[i+1:i+1]) - 1 AS BIGINT))), (a, x) -> a * 16 + x)"
)


@register(
    "corpus_weighted_sample_tickets",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             CAST(least(1 + n_chars // 200, 8) AS BIGINT) AS weight
      FROM documents),
    t AS (
      SELECT doc_id, weight,
             {_H32.format(expr="doc_id::VARCHAR || '#t#' || u.i::VARCHAR")} AS h
      FROM w, unnest(range(weight)) AS u(i)),
    k AS (SELECT doc_id, weight, min(h) AS min_ticket
          FROM t GROUP BY doc_id, weight)
    SELECT doc_id, weight, min_ticket,
           CAST(row_number() OVER (ORDER BY min_ticket, doc_id) AS BIGINT) AS draw
    FROM k
    ORDER BY min_ticket, doc_id
    LIMIT 100
    """,
    tags=("sampling", "weighted", "sketch", "extension", "scale-path"),
)
def corpus_weighted_sample_tickets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample WITHOUT replacement via replicated-ticket
    min-hash (the bottom-k weighted sampling scheme, Cohen & Kaplan's
    bottom-k sketch family): every document gets ``weight`` integer
    tickets (here weight = 1 + n_chars/200 capped at 8 — TOKEN-BUDGET-
    proportional sampling, the draw a pre-training mixture actually
    wants: long documents carry more of the budget), each ticket hashes
    md5(doc_id#t#i), a document's KEY is its minimum ticket, and the
    sample is the bottom-100 keys. P(doc holds the global minimum) is
    EXACTLY weight/Σweights (its tickets are that fraction of all iid
    tickets); successive draws follow the bottom-k order — the
    integer-exact, engine-portable stand-in for Efraimidis-Spirtakis
    u^(1/w) keys, whose libm pow/ln would not hash-match across
    engines. Mergeable like every bottom-k: union per-shard samples,
    re-truncate.

    Scale shape: explode fans each doc to <= 8 ticket rows (bounded by
    the weight cap, never by corpus size), one (doc_id) min-aggregate
    with map-side partials, TakeOrderedAndProject for the bottom-100 —
    no global sort, no rand(), no floats."""
    from etl_8million_data__spark.operators.text import hex_prefix_int, md5_utf8

    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.least(1 + F.expr("n_chars div 200"), F.lit(8)).cast("bigint").alias("weight"),
    )
    t = w.select(
        "doc_id",
        "weight",
        F.explode(F.sequence(F.lit(0), F.col("weight") - 1)).alias("i"),
    )
    h = hex_prefix_int(
        md5_utf8(
            F.concat(
                F.col("doc_id").cast("string"), F.lit("#t#"), F.col("i").cast("string")
            )
        ),
        8,
    )
    k = (
        t.select("doc_id", "weight", h.alias("h"))
        .groupBy("doc_id", "weight")
        .agg(F.min("h").alias("min_ticket"))
    )
    from pyspark.sql import Window

    ordered = k.orderBy("min_ticket", "doc_id").limit(100)
    return ordered.select(
        "doc_id",
        "weight",
        "min_ticket",
        F.row_number()
        .over(Window.orderBy("min_ticket", "doc_id"))
        .cast("bigint")
        .alias("draw"),
    )


@register(
    "sketch_bottomk_quantiles_by_group",
    oracle="""
    WITH v AS (
      SELECT o_orderkey, o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             md5(CAST(o_orderkey AS VARCHAR)) AS h
      FROM orders),
    samp AS (
      SELECT grp, cents, h FROM (
        SELECT *, row_number() OVER (PARTITION BY grp ORDER BY h) AS hr
        FROM v) WHERE hr <= 256),
    kg AS (SELECT grp, count(*) AS k FROM samp GROUP BY grp),
    sr AS (SELECT grp, cents,
                  row_number() OVER (PARTITION BY grp ORDER BY cents, h) AS rn
           FROM samp),
    ng AS (SELECT grp, count(*) AS n FROM v GROUP BY grp),
    fr AS (SELECT grp, cents,
                  row_number() OVER (PARTITION BY grp ORDER BY cents, o_orderkey) AS rn
           FROM v),
    grid AS (SELECT CAST(unnest([50, 95]) AS INT) AS q_pct),
    a AS (SELECT s.grp, g.q_pct, s.cents AS approx_cents
          FROM grid g CROSS JOIN kg JOIN sr s
            ON s.grp = kg.grp
           AND s.rn = CAST(ceil(g.q_pct * kg.k / 100.0) AS BIGINT)),
    e AS (SELECT f.grp, g.q_pct, f.cents AS exact_cents
          FROM grid g CROSS JOIN ng JOIN fr f
            ON f.grp = ng.grp
           AND f.rn = CAST(ceil(g.q_pct * ng.n / 100.0) AS BIGINT))
    SELECT a.grp, a.q_pct, a.approx_cents, e.exact_cents,
           (1000000 * abs(a.approx_cents - e.exact_cents))
             // greatest(e.exact_cents, 1) AS rel_err_micro
    FROM a JOIN e ON e.grp = a.grp AND e.q_pct = a.q_pct
    ORDER BY a.grp, a.q_pct
    """,
    tags=("sketch", "quantile", "approx", "grouped", "extension", "scale-path"),
)
def sketch_bottomk_quantiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bottom-k quantile sketch PER GROUP (order priority): one
    hash-rank window caps each group's sample at k=256 (groups smaller
    than k keep everything and the sketch is exact there), quantiles
    read at integer rank ceil(q·k_g) within each group, with the exact
    per-group discrete quantile and integer-micro relative error in the
    same frame — the per-source length/price-distribution audit shape a
    curation pipeline runs per domain. Same mergeability as the global
    sketch, per group.

    Scale shape: the sample window partitions by group (never global);
    everything downstream is |groups| x k bounded. The exact audit side
    windows the full data per group — at 100 TB you run the sketch side
    alone per the family's standing contract."""
    from pyspark.sql import Window

    from etl_8million_data__spark.operators.text import md5_utf8

    k = 256
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        md5_utf8(F.col("o_orderkey").cast("string")).alias("h"),
    )
    from etl_8million_data__spark.operators.partitioning import global_rank

    # per-group bottom-k by hash WITHOUT a per-group full sort: the hash
    # string's first 2 hex chars are a monotone bucket of its
    # lexicographic order (fixed-length lowercase hex)
    samp = global_rank(
        v,
        "h",
        "o_orderkey",
        F.conv(F.substring("h", 1, 2), 16, 10).cast("bigint"),
        out_col="hr",
        group_cols=("grp",),
    ).filter(F.col("hr") <= k)
    kg = samp.groupBy("grp").agg(F.count(F.lit(1)).alias("k"))
    sr = samp.select(
        # k-bounded per group (<= 256 rows each)
        "grp",
        "cents",
        F.row_number().over(Window.partitionBy("grp").orderBy("cents", "h")).alias("rn"),
    )
    # Exact side (r15, guide §2.3/§2.4, same rewrite as the global
    # sketch): only |groups| x 2 ranks are read, so the per-group
    # full-table rank (global_rank = shuffle + sort of every row) is
    # pruned to the buckets that actually hold a target rank. The
    # (grp, bucket) histogram also yields the per-group counts — the
    # old separate ng scan is gone.
    bucket = F.expr("cents div 1000000")
    hist = v.groupBy("grp", bucket.alias("_b")).agg(F.count(F.lit(1)).alias("_n"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bounds = hist.select(
        "grp", "_b", "_n", F.coalesce(F.sum("_n").over(wcum), F.lit(0)).alias("_off")
    )
    ng = hist.groupBy("grp").agg(F.sum("_n").alias("n"))
    grid = spark.createDataFrame([(50,), (95,)], "q_pct int")
    a = (
        kg.crossJoin(F.broadcast(grid))
        .select(
            "grp", "q_pct", F.ceil(F.col("q_pct") * F.col("k") / 100.0).cast("bigint").alias("rn")
        )
        .join(sr, ["grp", "rn"])
        .select("grp", "q_pct", F.col("cents").alias("approx_cents"))
    )
    targets = (
        ng.crossJoin(F.broadcast(grid))
        .select(
            "grp", "q_pct", F.ceil(F.col("q_pct") * F.col("n") / 100.0).cast("bigint").alias("rn")
        )
        .join(F.broadcast(bounds), "grp")
        .filter((F.col("_off") < F.col("rn")) & (F.col("rn") <= F.col("_off") + F.col("_n")))
        .select("grp", "q_pct", "rn", "_b", "_off")
    )
    lw = Window.partitionBy("grp", "_b", "rn").orderBy("cents", "o_orderkey")
    e = (
        v.select("grp", "cents", "o_orderkey", bucket.alias("_b"))
        .join(F.broadcast(targets), ["grp", "_b"])
        .withColumn("_lr", F.row_number().over(lw))
        .filter(F.col("_off") + F.col("_lr") == F.col("rn"))
        .select("grp", "q_pct", F.col("cents").alias("exact_cents"))
    )
    return (
        a.join(e, ["grp", "q_pct"])
        .select(
            "grp",
            "q_pct",
            "approx_cents",
            "exact_cents",
            F.expr(
                "(1000000 * abs(approx_cents - exact_cents))"
                " div greatest(exact_cents, 1)"
            ).alias("rel_err_micro"),
        )
        .orderBy("grp", "q_pct")
    )


@register(
    "sketch_join_cardinality",
    oracle=f"""
    WITH ak AS (SELECT l_orderkey AS key, count(*) AS a_k
                FROM lineitem GROUP BY 1),
    bk AS (SELECT o_orderkey AS key, count(*) AS b_k
           FROM orders GROUP BY 1),
    dom AS (SELECT key FROM ak UNION SELECT key FROM bk),
    hs AS (SELECT key,
                  {_H32.format(expr="key::VARCHAR")} AS h
           FROM dom),
    samp AS (SELECT key, h FROM hs ORDER BY h, key LIMIT 256),
    th AS (SELECT count(*) AS k_used,
                  CASE WHEN count(*) < 256 THEN 4294967296 ELSE max(h) END AS theta
           FROM samp),
    sp AS (SELECT CAST(sum(coalesce(a.a_k, 0) * coalesce(b.b_k, 0)) AS BIGINT)
                    AS sum_prod
           FROM samp s
           LEFT JOIN ak a ON a.key = s.key
           LEFT JOIN bk b ON b.key = s.key),
    actual AS (SELECT CAST(sum(a.a_k * b.b_k) AS BIGINT) AS actual_rows
               FROM ak a JOIN bk b ON b.key = a.key)
    SELECT th.k_used,
           sp.sum_prod,
           CASE WHEN th.k_used < 256 THEN sp.sum_prod * 1.0
                ELSE sp.sum_prod
                     * ((th.k_used - 1) * 4294967296.0 / th.theta)
                     / th.k_used END AS est_rows,
           actual.actual_rows,
           CAST(floor(1000000 * abs(
             (CASE WHEN th.k_used < 256 THEN sp.sum_prod * 1.0
                   ELSE sp.sum_prod
                        * ((th.k_used - 1) * 4294967296.0 / th.theta)
                        / th.k_used END) - actual.actual_rows)
             / actual.actual_rows) AS BIGINT) AS rel_err_micro
    FROM th, sp, actual
    """,
    tags=("sketch", "cardinality", "join", "approx", "extension", "scale-path"),
)
def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from a COORDINATED bottom-k key
    sample — the planner-statistics primitive (|A ⨝ B| = Σ_k a_k·b_k)
    as a first-class sketch: both sides hash their join keys with the
    same md5-derived 32-bit hash, the bottom-256 keys of the key-domain
    UNION form a uniform coordinated sample, Σ a_k·b_k over the sample
    scales by (KMV domain estimate / k) — and when the domain is
    smaller than k the sample IS the domain and the estimate is exact.
    The frame carries the actual join size and integer-micro relative
    error, the audit that tells you whether to trust the estimate
    before committing a 100 TB shuffle strategy to it. Everything is a
    deterministic function of the key sets (md5 sample, exact integer
    counts; the single scale multiply/divide is the only float and its
    expression tree is identical on both engines), so even the
    ESTIMATE hash-matches.

    Scale shape: per-side key histograms are map-side-combined
    aggregates; the domain sample is TakeOrderedAndProject; the scoring
    join touches 256 keys. Only the actual-side audit runs the real
    join — at 100 TB you run the sketch alone (the family's standing
    contract), merging per-shard bottom-k samples instead."""
    from etl_8million_data__spark.operators.text import hex_prefix_int, md5_utf8

    k = 256
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ak = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("a_k")
    )
    bk = o.groupBy(F.col("o_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("b_k")
    )
    dom = ak.select("key").union(bk.select("key")).distinct()
    hs = dom.select(
        "key", hex_prefix_int(md5_utf8(F.col("key").cast("string")), 8).alias("h")
    )
    samp = hs.orderBy("h", "key").limit(k).localCheckpoint(eager=True)
    th = samp.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.when(F.count(F.lit(1)) < k, F.lit(4294967296).cast("bigint"))
        .otherwise(F.max("h"))
        .alias("theta"),
    )
    sp = (
        samp.join(ak, "key", "left")
        .join(bk, "key", "left")
        .agg(
            F.sum(
                F.coalesce(F.col("a_k"), F.lit(0))
                * F.coalesce(F.col("b_k"), F.lit(0))
            )
            .cast("bigint")
            .alias("sum_prod")
        )
    )
    actual = (
        ak.join(bk, "key")
        .agg(F.sum(F.col("a_k") * F.col("b_k")).cast("bigint").alias("actual_rows"))
    )
    est = F.when(
        F.col("k_used") < k, F.col("sum_prod") * F.lit(1.0)
    ).otherwise(
        F.col("sum_prod")
        * ((F.col("k_used") - 1) * F.lit(4294967296.0) / F.col("theta"))
        / F.col("k_used")
    )
    return (
        th.crossJoin(F.broadcast(sp))
        .crossJoin(F.broadcast(actual))
        .select(
            "k_used",
            "sum_prod",
            est.alias("est_rows"),
            "actual_rows",
            F.floor(
                1_000_000
                * F.abs(est - F.col("actual_rows"))
                / F.col("actual_rows")
            )
            .cast("bigint")
            .alias("rel_err_micro"),
        )
    )


@register(
    "corpus_weighted_sample_by_source",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(least(1 + n_chars // 200, 8) AS BIGINT) AS weight
      FROM documents),
    t AS (
      SELECT doc_id, source, weight,
             {_H32.format(expr="doc_id::VARCHAR || '#t#' || u.i::VARCHAR")} AS h
      FROM w, unnest(range(weight)) AS u(i)),
    k AS (SELECT doc_id, source, weight, min(h) AS min_ticket
          FROM t GROUP BY doc_id, source, weight)
    SELECT doc_id, source, weight, min_ticket, CAST(draw AS BIGINT) AS draw
    FROM (SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY min_ticket, doc_id) AS draw
          FROM k)
    WHERE draw <= 20
    ORDER BY source, draw
    """,
    tags=("sampling", "weighted", "stratified", "sketch", "extension", "scale-path"),
)
def corpus_weighted_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED weighted sampling: corpus_weighted_sample_tickets'
    replicated-ticket min-hash draw, run per SOURCE with a fixed
    20-doc quota each — the per-domain form a mixture pipeline actually
    schedules (every domain contributes its quota, drawn token-budget-
    proportionally WITHIN the domain, so no domain's long-doc skew
    leaks into another's quota). Same integer-exact scheme; the only
    window partitions by source over the doc-level min-ticket frame
    (one row per doc — never the ticket fan-out), and per-source
    samples stay mergeable bottom-k sets."""
    from pyspark.sql import Window

    from etl_8million_data__spark.operators.text import hex_prefix_int, md5_utf8

    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        "source",
        F.least(1 + F.expr("n_chars div 200"), F.lit(8)).cast("bigint").alias("weight"),
    )
    t = w.select(
        "doc_id",
        "source",
        "weight",
        F.explode(F.sequence(F.lit(0), F.col("weight") - 1)).alias("i"),
    )
    h = hex_prefix_int(
        md5_utf8(
            F.concat(
                F.col("doc_id").cast("string"), F.lit("#t#"), F.col("i").cast("string")
            )
        ),
        8,
    )
    k = (
        t.select("doc_id", "source", "weight", h.alias("h"))
        .groupBy("doc_id", "source", "weight")
        .agg(F.min("h").alias("min_ticket"))
    )
    draw = F.row_number().over(
        Window.partitionBy("source").orderBy("min_ticket", "doc_id")
    )
    return (
        k.withColumn("draw", draw.cast("bigint"))
        .filter(F.col("draw") <= 20)
        .select("doc_id", "source", "weight", "min_ticket", "draw")
        .orderBy("source", "draw")
    )



def _advisor_ctes(p: str, table_a: str, key_a: str, table_b: str, key_b: str) -> str:
    """One join's advisor CTE group for the oracle, prefix-isolated so
    three joins share a single WITH clause."""
    return f"""
    {p}ak AS (SELECT {key_a}::VARCHAR AS key, count(*) AS a_k
              FROM {table_a} GROUP BY 1),
    {p}bk AS (SELECT {key_b}::VARCHAR AS key, count(*) AS b_k
              FROM {table_b} GROUP BY 1),
    {p}sa AS (SELECT CAST(sum(a_k) AS BIGINT) AS n_a,
                     CAST(count(*) AS BIGINT) AS d_a FROM {p}ak),
    {p}sb AS (SELECT CAST(sum(b_k) AS BIGINT) AS n_b,
                     CAST(count(*) AS BIGINT) AS d_b FROM {p}bk),
    {p}dom AS (SELECT key FROM {p}ak UNION SELECT key FROM {p}bk),
    {p}hs AS (SELECT key, {_H32.format(expr="key")} AS h FROM {p}dom),
    {p}samp AS (SELECT key, h FROM {p}hs ORDER BY h, key LIMIT 256),
    {p}th AS (SELECT count(*) AS k_used, max(h) AS max_h FROM {p}samp),
    {p}sp AS (SELECT CAST(sum(coalesce(a.a_k, 0) * coalesce(b.b_k, 0)) AS BIGINT)
                       AS sum_prod
              FROM {p}samp s
              LEFT JOIN {p}ak a ON a.key = s.key
              LEFT JOIN {p}bk b ON b.key = s.key)"""


def _advisor_arm(p: str, name: str) -> str:
    small_d = (f"(CASE WHEN {p}sa.n_a < {p}sb.n_b OR ({p}sa.n_a = {p}sb.n_b "
               f"AND {p}sa.d_a <= {p}sb.d_b) THEN {p}sa.d_a ELSE {p}sb.d_b END)")
    small_n = (f"(CASE WHEN {p}sa.n_a < {p}sb.n_b OR ({p}sa.n_a = {p}sb.n_b "
               f"AND {p}sa.d_a <= {p}sb.d_b) THEN {p}sa.n_a ELSE {p}sb.n_b END)")
    return f"""
    SELECT '{name}' AS join_name, {p}sa.n_a, {p}sa.d_a, {p}sb.n_b, {p}sb.d_b,
           CAST({p}th.k_used AS BIGINT) AS k_used,
           CASE WHEN {p}th.k_used < 256 THEN {p}sp.sum_prod * 1.0
                ELSE {p}sp.sum_prod
                     * (({p}th.k_used - 1) * 4294967296.0 / {p}th.max_h)
                     / {p}th.k_used END AS est_join_rows,
           CASE WHEN {small_d} <= 200 THEN 'literal'
                WHEN {small_n} <= 100000 THEN 'broadcast'
                ELSE 'shuffle' END AS strategy
    FROM {p}sa, {p}sb, {p}th, {p}sp"""


_ADVISOR_ORACLE = (
    "WITH "
    + _advisor_ctes("j1", "lineitem", "l_orderkey", "orders", "o_orderkey")
    + ","
    + _advisor_ctes("j2", "orders", "o_custkey", "customer", "c_custkey")
    + ","
    + _advisor_ctes("j3", "customer", "c_nationkey", "nation", "n_nationkey")
    + _advisor_arm("j1", "lineitem_orders")
    + " UNION ALL "
    + _advisor_arm("j2", "orders_customer")
    + " UNION ALL "
    + _advisor_arm("j3", "customer_nation")
)


@register(
    "advisor_join_strategy",
    oracle=_ADVISOR_ORACLE,
    tags=("sketch", "cardinality", "join", "advisor", "extension", "scale-path"),
)
def advisor_join_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-STRATEGY ADVISOR as a first-class query: the coordinated
    bottom-k cardinality sketch (sketch_join_cardinality, measured
    2.7-7.6% error) wired into the broadcast-vs-shuffle decision a
    planner needs BEFORE committing a 100 TB shuffle. For three join
    shapes the table reports exact per-side (rows, distinct keys), the
    sample's k_used, the estimated join cardinality, and the advised
    strategy under the MEASURED thresholds: <= 200 small-side keys ->
    'literal' (push the key set into the big side's scan — the
    IVM/upsert discipline, measured 2.5x cheaper than a 1,420-value IN
    is NOT), <= 100k small-side rows (fixture-scaled stand-in for
    Spark's 10 MB autoBroadcastJoinThreshold) -> 'broadcast', else
    'shuffle' (unhinted; AQE splits skew; the estimate sizes the
    shuffle). At sf0.1 the three joins land one in each bucket.
    operators/partitioning.advise_join is the programmatic twin —
    same sketch, same literal threshold; this query pins the broadcast
    bound at a FIXTURE-SCALED 100k rows so the three joins exercise
    all three arms at sf0.1, while advise_join's default
    ADVISE_BROADCAST_ROWS (1M ~ 10 MB of narrow rows) is the
    production bound callers override per row width. apply_advice
    executes the advised plan — plan-asserted in
    tests/test_join_advisor.py; the skew-escalation arm ('salted') is
    exercised by advisor_salted_join_exec.

    Scale shape: per-side histograms are map-side-combined aggregates;
    the domain sample is TakeOrderedAndProject; nothing ever runs the
    joins being advised."""
    from etl_8million_data__spark.operators.text import hex_prefix_int, md5_utf8

    k = 256

    def one(name: str, a: DataFrame, ka: str, b: DataFrame, kb: str) -> DataFrame:
        ak = a.select(F.col(ka).cast("string").alias("key")).groupBy("key").agg(
            F.count(F.lit(1)).alias("a_k")
        )
        bk = b.select(F.col(kb).cast("string").alias("key")).groupBy("key").agg(
            F.count(F.lit(1)).alias("b_k")
        )
        ak = ak.localCheckpoint(eager=True)
        bk = bk.localCheckpoint(eager=True)
        sa = ak.agg(
            F.sum("a_k").cast("bigint").alias("n_a"),
            F.count(F.lit(1)).cast("bigint").alias("d_a"),
        )
        sb = bk.agg(
            F.sum("b_k").cast("bigint").alias("n_b"),
            F.count(F.lit(1)).cast("bigint").alias("d_b"),
        )
        dom = ak.select("key").union(bk.select("key")).distinct()
        samp = (
            dom.select("key", hex_prefix_int(md5_utf8(F.col("key")), 8).alias("h"))
            .orderBy("h", "key")
            .limit(k)
            .localCheckpoint(eager=True)
        )
        th = samp.agg(
            F.count(F.lit(1)).cast("bigint").alias("k_used"),
            F.max("h").alias("max_h"),
        )
        sp = (
            samp.join(ak, "key", "left")
            .join(bk, "key", "left")
            .agg(
                F.sum(
                    F.coalesce(F.col("a_k"), F.lit(0))
                    * F.coalesce(F.col("b_k"), F.lit(0))
                )
                .cast("bigint")
                .alias("sum_prod")
            )
        )
        small = F.when(
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b")) & (F.col("d_a") <= F.col("d_b"))),
            F.struct(F.col("n_a").alias("n"), F.col("d_a").alias("d")),
        ).otherwise(F.struct(F.col("n_b").alias("n"), F.col("d_b").alias("d")))
        est = F.when(
            F.col("k_used") < k, F.col("sum_prod") * F.lit(1.0)
        ).otherwise(
            F.col("sum_prod")
            * ((F.col("k_used") - 1) * F.lit(4294967296.0) / F.col("max_h"))
            / F.col("k_used")
        )
        return (
            sa.crossJoin(F.broadcast(sb))
            .crossJoin(F.broadcast(th))
            .crossJoin(F.broadcast(sp))
            .withColumn("_s", small)
            .select(
                F.lit(name).alias("join_name"),
                "n_a", "d_a", "n_b", "d_b", "k_used",
                est.alias("est_join_rows"),
                F.when(F.col("_s.d") <= 200, F.lit("literal"))
                .when(F.col("_s.n") <= 100_000, F.lit("broadcast"))
                .otherwise(F.lit("shuffle"))
                .alias("strategy"),
            )
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        one("lineitem_orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(one("orders_customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(one("customer_nation", c, "c_nationkey", n, "n_nationkey"))
    )


def _skew_arm_sql(p: str, label: str, table: str, key: str) -> str:
    """One key-distribution arm for the skew report oracle: per-key
    counts → count-value histogram (tiny) → exact integer percentiles
    from the cumulative sum."""
    return f"""
    {p}k AS (SELECT {key} AS key, CAST(count(*) AS BIGINT) AS n
             FROM {table} GROUP BY 1),
    {p}d AS (SELECT n AS v, CAST(count(*) AS BIGINT) AS keys_at
             FROM {p}k GROUP BY 1),
    {p}s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                    CAST(max(n) AS BIGINT) AS max_n FROM {p}k),
    {p}c AS (SELECT v, keys_at,
                    CAST(sum(keys_at) OVER (ORDER BY v) AS BIGINT) AS cum
             FROM {p}d),
    {p}p AS (SELECT
               (SELECT min(v) FROM {p}c, {p}s WHERE cum * 2 >= n_keys) AS p50,
               (SELECT min(v) FROM {p}c, {p}s WHERE cum * 100 >= 99 * n_keys)
                 AS p99)"""


_SKEW_SELECT = """
    SELECT '{label}' AS keyspace, s.n_keys, s.max_n,
           CAST(p.p50 AS BIGINT) AS p50, CAST(p.p99 AS BIGINT) AS p99,
           CAST((1000000 * s.max_n) // p.p50 AS BIGINT) AS skew_ratio_micro
    FROM {p}s s, {p}p p"""


@register(
    "advisor_shuffle_skew_report",
    oracle=(
        "WITH "
        + _skew_arm_sql("k1", "lineitem.l_orderkey", "lineitem", "l_orderkey")
        + ","
        + _skew_arm_sql("k2", "events.user_id", "events", "user_id")
        + _SKEW_SELECT.format(label="lineitem.l_orderkey", p="k1")
        + " UNION ALL "
        + _SKEW_SELECT.format(label="events.user_id", p="k2")
    ),
    tags=("advisor", "skew", "diagnostics", "extension", "scale-path"),
)
def advisor_shuffle_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-KEY SKEW diagnosis — the companion measurement to
    advise_join's strategy pick: before committing a 100 TB shuffle to
    a key, measure how lopsided its per-key row counts are. Per key
    space: distinct keys, the heaviest key's row count, exact p50/p99
    of the per-key distribution, and max/p50 in integer micro — the
    straggler-partition predictor (a ratio in the thousands means the
    hot key dominates whatever partition it lands in; the skew suite's
    AQE-split and salting paths are the remedies this number tells you
    to reach for).

    Exactness without a data-sized sort: per-key counts collapse to
    the COUNT-VALUE histogram (rows = |distinct per-key counts|, a few
    dozen at most — bounded by the heaviest key, not the key count),
    and the percentiles come from an integer cumulative sum over that
    tiny frame; the only data-scale work is one map-side-combined
    aggregate per key space."""
    from pyspark.sql import Window

    def arm(label: str, df: DataFrame, key: str) -> DataFrame:
        k = df.groupBy(F.col(key).alias("key")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        d = k.groupBy(F.col("n").alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("keys_at")
        )
        s = k.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("n").cast("bigint").alias("max_n"),
        )
        c = d.withColumn(
            "cum", F.sum("keys_at").over(Window.orderBy("v")).cast("bigint")
        )
        pct = (
            c.crossJoin(F.broadcast(s))
            .agg(
                F.min(F.when(F.col("cum") * 2 >= F.col("n_keys"), F.col("v")))
                .cast("bigint")
                .alias("p50"),
                F.min(
                    F.when(F.col("cum") * 100 >= 99 * F.col("n_keys"), F.col("v"))
                )
                .cast("bigint")
                .alias("p99"),
            )
        )
        return (
            s.crossJoin(F.broadcast(pct))
            .select(
                F.lit(label).alias("keyspace"),
                "n_keys",
                "max_n",
                "p50",
                "p99",
                F.expr("(1000000 * max_n) div p50")
                .cast("bigint")
                .alias("skew_ratio_micro"),
            )
        )

    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    return arm("lineitem.l_orderkey", li, "l_orderkey").unionByName(
        arm("events.user_id", ev, "user_id")
    )


@register(
    "advisor_salted_join_exec",
    oracle="""
    WITH big AS (
      SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE l_orderkey END AS key,
             CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
      FROM lineitem),
    dim AS (SELECT DISTINCT key FROM big),
    dim2 AS (SELECT key, key % 7 AS flag FROM dim)
    SELECT 'salted' AS advised, d.flag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(b.qty_c) AS BIGINT) AS qty_cents
    FROM big b JOIN dim2 d USING (key)
    GROUP BY d.flag
    """,
    tags=("advisor", "skew", "join", "salted", "extension", "scale-path"),
)
def advisor_salted_join_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW-AWARE ADVICE, EXECUTED — the composition the two advisor
    queries prepare for (advise_join picks the strategy,
    advisor_shuffle_skew_report measures the key distribution): a
    planted-hot-key join (a third of lineitem's order keys folded onto
    one key — the EAV hot-metric shape from SURVEY §4) is advised under
    a fixture-scaled broadcast budget, the advisor's skew gate
    escalates the would-be shuffle to 'salted'
    (operators/partitioning.ADVISE_SKEW_RATIO / ADVISE_SKEW_SHARE,
    measured from the count-value histogram of the already-built key
    histogram), and apply_advice EXECUTES the two-phase replicate join
    (operators/skew.salted_broadcast_replicate_join — big side salted,
    small side exploded across salt buckets; exact for any join
    semantics). The output carries the advised strategy as a column, so
    the oracle's hard-coded 'salted' GATES the advice itself: if the
    skew gate ever stops firing on this distribution, the hash
    mismatches. Plan assertion (the salt column in the executed join)
    lives in tests/test_join_advisor.py.

    Scale shape: the advice costs the histogram aggregates, never the
    join; the salted execution bounds every reducer at hot_key/8
    rows — the difference between a straggler pinned at 33% of the
    table and 8 even tasks at 100 TB."""
    from etl_8million_data__spark.functions.exact import cents
    from etl_8million_data__spark.operators.partitioning import (
        advise_join,
        apply_advice,
    )

    li = load_table(spark, sf_dir, "lineitem")
    big = li.select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("key"),
        cents("l_quantity").alias("qty_c"),
    )
    small = big.select("key").distinct().withColumn("flag", F.col("key") % 7)
    adv = advise_join(big, small, "key", broadcast_rows=10)
    joined = apply_advice(big, small, "key", adv)
    return joined.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("qty_c").cast("bigint").alias("qty_cents"),
    ).select(
        F.lit(adv["strategy"]).alias("advised"), "flag", "n_rows", "qty_cents"
    )


_ZONE_PREDS = [
    ("1996q1", "1996-01-01 00:00:00", "1996-03-31 00:00:00"),
    ("1997jul", "1997-07-01 00:00:00", "1997-07-31 00:00:00"),
    ("1998year", "1998-01-01 00:00:00", "1998-12-31 00:00:00"),
    ("all", "1990-01-01 00:00:00", "2005-01-01 00:00:00"),
]

_ZONE_PRED_VALUES = ", ".join(
    f"('{n}', TIMESTAMP '{lo}', TIMESTAMP '{hi}')" for n, lo, hi in _ZONE_PREDS
)


def _zone_layout_sql(name: str, order_sql: str) -> str:
    return f"""
    {name}f AS (
      SELECT l_shipdate,
             ntile(64) OVER (ORDER BY {order_sql}, tb) AS file_id
      FROM tb),
    {name}z AS (
      SELECT '{name}' AS layout, file_id,
             min(l_shipdate) AS mn, max(l_shipdate) AS mx
      FROM {name}f GROUP BY file_id)"""


@register(
    "advisor_layout_zonemap",
    oracle=f"""
    WITH tb AS (
      SELECT l_shipdate, l_orderkey, l_partkey,
             l_orderkey * 10 + l_linenumber AS tb
      FROM lineitem),
    {_zone_layout_sql("shipdate", "l_shipdate")},
    {_zone_layout_sql("orderkey", "l_orderkey")},
    {_zone_layout_sql("partkey", "l_partkey")},
    zones AS (
      SELECT * FROM shipdatez UNION ALL
      SELECT * FROM orderkeyz UNION ALL
      SELECT * FROM partkeyz),
    preds(pred, p_lo, p_hi) AS (VALUES {_ZONE_PRED_VALUES})
    SELECT z.layout, p.pred,
           CAST(sum(CASE WHEN z.mx >= p.p_lo AND z.mn <= p.p_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST((1000000 * (count(*) - sum(CASE WHEN z.mx >= p.p_lo
                                                 AND z.mn <= p.p_hi
                                                THEN 1 ELSE 0 END)))
                // count(*) AS BIGINT) AS skip_ratio_micro
    FROM zones z CROSS JOIN preds p
    GROUP BY z.layout, p.pred
    """,
    tags=("advisor", "layout", "zone-map", "extension", "scale-path"),
)
def advisor_layout_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-LAYOUT (sort-key) ADVISOR — the third member of the advisor
    family (join strategy, shuffle skew, now SCAN SKIPPING): before
    committing a 100 TB table layout, measure how much file skipping
    each candidate sort key would buy a known predicate workload.
    Parquet/ORC readers prune row groups by min/max ZONE MAPS, so a
    layout's value for a predicate column is exactly "how few files
    overlap each predicate after sorting by that key". The advisor
    SIMULATES the layout relationally: rows are assigned to 64
    equal-size virtual files by ntile over the candidate sort order
    (the boundary-table :func:`global_ntile` — no single-partition
    window; bucket keys monotone in each sort key), per-file min/max of
    the predicate column form the zone map, and a tiny predicate
    workload (4 shipdate ranges) counts overlapping files. Measured on
    the fixture: the shipdate layout skips ~95% of files for a quarter
    predicate, the orderkey/partkey layouts skip ~0% (uncorrelated
    columns) — the number that justifies re-sorting a table before a
    backfill. Output: (layout, pred, files_read, n_files,
    skip_ratio_micro), bit-exact vs the oracle's ntile.

    Scale shape: one pass per candidate layout (bucket histogram +
    co-partitioned rank), a 64-row zone table per layout, and a
    |layouts|x|preds| broadcast cross — the tables being advised are
    never re-sorted or rewritten."""
    from etl_8million_data__spark.operators.partitioning import global_ntile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate",
        "l_orderkey",
        "l_partkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tb"),
    )
    # Stage the projected frame ONCE (r15, guide §2.3/§6): each of the
    # three simulated layouts consumes `li` twice (bucket histogram +
    # co-partitioned rank), so the un-staged plan re-scanned lineitem
    # six times. The checkpoint is LAZY (eager=False) on purpose — the
    # 4-column projection is O(data), so it must materialize inside the
    # timed region (the timed-boundary contract on profile.time_query), where it is
    # computed once and read six times.
    li = li.localCheckpoint(eager=False)
    layouts = [
        ("shipdate", "l_shipdate",
         (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("bigint")),
        ("orderkey", "l_orderkey", F.expr("l_orderkey div 500")),
        ("partkey", "l_partkey", F.expr("l_partkey div 100")),
    ]
    zones = None
    for name, order_col, bucket in layouts:
        z = (
            global_ntile(li, 64, order_col, "tb", bucket, out_col="file_id")
            .groupBy("file_id")
            .agg(
                F.min("l_shipdate").alias("mn"),
                F.max("l_shipdate").alias("mx"),
            )
            .select(F.lit(name).alias("layout"), "file_id", "mn", "mx")
        )
        zones = z if zones is None else zones.unionByName(z)
    import datetime as _dt

    preds = spark.createDataFrame(
        [
            (n, _dt.datetime.fromisoformat(lo), _dt.datetime.fromisoformat(hi))
            for n, lo, hi in _ZONE_PREDS
        ],
        "pred string, p_lo timestamp, p_hi timestamp",
    )
    hit = F.when(
        (F.col("mx") >= F.col("p_lo")) & (F.col("mn") <= F.col("p_hi")), 1
    ).otherwise(0)
    return (
        zones.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pred")
        .agg(
            F.sum(hit).cast("bigint").alias("files_read"),
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.expr(
                "CAST((1000000 * (count(*) - sum(CASE WHEN mx >= p_lo AND"
                " mn <= p_hi THEN 1 ELSE 0 END))) div count(*) AS BIGINT)"
            ).alias("skip_ratio_micro"),
        )
    )


@register(
    "advisor_layout_exec",
    oracle="""
    SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
             AS ship_month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_c
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) <= DATE '1996-03-31'
    GROUP BY 1
    """,
    tags=("advisor", "layout", "zone-map", "extension", "scale-path",
          "persisted-view"),
)
def advisor_layout_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAYOUT ADVISOR EXECUTION DOOR (operators/partitioning.apply_layout)
    — the operator that APPLIES advisor_layout_zonemap's winning advice
    instead of only simulating it: lineitem rewrites through
    repartitionByRange(64, shipdate) + sortWithinPartitions, so every
    parquet file/row group carries a tight shipdate zone map, then the
    advised predicate workload's 1996q1 range runs AGAINST THE
    REWRITTEN TABLE and aggregates per month. The oracle computes the
    same aggregate from the original table, gating that the rewrite is
    content-preserving; the part SQL cannot see — that the predicted
    ~95% skip MATERIALIZES as parquet row-group pruning — is gated in
    tests/test_layout_apply.py on the executed scan's numOutputRows
    (sorted layout reads ~5% of rows, the unsorted control reads 100%,
    and the measured fraction must not exceed the simulation's
    files_read/n_files prediction plus range-sampling slop).

    Scale shape: the backfill is one range shuffle + sorted write (the
    cost the advisor's skip_ratio is weighed against); the advised
    query's scan is then bounded by the predicate's zone overlap, not
    the table size — the point of paying for the layout."""
    import shutil

    from etl_8million_data__spark.functions.exact import cents
    from etl_8million_data__spark.operators.partitioning import apply_layout
    from etl_8million_data__spark.plans.similarity import _persisted_index_root

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("ship_d"),
        cents("l_quantity").alias("qty_c"),
        "l_orderkey",
    )
    root = _persisted_index_root(sf_dir, "layout_exec")
    shutil.rmtree(root, ignore_errors=True)
    apply_layout(li, root, "ship_d", 64)
    import datetime as _dt

    lo, hi = _dt.date(1996, 1, 1), _dt.date(1996, 3, 31)
    return (
        spark.read.parquet(root)
        .filter((F.col("ship_d") >= F.lit(lo)) & (F.col("ship_d") <= F.lit(hi)))
        .groupBy(
            (F.year("ship_d") * 100 + F.month("ship_d"))
            .cast("bigint")
            .alias("ship_month")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("qty_c").cast("bigint").alias("qty_c"),
        )
    )


@register(
    "advisor_layout_drift",
    oracle=f"""
    WITH tb AS (
      SELECT l_shipdate, l_orderkey,
             l_orderkey * 10 + l_linenumber AS tb
      FROM lineitem),
    basef AS (
      SELECT l_shipdate,
             ntile(48) OVER (ORDER BY l_shipdate, tb) AS file_id
      FROM tb WHERE l_orderkey % 4 <> 0),
    appf AS (
      SELECT l_shipdate,
             48 + ntile(16) OVER (ORDER BY l_orderkey, tb) AS file_id
      FROM tb WHERE l_orderkey % 4 = 0),
    drifted AS (
      SELECT file_id, min(l_shipdate) AS mn, max(l_shipdate) AS mx
      FROM (SELECT * FROM basef UNION ALL SELECT * FROM appf)
      GROUP BY file_id),
    resorted AS (
      SELECT file_id, min(l_shipdate) AS mn, max(l_shipdate) AS mx
      FROM (SELECT l_shipdate,
                   ntile(64) OVER (ORDER BY l_shipdate, tb) AS file_id
            FROM tb)
      GROUP BY file_id),
    preds(pred, p_lo, p_hi) AS (VALUES {_ZONE_PRED_VALUES}),
    d AS (
      SELECT p.pred,
             CAST(sum(CASE WHEN z.mx >= p.p_lo AND z.mn <= p.p_hi
                           THEN 1 ELSE 0 END) AS BIGINT) AS drifted_files_read
      FROM drifted z CROSS JOIN preds p GROUP BY p.pred),
    r AS (
      SELECT p.pred,
             CAST(sum(CASE WHEN z.mx >= p.p_lo AND z.mn <= p.p_hi
                           THEN 1 ELSE 0 END) AS BIGINT) AS resorted_files_read
      FROM resorted z CROSS JOIN preds p GROUP BY p.pred)
    SELECT d.pred, d.drifted_files_read, r.resorted_files_read,
           CAST(64 AS BIGINT) AS n_files,
           CAST((1000000 * d.drifted_files_read)
                // greatest(r.resorted_files_read, 1) AS BIGINT)
             AS read_amp_micro,
           CASE WHEN d.drifted_files_read >= 2 * r.resorted_files_read
                THEN 'recompact' ELSE 'keep' END AS advice
    FROM d JOIN r ON d.pred = r.pred
    """,
    tags=("advisor", "layout", "zone-map", "maintenance", "extension",
          "scale-path"),
)
def advisor_layout_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAYOUT DRIFT ADVISOR — the maintenance companion of
    advisor_layout_zonemap/advisor_layout_exec: a sorted layout decays
    as appends arrive in INGEST order (uncorrelated with the sort key),
    because every appended file's zone map spans the whole key range
    and overlaps every predicate. The advisor quantifies the decay
    relationally — the current table simulated as 48 shipdate-sorted
    base files plus 16 ingest-ordered append files (25% appended rows),
    zone maps per file, the advisor's 4-predicate workload counted
    against them — and compares against the 64-file re-sorted ideal:
    per predicate, (drifted_files_read, resorted_files_read,
    read_amp_micro) and the 'recompact' advice when the drifted layout
    reads >= 2x the files the re-sort would. Measured on the fixture:
    the quarter predicate reads 18/64 drifted vs 3/64 re-sorted
    (amp 6x -> recompact), while the full-range predicate reads
    64/64 either way (amp 1x -> keep: recompaction cannot help a
    non-selective workload — the advisor knows the difference).

    Scale shape: identical to the zonemap advisor — boundary-table
    ntile per layout (never a 1-partition window), 64-row zone tables,
    a broadcast pred cross. The real-parquet twin (actual appends
    degrading actual scan metrics, recompaction via apply_layout
    restoring them) is measured in tests/test_layout_apply.py."""
    from etl_8million_data__spark.operators.partitioning import global_ntile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate",
        "l_orderkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tb"),
    )
    # Shared LAZY stage (r15, guide §2.3/§6), same rationale as
    # advisor_layout_zonemap: base/append/resorted each scan li twice
    # through global_ntile — 6 lineitem scans collapse to one
    # materialization computed inside the timed region.
    li = li.localCheckpoint(eager=False)
    base = global_ntile(
        li.filter(F.col("l_orderkey") % 4 != 0),
        48,
        "l_shipdate",
        "tb",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("bigint"),
        out_col="file_id",
    )
    app = global_ntile(
        li.filter(F.col("l_orderkey") % 4 == 0),
        16,
        "l_orderkey",
        "tb",
        F.expr("l_orderkey div 500"),
        out_col="file_id",
    ).withColumn("file_id", F.col("file_id") + 48)
    drifted = (
        base.unionByName(app)
        .groupBy("file_id")
        .agg(F.min("l_shipdate").alias("mn"), F.max("l_shipdate").alias("mx"))
    )
    resorted = (
        global_ntile(
            li,
            64,
            "l_shipdate",
            "tb",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("bigint"),
            out_col="file_id",
        )
        .groupBy("file_id")
        .agg(F.min("l_shipdate").alias("mn"), F.max("l_shipdate").alias("mx"))
    )
    import datetime as _dt

    preds = spark.createDataFrame(
        [
            (n, _dt.datetime.fromisoformat(lo), _dt.datetime.fromisoformat(hi))
            for n, lo, hi in _ZONE_PREDS
        ],
        "pred string, p_lo timestamp, p_hi timestamp",
    )
    hit = F.when(
        (F.col("mx") >= F.col("p_lo")) & (F.col("mn") <= F.col("p_hi")), 1
    ).otherwise(0)

    def reads(zones: DataFrame, out: str) -> DataFrame:
        return (
            zones.crossJoin(F.broadcast(preds))
            .groupBy("pred")
            .agg(F.sum(hit).cast("bigint").alias(out))
        )

    d = reads(drifted, "drifted_files_read")
    r = reads(resorted, "resorted_files_read")
    return d.join(r, "pred").select(
        "pred",
        "drifted_files_read",
        "resorted_files_read",
        F.lit(64).cast("bigint").alias("n_files"),
        F.expr(
            "CAST((1000000 * drifted_files_read)"
            " div greatest(resorted_files_read, 1) AS BIGINT)"
        ).alias("read_amp_micro"),
        F.when(
            F.col("drifted_files_read") >= 2 * F.col("resorted_files_read"),
            F.lit("recompact"),
        )
        .otherwise(F.lit("keep"))
        .alias("advice"),
    )
