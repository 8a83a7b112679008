"""Range-partition boundary chooser from a deterministic sample — the
100-TB form of equal-frequency bucketing (quantile_binning / the
moving_avg_and_ntile boundary table): instead of ranking the full
table, rank a bounded sample and read the boundary values off explicit
integer ranks.

This is what Spark's own RangePartitioner does (collect a bounded
sample, pick split points), re-expressed relationally and
DETERMINISTICALLY: the sample is a mod-threshold on the engine-portable
multiplicative key hash (never ``rand()``/``TABLESAMPLE``), so the
bounds — and any partition layout derived from them — are reproducible
across runs, retries, and engines, and a DuckDB oracle can check them
bit-for-bit.

Scale shape: the sample filter is a narrow map pushed into the scan;
the only full-order operation is a window over the SAMPLE, whose size
the caller bounds via ``sample_permille`` (Spark's RangePartitioner
samples ~20 rows per output partition — permille chosen so
n * permille/1000 lands near that budget). The resulting bounds table
(n_buckets - 1 rows) broadcasts; downstream either joins it for bucket
ids or feeds ``repartitionByRange`` boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Knuth multiplicative mix, kept in exact bigint range on any engine
# (same constants as plans/corpus_ops; key reduced mod 2^31 first so
# the intermediate product never wraps int64)
_MOD31, _MULT, _ADD, _MOD32 = 2147483648, 2654435761, 104729, 4294967296


def portable_hash_permille(key: Column) -> Column:
    """Deterministic 0..999 hash of an integer key, bit-identical in
    Spark and DuckDB (see sql_hash_permille for the SQL twin)."""
    return ((key % _MOD31) * _MULT + _ADD) % _MOD32 % 1000


def sql_hash_permille(key_sql: str) -> str:
    return f"((({key_sql} % {_MOD31}) * {_MULT} + {_ADD}) % {_MOD32}) % 1000"


def id_bucket(id_col: Column, n_buckets: int = 16) -> Column:
    """Stable hash bucket of a key — md5-derived (not Spark's
    engine-specific hash) so a row's bucket is a pure portable function
    of its key's string form and never drifts across engines or
    versions: a key can never migrate between partitions, which is the
    partitioned-upsert contract. It buckets the financials fact's
    stock_bucket partitions and the persisted index layouts (sign
    signatures, LSH bands, winnowing fingerprints), so upsert, forget
    and compaction rewrite only touched buckets instead of the whole
    table."""
    return F.pmod(
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(n_buckets),
    ).cast("int")


def id_bucket_py(value, n_buckets: int = 16) -> int:
    """Driver-side twin of :func:`id_bucket` (same md5-prefix hash —
    asserted equal in tests): when a bounded key list is already in
    hand, its bucket set is pure Python arithmetic, not another Spark
    job."""
    import hashlib

    return int(hashlib.md5(str(value).encode()).hexdigest()[:8], 16) % n_buckets


def is_hive_partitioned(path: str, col: str) -> bool:
    """True when ``path`` holds a Hive layout partitioned by ``col``
    (any ``col=...`` child directory). Used to keep appends
    layout-consistent: a legacy unpartitioned index keeps receiving
    unpartitioned appends (mixing flat files with partition dirs in one
    root breaks partition discovery), while bucketed indexes get
    bucketed appends."""
    import os

    from etl_8million_data__spark.operators.maintenance import recover_swap

    recover_swap(path)
    try:
        return any(e.startswith(f"{col}=") for e in os.listdir(path))
    except OSError:
        return False


def global_ntile(
    df: DataFrame,
    k: int,
    order_col: Column | str,
    tiebreak_col: str,
    bucket_expr: Column,
    descending: bool = False,
    out_col: str = "tile",
) -> DataFrame:
    """ntile(k) over a GLOBAL order without a single-partition window:
    ``bucket_expr`` must be a monotone function of ``order_col`` (range
    buckets); cumulative bucket counts form a tiny boundary table that
    broadcasts back, the global rank is offset + per-bucket row_number,
    and the tile id is integer arithmetic on (rank, n) — bit-identical
    to ``ntile(k) OVER (ORDER BY order_col [DESC], tiebreak)``: the
    first n%k tiles hold n//k+1 rows.

    Every data-sized window here partitions on the bucket key; the only
    single-partition work is the cumulative sum over the aggregated
    boundary table (rows = number of distinct buckets). Returns the
    input columns plus ``out_col``."""
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    staged = df.withColumn("_b", bucket_expr)
    hist = staged.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    wcum = Window.orderBy(F.col("_b").desc() if descending else F.col("_b").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bounds = hist.select(
        "_b", F.coalesce(F.sum("_n").over(wcum), F.lit(0)).alias("_off")
    )
    total = hist.agg(F.sum("_n").cast("bigint").alias("_nt"))
    local_w = Window.partitionBy("_b").orderBy(
        oc.desc() if descending else oc.asc(), F.col(tiebreak_col)
    )
    ranked = (
        staged.withColumn("_lr", F.row_number().over(local_w))
        .join(F.broadcast(bounds), "_b")
        .crossJoin(F.broadcast(total))
        .withColumn("_rk", F.col("_off") + F.col("_lr"))
    )
    # first n%k tiles have n div k + 1 rows; when n < k the WHEN branch
    # covers every row, so the ELSE's div-by-zero is never evaluated
    # (CASE short-circuits per row, ANSI-safe)
    tile = F.expr(
        f"CASE WHEN _rk <= (_nt % {k}) * (_nt div {k} + 1)"
        f"     THEN (_rk - 1) div (_nt div {k} + 1) + 1"
        f"     ELSE (_nt % {k}) + (_rk - 1 - (_nt % {k}) * (_nt div {k} + 1)) div (_nt div {k}) + 1"
        " END"
    )
    return ranked.withColumn(out_col, tile.cast("int")).drop(
        "_b", "_n", "_off", "_nt", "_lr", "_rk"
    )


def sampled_range_bounds(
    df: DataFrame,
    value_col: Column | str,
    key_col: str,
    n_buckets: int,
    sample_permille: int = 100,
) -> DataFrame:
    """Boundary values splitting ``value_col`` into ``n_buckets``
    near-equal-frequency ranges, computed from the deterministic
    ``sample_permille``/1000 key-hash sample.

    Returns ``(bound_no int, bound_value)`` with ``n_buckets - 1`` rows:
    bound b is the sample value at rank floor(n_sample * b / n_buckets)
    under the (value, key) total order — explicit integer rank
    arithmetic, no engine percentile semantics. Bounds whose rank
    floors to 0 (sample smaller than n_buckets) are absent from the
    result; such callers should lower n_buckets instead.
    """
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    s = df.filter(portable_hash_permille(F.col(key_col)) < sample_permille).select(
        vc.alias("_v"), F.col(key_col).alias("_k")
    )
    # full order over the SAMPLE only — bounded by sample_permille, the
    # same driver-memory contract as Spark's RangePartitioner sample
    w = Window.orderBy("_v", "_k")
    r = s.select(
        "_v",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    b = F.explode(F.sequence(F.lit(1), F.lit(n_buckets - 1))).alias("bound_no")
    return (
        r.select("_v", "_rn", "_n")
        .select("_v", "_rn", "_n", b)
        .filter(F.col("_rn") == F.floor(F.col("_n") * F.col("bound_no") / n_buckets))
        .select(
            F.col("bound_no").cast("int").alias("bound_no"),
            F.col("_v").alias("bound_value"),
        )
    )


def global_rank(
    df: DataFrame,
    order_col: Column | str,
    tiebreak_col: str,
    bucket_expr: Column,
    out_col: str = "grank",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Global (or per-group) rank under the (order_col asc, tiebreak)
    total order WITHOUT an unpartitioned window — the rank-select
    sibling of :func:`global_ntile`: ``bucket_expr`` must be monotone
    in ``order_col``; cumulative bucket counts form a bounded boundary
    table (per group) that broadcasts back, and the rank is offset +
    per-(group, bucket) row_number. Every data-sized window partitions
    on (group, bucket); the only unpartitioned-looking window runs over
    the aggregated boundary table (rows = |groups| x |buckets|).
    Returns the input columns plus ``out_col``."""
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    keys = list(group_cols)
    staged = df.withColumn("_b", bucket_expr)
    hist = staged.groupBy(*keys, "_b").agg(F.count(F.lit(1)).alias("_n"))
    wcum = (
        Window.partitionBy(*keys).orderBy(F.col("_b").asc())
        if keys
        else Window.orderBy(F.col("_b").asc())
    ).rowsBetween(Window.unboundedPreceding, -1)
    bounds = hist.select(
        *keys, "_b", F.coalesce(F.sum("_n").over(wcum), F.lit(0)).alias("_off")
    )
    local_w = Window.partitionBy(*keys, "_b").orderBy(oc.asc(), F.col(tiebreak_col))
    return (
        staged.withColumn("_lr", F.row_number().over(local_w))
        .join(F.broadcast(bounds), keys + ["_b"])
        .withColumn(out_col, (F.col("_off") + F.col("_lr")).cast("bigint"))
        .drop("_b", "_off", "_lr")
    )


# Join-strategy advisor thresholds, both MEASURED rather than guessed:
# - ADVISE_LITERAL_KEYS mirrors operators/ivm.MAX_LITERAL_KEYS: a
#   1,420-value literal IN planned+ran 2.5x slower than the broadcast
#   semi-join, while small INs add parquet row-group pruning the
#   semi-join cannot — so the literal push is reserved for <= 200 keys.
# - ADVISE_BROADCAST_ROWS aligns with Spark's default
#   autoBroadcastJoinThreshold (10 MB) at ~10 B per narrow key+payload
#   row; callers with wide rows pass their own bound.
ADVISE_LITERAL_KEYS = 200
ADVISE_BROADCAST_ROWS = 1_000_000
# Skew gate for the shuffle arm (the advisor_shuffle_skew_report
# machinery folded into the decision): a shuffled join key is HOT when
# the heaviest key carries >= ADVISE_SKEW_RATIO x the median per-key
# row count AND >= ADVISE_SKEW_SHARE of its whole side — both must
# hold, so a uniformly-heavy keyspace (high p50) or a large-but-diluted
# max never trips it. Remedy: 'salted' (operators/skew.py's
# replicate-join, exact for any join semantics).
ADVISE_SKEW_RATIO = 8
ADVISE_SKEW_SHARE = 20  # max_n * SHARE >= n  <=>  hot key >= 5% of side


def advise_join(
    a: DataFrame,
    b: DataFrame,
    on: list[str] | str,
    k: int = 256,
    literal_keys: int = ADVISE_LITERAL_KEYS,
    broadcast_rows: int = ADVISE_BROADCAST_ROWS,
) -> dict:
    """Join-strategy advisor fed by the coordinated bottom-k
    join-cardinality sketch (plans/approx.sketch_join_cardinality's
    machinery, measured 2.7-7.6% relative error on the fixture joins):
    per-side key histograms give exact (rows, distinct keys), the
    bottom-k coordinated key sample estimates |A ⋈ B|, and the decision
    follows the measured thresholds:

    - ``literal``  — the smaller side's distinct keys fit a pushed
      literal IN (<= literal_keys): prune the big side's SCAN, then
      broadcast the small side (the upsert/IVM old-side discipline);
    - ``broadcast`` — the smaller side fits an executor broadcast
      (<= broadcast_rows rows);
    - ``shuffle``  — both sides are big: shuffle on the join key and
      let AQE split skew; the estimate sizes
      spark.sql.shuffle.partitions (est_join_rows / rows-per-task);
    - ``salted``   — the shuffle's BIG-side key distribution is hot
      (heaviest key >= ADVISE_SKEW_RATIO x its p50 per-key count AND
      >= 1/ADVISE_SKEW_SHARE of the side — both measured from the
      already-built key histogram via its count-value histogram, the
      advisor_shuffle_skew_report machinery): execute through
      operators/skew.salted_broadcast_replicate_join so the hot key
      fans across salt buckets instead of straggling one reducer.
      Paths where AQE's skew split is unavailable (streaming
      micro-batches) or insufficient (one KEY hotter than any split
      granularity) are exactly where this advice matters.

    Costs three map-side-combined aggregates + a k-row
    TakeOrderedAndProject (+ one tiny count-value-histogram collect on
    the shuffle arm) — never the join itself. Returns a dict:
    strategy, est_join_rows, n_a/n_b (rows), d_a/d_b (distinct keys),
    small_side, k_used, and on the shuffle/salted arms skew_max_n /
    skew_p50 of the big side."""
    from etl_8million_data__spark.operators.text import hex_prefix_int, md5_utf8

    on = [on] if isinstance(on, str) else list(on)
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in on])
    ak = a.select(key.alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("a_k")
    ).localCheckpoint(eager=True)
    bk = b.select(key.alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("b_k")
    ).localCheckpoint(eager=True)
    sa = ak.agg(F.sum("a_k").alias("n"), F.count(F.lit(1)).alias("d")).first()
    sb = bk.agg(F.sum("b_k").alias("n"), F.count(F.lit(1)).alias("d")).first()
    dom = ak.select("key").union(bk.select("key")).distinct()
    samp = (
        dom.select("key", hex_prefix_int(md5_utf8(F.col("key")), 8).alias("h"))
        .orderBy("h", "key")
        .limit(k)
        .localCheckpoint(eager=True)
    )
    th = samp.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("max_h")
    ).first()
    sum_prod = (
        samp.join(ak, "key", "left")
        .join(bk, "key", "left")
        .agg(
            F.sum(
                F.coalesce(F.col("a_k"), F.lit(0))
                * F.coalesce(F.col("b_k"), F.lit(0))
            ).alias("s")
        )
        .first()["s"]
        or 0
    )
    if th["k_used"] < k:
        est = float(sum_prod)  # sample IS the domain: exact
    else:
        est = (
            sum_prod * ((th["k_used"] - 1) * 4294967296.0 / th["max_h"])
            / th["k_used"]
        )
    small = "a" if (sa["n"], sa["d"]) <= (sb["n"], sb["d"]) else "b"
    n_small, d_small = (sa if small == "a" else sb)["n"], (
        sa if small == "a" else sb
    )["d"]
    if d_small <= literal_keys:
        strategy = "literal"
    elif n_small <= broadcast_rows:
        strategy = "broadcast"
    else:
        strategy = "shuffle"
    out = {
        "strategy": strategy,
        "est_join_rows": est,
        "n_a": sa["n"],
        "d_a": sa["d"],
        "n_b": sb["n"],
        "d_b": sb["d"],
        "small_side": small,
        "k_used": th["k_used"],
    }
    if strategy == "shuffle":
        # skew check on the BIG side's per-key counts (salting spreads
        # the big side; a hot SMALL-side key is an output-size problem
        # salting cannot fix). The per-key histogram is already built;
        # its count-value histogram is bounded by the heaviest key's
        # count, not the key count (the skew-report argument).
        big_hist, cnt = (bk, "b_k") if small == "a" else (ak, "a_k")
        n_big = (sb if small == "a" else sa)["n"]
        hist = sorted(
            (
                (r["v"], r["keys_at"])
                for r in big_hist.groupBy(F.col(cnt).alias("v"))
                .agg(F.count(F.lit(1)).alias("keys_at"))
                .collect()
            )
        )
        n_keys = sum(k for _, k in hist)
        cum = 0
        p50 = hist[-1][0] if hist else 1
        for v, k in hist:
            cum += k
            if cum * 2 >= n_keys:
                p50 = v
                break
        max_n = hist[-1][0] if hist else 0
        out["skew_max_n"] = max_n
        out["skew_p50"] = p50
        if (
            max_n >= ADVISE_SKEW_RATIO * max(p50, 1)
            and max_n * ADVISE_SKEW_SHARE >= n_big
        ):
            # composite keys salt identically (the salt spreads rows,
            # not key columns) — salted_broadcast_replicate_join joins
            # on (keys..., salt)
            out["strategy"] = "salted"
    return out


def apply_advice(
    a: DataFrame, b: DataFrame, on: list[str] | str, advice: dict
) -> DataFrame:
    """Execute a ⋈ b with the advised strategy: ``literal`` collects
    the small side's (bounded, <= ADVISE_LITERAL_KEYS) key set and
    pushes it as an IN filter into the BIG side's scan before a
    broadcast join; ``broadcast`` hints the small side; ``shuffle``
    leaves the planner's exchange in place (AQE handles skew);
    ``salted`` runs the two-phase replicate join (big side salted,
    small side exploded across salt buckets — exact for any join
    semantics, operators/skew.py). The result set is identical under
    every strategy — only the physical plan moves."""
    from etl_8million_data__spark.operators.skew import (
        salted_broadcast_replicate_join,
    )

    on = [on] if isinstance(on, str) else list(on)
    small, big = (a, b) if advice["small_side"] == "a" else (b, a)
    if advice["strategy"] == "salted":
        joined = salted_broadcast_replicate_join(big, small, on)
    elif advice["strategy"] == "literal":
        if len(on) == 1:
            # HARD row-count gate at the collect site (not only in the
            # advisor): the advice dict may be stale or hand-built, and
            # an ungated .collect() on a data-derived frame is a driver
            # OOM at 100 TB. limit(N+1) bounds the fetch; on overflow
            # fall back to the broadcast-semi form, which computes the
            # identical result without driver materialization (same
            # discipline as bucket_store.py's MAX_BROADCAST_ROWS gate).
            rows = (
                small.select(on[0])
                .distinct()
                .limit(ADVISE_LITERAL_KEYS + 1)
                .collect()
            )
            if len(rows) <= ADVISE_LITERAL_KEYS:
                big = big.filter(F.col(on[0]).isin([r[on[0]] for r in rows]))
            else:
                kf = small.select(*on).distinct()
                big = big.join(F.broadcast(kf), on, "left_semi")
        else:
            kf = small.select(*on).distinct()
            big = big.join(F.broadcast(kf), on, "left_semi")
        joined = big.join(F.broadcast(small), on)
    elif advice["strategy"] == "broadcast":
        joined = big.join(F.broadcast(small), on)
    else:
        joined = big.join(small, on)
    return joined


def apply_layout(
    df: DataFrame,
    path: str,
    sort_cols: list[str] | str,
    n_files: int = 64,
) -> None:
    """EXECUTE the layout advisor's winning sort key
    (plans/approx.advisor_layout_zonemap simulates; this door rewrites):
    range-repartition into ``n_files`` contiguous key ranges and sort
    within each, so every parquet file/row group carries a TIGHT
    min/max zone map on the sort key and the reader's predicate
    pushdown actually skips the non-overlapping ones. Verification that
    the simulation's predicted skip materializes on the rewritten
    table is on executed scan metrics (numOutputRows — the rows
    surviving parquet row-group pruning), never plan text:
    tests/test_layout_apply.py gates measured-vs-predicted.

    Range boundaries come from Spark's reservoir sampling
    (repartitionByRange), so file populations are approximately — not
    exactly — the simulation's equal-count ntile split; the gate
    carries a boundary-slop margin for that. One shuffle + one sorted
    write: the backfill cost the advisor's skip_ratio is weighed
    against."""
    cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )
