"""Merkle-style table diff — the ops tool for validating a migration,
backfill, or replica at 100 TB: comparing two table versions row by row
is a full-shuffle full-outer join of BOTH tables, but almost all of a
real pair is identical, so the join should only ever see the parts that
differ. Two phases (the Merkle-tree discipline applied to the id-bucket
layout the persisted stores already use):

1. BUCKET CHECKSUMS: each side aggregates one order-insensitive
   fingerprint per key bucket — sum of per-row xxhash64 over the
   columns under comparison, plus the row count. Map-side partials;
   the shuffle carries |buckets| rows however large the tables are.
   Buckets whose (checksum, count) match on both sides are PROVEN
   equal (up to 2^-64 hash collision) and never touched again.
2. ROW DIFF, differing buckets only: the bounded differing-bucket set
   is pushed as a literal partition filter into BOTH sides' fresh
   scans (file-listing pruning on `kb=` layouts — asserted on executed
   scan metrics in tests), and a full-outer join by key classifies
   added / removed / changed.

At 1% drift the expensive phase reads and shuffles ~1% of the data
(bucket granularity); identical tables short-circuit after phase 1.
The row hash is engine-internal (never oracle-compared): a changed row
is one whose two versions hash differently, so a 2^-64 collision could
misclassify a changed row as unchanged — the registered query's DuckDB
oracle compares real column values, so the hash gate itself would
surface such a collision.

Reference semantics: the reference validates loads by row counts only
(details.py's read-back counting); this is the content-level upgrade,
SURVEY §7.2's ops-extension brief.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.maintenance import write_durable
from etl_8million_data__spark.operators.partitioning import (
    id_bucket,
    is_hive_partitioned,
)

DIFF_NB = 16

# Persisted bucket-checksum summary: the routine "is my replica in
# sync" audit at 100 TB should not scan both tables fully every call —
# phase 1's per-bucket (checksum, count) rows are tiny (<= nb) and
# every bucket-writing door already knows exactly which buckets it
# touched, so the summary lives as a `_checksums/` sidecar inside the
# table root (underscore prefix: invisible to parquet readers of the
# table) and is re-derived ONLY for touched buckets on each rewrite
# (bucket_store.overwrite_buckets hooks it automatically; the sidecar's
# _meta.json pins the fingerprinted keys/cols/nb so a diff over a
# DIFFERENT column set falls back to the full scan instead of trusting
# a mismatched summary).
CK_DIR = "_checksums"
CK_SCHEMA = "kb int, cs decimal(38,0), n bigint"


def _prep(
    spark: SparkSession, path: str, keys: list[str], cols: list[str], nb: int
) -> DataFrame:
    from etl_8million_data__spark.operators.bucket_store import (
        read_store_pinned,
    )

    # pinned-schema read when the store carries one (zero footer
    # inference; a legacy mixed-schema store surfaces missing columns
    # as declared NULLs instead of a footer-order-dependent schema)
    df = read_store_pinned(spark, path)
    if not is_hive_partitioned(path, "kb"):
        # unbucketed legacy input: derive the bucket (phase 2 loses
        # file-listing pruning but keeps the early filter)
        df = df.withColumn("kb", id_bucket(F.col(keys[0]), nb))
    return df.select(*keys, *cols, "kb")


def _store_nb(path: str, nb: int | None, default: int = DIFF_NB) -> int:
    """The modulus a door must hash with: the store's persisted marker
    when present (explicit contradiction raises — bucket_store.resolve_nb),
    else the caller's value."""
    from etl_8million_data__spark.operators.bucket_store import resolve_nb

    return resolve_nb(path, nb, default)


def _row_hash(keys: list[str], cols: list[str]):
    # deterministic column order; null-safe via explicit marker
    ordered = list(keys) + sorted(cols)
    return F.xxhash64(
        *[F.coalesce(F.col(c).cast("string"), F.lit("\0null")) for c in ordered]
    )


def _bucket_sums(
    df: DataFrame, keys: list[str], cols: list[str]
) -> DataFrame:
    rh = _row_hash(keys, cols)
    # decimal(38,0) sum: exact and overflow-free under ANSI for any
    # realistic bucket (full-range int64 hashes x up to ~1e19 rows)
    return df.groupBy("kb").agg(
        F.sum(rh.cast("decimal(38,0)")).alias("cs"),
        F.count(F.lit(1)).alias("n"),
    )


def _ck_meta_path(path: str) -> str:
    from etl_8million_data__spark.operators.bucket_store import resolve_root

    return os.path.join(resolve_root(path), CK_DIR, "_meta.json")


def _write_summary(
    spark: SparkSession, summ_rows, path: str, meta: dict
) -> None:
    """Persist the <= nb summary rows + the meta pin. The rows arrive
    COLLECTED (the summary is bounded by the layout's bucket count,
    never by data size) so the overwrite never reads the directory it
    replaces."""
    from etl_8million_data__spark.operators.bucket_store import resolve_root

    d = os.path.join(resolve_root(path), CK_DIR)
    spark.createDataFrame(summ_rows, CK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    write_durable(_ck_meta_path(path), json.dumps(meta))
    spark.catalog.refreshByPath(d)


def checksums_init(
    spark: SparkSession,
    path: str,
    keys: list[str],
    cols: list[str],
    nb: int = DIFF_NB,
) -> None:
    """One full pass over the table to seed the persisted summary;
    thereafter every rewrite through bucket_store.overwrite_buckets
    (sync/scd2/golden/IVM doors) re-derives ONLY its touched buckets'
    rows, so the routine replica audit reads 2 x nb summary rows
    instead of two full tables."""
    meta = {"keys": list(keys), "cols": sorted(cols), "nb": nb}
    summ = _bucket_sums(_prep(spark, path, keys, cols, nb), keys, cols)
    _write_summary(spark, summ.collect(), path, meta)


def read_checksums(spark: SparkSession, path: str):
    """(meta, summary DataFrame) — or (None, None) when the table has
    no summary sidecar."""
    from etl_8million_data__spark.operators.bucket_store import resolve_root

    mp = _ck_meta_path(path)
    if not os.path.isfile(mp):
        return None, None
    with open(mp) as fh:
        meta = json.load(fh)
    return meta, spark.read.schema(CK_SCHEMA).parquet(
        os.path.join(resolve_root(path), CK_DIR)
    )


def update_checksums(
    spark: SparkSession,
    path: str,
    affected: list[int],
) -> None:
    """Incremental summary maintenance: re-derive ONLY the ``affected``
    buckets' (cs, n) rows from a literal-pruned re-read and splice them
    into the persisted summary. A table without a summary is a no-op; a
    bucket emptied outright drops its row (matching what a fresh
    full-scan summary would produce)."""
    meta, cur = read_checksums(spark, path)
    if meta is None:
        return
    keys, cols, nb = meta["keys"], meta["cols"], meta["nb"]
    src = _prep(spark, path, keys, cols, nb).filter(
        F.col("kb").isin(affected) if affected else F.lit(False)
    )
    fresh = {r["kb"]: r for r in _bucket_sums(src, keys, cols).collect()}
    kept = [
        (r["kb"], r["cs"], r["n"])
        for r in cur.collect()
        if r["kb"] not in set(affected)
    ]
    rows = kept + [(r["kb"], r["cs"], r["n"]) for r in fresh.values()]
    _write_summary(spark, rows, path, meta)


def _summary_if_match(
    spark: SparkSession, path: str, keys: list[str], cols: list[str], nb: int
):
    from etl_8million_data__spark.operators.bucket_store import read_pending

    if read_pending(path) is not None:
        # a door died between its data write and its summary update:
        # the summary is possibly stale — fall back to the full-scan
        # phase 1 (never a wrong answer) until a door call repairs it
        return None
    meta, df = read_checksums(spark, path)
    if meta is None:
        return None
    if (
        meta.get("keys") != list(keys)
        or meta.get("cols") != sorted(cols)
        or meta.get("nb") != nb
    ):
        # the summary fingerprints a different comparison: never trust
        # it for this one
        return None
    return df


def checksums_fsck(
    spark: SparkSession, path: str
) -> DataFrame:
    """One-row audit of a persisted summary against a fresh full-scan
    recompute (the trust anchor for the incremental maintenance):
    (n_buckets_summary, n_buckets_actual, n_mismatched). All-zero
    n_mismatched = the doors kept the summary honest."""
    meta, cur = read_checksums(spark, path)
    if meta is None:
        raise ValueError(f"{path}: no checksum summary to audit")
    keys, cols, nb = meta["keys"], meta["cols"], meta["nb"]
    want = _bucket_sums(_prep(spark, path, keys, cols, nb), keys, cols)
    j = cur.withColumnsRenamed({"cs": "cs_s", "n": "n_s"}).join(
        want, "kb", "full_outer"
    )
    return j.agg(
        F.coalesce(F.count(F.col("cs_s")), F.lit(0)).alias("n_buckets_summary"),
        F.coalesce(F.count(F.col("cs")), F.lit(0)).alias("n_buckets_actual"),
        F.coalesce(
            F.sum(
                F.when(
                    ~(
                        F.col("cs_s").eqNullSafe(F.col("cs"))
                        & F.col("n_s").eqNullSafe(F.col("n"))
                    ),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_mismatched"),
    )


def diff_tables(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    keys: list[str],
    cols: list[str],
    nb: int = DIFF_NB,
    use_summary: bool = True,
) -> DataFrame:
    """Row-level diff of table B vs table A over ``keys`` (unique per
    table), comparing ``cols``: returns (keys..., change) with change
    in {'added', 'removed', 'changed'}; unchanged rows never appear.
    Phase-1 bucket checksums prove identical buckets equal; phase 2
    joins only the differing buckets (literal-pruned scans). When BOTH
    sides carry a door-maintained summary for this exact comparison
    (:func:`checksums_init`), phase 1 reads 2 x nb summary rows
    instead of scanning either table — the flat-cost replica audit;
    any mismatch in the fingerprinted (keys, cols, nb) falls back to
    the full-scan phase 1, never a wrong answer. Sides carrying a
    persisted ``_nb`` marker must agree on it (bucket ids of different
    moduli cover different key sets — comparing them bucket-by-bucket
    would be meaningless), and the persisted value overrides the
    parameter."""
    from etl_8million_data__spark.operators.bucket_store import resolve_nb

    na = resolve_nb(path_a, None, nb)
    nbb = resolve_nb(path_b, None, nb)
    if na != nbb:
        raise ValueError(
            f"diff_tables: sides are bucketed with different moduli "
            f"({path_a}: nb={na}, {path_b}: nb={nbb}) — rebucket one side "
            "first (bucket_store.rebucket)"
        )
    nb = na
    rh = _row_hash(keys, cols)

    def sums(side_path: str, side: str) -> DataFrame:
        summ = (
            _summary_if_match(spark, side_path, keys, cols, nb)
            if use_summary
            else None
        )
        if summ is None:
            summ = _bucket_sums(
                _prep(spark, side_path, keys, cols, nb), keys, cols
            )
        return summ.withColumnsRenamed({"cs": f"cs_{side}", "n": f"n_{side}"})

    budget = (
        sums(path_a, "a")
        .join(sums(path_b, "b"), "kb", "full_outer")
        .filter(
            ~(
                F.col("cs_a").eqNullSafe(F.col("cs_b"))
                & F.col("n_a").eqNullSafe(F.col("n_b"))
            )
        )
        .select("kb")
    )
    diff_kbs = [r["kb"] for r in budget.collect()]  # <= nb rows
    if not diff_kbs:
        return spark.createDataFrame(
            [], ", ".join(f"{k} bigint" for k in keys) + ", change string"
        )
    a2 = _prep(spark, path_a, keys, cols, nb).filter(F.col("kb").isin(diff_kbs))
    b2 = _prep(spark, path_b, keys, cols, nb).filter(F.col("kb").isin(diff_kbs))
    ja = a2.select(*keys, rh.alias("_h_a"))
    jb = b2.select(*keys, rh.alias("_h_b"))
    j = ja.join(jb, keys, "full_outer")
    return j.select(
        *keys,
        F.when(F.col("_h_a").isNull(), F.lit("added"))
        .when(F.col("_h_b").isNull(), F.lit("removed"))
        .when(F.col("_h_a") != F.col("_h_b"), F.lit("changed"))
        .alias("change"),
    ).filter(F.col("change").isNotNull())


def sync_tables(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    keys: list[str],
    cols: list[str],
    nb: int | None = None,
) -> int:
    """REPAIR companion of :func:`diff_tables` — make table A equal
    table B in diff time: the Merkle diff finds the differing buckets,
    and ONLY those buckets rewrite (removed keys drop, changed keys
    take B's row, added keys copy in); identical buckets are never
    read for the repair and stay byte-identical — the replica-sync /
    backfill-fix shape at 100 TB. A must be in the `kb=` bucketed
    layout (the rewrite is partition-targeted); returns the number of
    diff rows applied (0 = already in sync, nothing rewritten).
    Idempotent: a second sync diffs empty."""
    if not is_hive_partitioned(path_a, "kb"):
        raise ValueError(
            "sync_tables repairs in place by bucket partition: write "
            "table A with write_bucketed first"
        )
    nb = _store_nb(path_a, nb)
    d = diff_tables(spark, path_a, path_b, keys, cols, nb).localCheckpoint(
        eager=False
    )
    n = d.count()
    if not n:
        return 0
    kbs = [
        r["_b"]
        for r in d.select(id_bucket(F.col(keys[0]), nb).alias("_b"))
        .distinct()
        .collect()
    ]
    # the REPAIR reads FULL rows, not the compared projection: a
    # rewritten bucket must keep every column of A, including ones
    # outside the diffed set (rewriting from the keys+cols projection
    # would silently drop them — unrecoverable data loss in exactly
    # the buckets the sync touched)
    from etl_8million_data__spark.operators.bucket_store import (
        read_store_pinned,
    )

    a = read_store_pinned(spark, path_a).filter(F.col("kb").isin(kbs))
    b = read_store_pinned(spark, path_b)
    if "kb" not in b.columns:
        b = b.withColumn("kb", id_bucket(F.col(keys[0]), nb))
    b = b.filter(F.col("kb").isin(kbs))
    if set(a.columns) != set(b.columns):
        # copying B's rows into A only round-trips when the schemas
        # agree beyond the compared set; anything else needs a real
        # migration, not a bucket splice
        raise ValueError(
            "sync_tables copies full rows from B into A's buckets: the "
            f"tables' columns must match (A-only: "
            f"{sorted(set(a.columns) - set(b.columns))}, B-only: "
            f"{sorted(set(b.columns) - set(a.columns))})"
        )
    from etl_8million_data__spark.operators.bucket_store import (
        bounded_broadcast,
    )

    dk = d.select(*keys)
    take_from_b = b.join(
        bounded_broadcast(
            d.filter(F.col("change").isin("added", "changed")).select(*keys), n
        ),
        keys,
        "left_semi",
    )
    keep = a.join(bounded_broadcast(dk, n), keys, "left_anti")
    content = keep.unionByName(take_from_b)
    from etl_8million_data__spark.operators.bucket_store import overwrite_buckets

    overwrite_buckets(spark, path_a, ["kb"], content, [(k,) for k in kbs])
    return n


def write_bucketed(
    df: DataFrame, path: str, key: str, nb: int = DIFF_NB, checksums: bool = False
) -> None:
    """Persist a table in the diffable layout: `kb=` key-bucket
    partitions, one file per bucket (the write_clean_store small-files
    discipline), with the bucket modulus pinned in an ``_nb`` sidecar
    (every later door validates against it — a wrong modulus prunes
    deletes into the wrong buckets) and the FULL schema pinned in
    ``_schema.json`` (every later read plans with zero footer
    inference). ``checksums=True`` additionally seeds the persisted
    bucket-checksum summary over all non-key columns — from then on
    rewrites through bucket_store.overwrite_buckets maintain it
    incrementally and :func:`diff_tables` audits this table without
    scanning it."""
    from etl_8million_data__spark.operators.bucket_store import (
        write_nb,
        write_schema,
        write_table_bucketed,
    )

    staged = df.withColumn("kb", id_bucket(F.col(key), nb))
    write_table_bucketed(staged, path, "kb")
    write_nb(path, nb)
    write_schema(path, staged.schema)
    if checksums:
        checksums_init(
            df.sparkSession,
            path,
            [key],
            [c for c in df.columns if c != key],
            nb,
        )


def append_checksums(
    spark: SparkSession, path: str, appended: DataFrame
) -> None:
    """ADDITIVE summary maintenance for append doors: the per-bucket
    checksum is a SUM of row hashes, so an append's effect on the
    summary is pure addition — one map-side aggregate over the batch
    (never a re-read of the table), added driver-side to the stored
    rows. A table without a summary is a no-op."""
    meta, cur = read_checksums(spark, path)
    if meta is None:
        return
    keys, cols = meta["keys"], meta["cols"]
    delta = {
        r["kb"]: (r["cs"], r["n"])
        for r in _bucket_sums(
            appended.select(*keys, *cols, "kb"), keys, cols
        ).collect()
    }
    rows = {r["kb"]: (r["cs"], r["n"]) for r in cur.collect()}
    for kb, (cs, n) in delta.items():
        ocs, on = rows.get(kb, (0, 0))
        rows[kb] = (ocs + cs, on + n)
    _write_summary(
        spark, [(kb, cs, n) for kb, (cs, n) in rows.items()], path, meta
    )


def repair_pending_summary(spark: SparkSession, path: str) -> bool:
    """Recover from a door that died between its data append and its
    summary update (the one window the skip-existing replay cannot
    repair: the rows exist, so redelivery appends nothing and the
    ADDITIVE delta is never re-applied — a silently stale summary).
    The doors write a ``_pending_summary`` marker BEFORE the append and
    clear it AFTER the summary update; if a marker is found here, the
    touched buckets' summary rows are re-derived from the TABLE
    (pruned read — correct whether or not the predecessor's append
    landed) and the marker cleared. Returns True when a repair ran."""
    from etl_8million_data__spark.operators.bucket_store import (
        clear_pending,
        read_pending,
    )

    pending = read_pending(path)
    if pending is None:
        return False
    update_checksums(spark, path, pending.get("kbs", []))
    clear_pending(path)
    return True


def append_bucketed(
    df: DataFrame, path: str, key: str, nb: int | None = None
) -> None:
    """Append door for the diffable layout: rows land in their ``kb=``
    bucket partitions (one file per touched bucket per batch — the
    write_clean_store discipline) and a summary, when present, updates
    ADDITIVELY from the batch alone. The modulus comes from the store's
    persisted ``_nb`` marker (an explicit contradicting ``nb`` raises);
    a ``_pending_summary`` marker brackets the append + summary pair so
    a crash between them is repaired by the next door call
    (:func:`repair_pending_summary`) instead of silently drifting the
    summary. With :func:`write_bucketed`, :func:`delete_keys_bucketed`,
    and the overwrite doors, every write path keeps the summary honest,
    so the flat-cost replica audit never needs a rescan."""
    from etl_8million_data__spark.operators.bucket_store import (
        clear_pending,
        resolve_root,
        write_pending,
    )

    droot = resolve_root(path)
    if os.path.isdir(droot) and not is_hive_partitioned(path, "kb"):
        # appending kb= partition dirs into a flat root breaks partition
        # discovery for every reader (the _bucketed_append hazard)
        raise ValueError(
            f"{path} is not a kb=-bucketed layout: write it with "
            "write_bucketed first"
        )
    spark = df.sparkSession
    nb = _store_nb(path, nb)
    repair_pending_summary(spark, path)
    from etl_8million_data__spark.operators.bucket_store import (
        read_pinned_schema,
    )

    pinned = read_pinned_schema(path)
    if pinned is not None:
        want = {f.name for f in pinned.fields} - {"kb"}
        have = set(df.columns)
        if want != have:
            # silently appending a narrower batch would write files the
            # pinned-schema read NULL-extends — missing data disguised
            # as success; wider needs the evolution door first
            raise ValueError(
                f"{path}: append batch columns {sorted(have)} do not match "
                f"the pinned schema {sorted(want)} — evolve_add_columns "
                "for new columns, or supply the missing ones"
            )
    staged = df.withColumn("kb", id_bucket(F.col(key), nb)).repartition(
        F.col("kb")
    ).localCheckpoint(eager=False)
    # one map-side-combined job yields the touched buckets AND the row
    # count (the churn telemetry the nb advisor reads)
    per_kb = staged.groupBy("kb").agg(F.count(F.lit(1)).alias("n")).collect()
    kbs = [r["kb"] for r in per_kb]
    n_rows = sum(r["n"] for r in per_kb)
    # the _pending_summary marker protects ONLY the checksum summary —
    # on a store without one (including a store this very call is
    # creating) it must not be written: a crash after the marker but
    # before any data would leave a marker-only directory every later
    # append rejects as "not a kb=-bucketed layout" (a bricked store)
    has_summary = os.path.isfile(_ck_meta_path(path))
    if has_summary:
        write_pending(path, None, kbs)
    staged.write.mode("append").partitionBy("kb").parquet(droot)
    spark.catalog.refreshByPath(droot)
    append_checksums(spark, path, staged)
    if has_summary:
        clear_pending(path)
    from etl_8million_data__spark.operators.bucket_store import (
        record_door_stats,
    )

    record_door_stats(path, "append", n_rows, len(kbs))


def delete_keys_bucketed(
    spark: SparkSession,
    path: str,
    victims: DataFrame,
    key: str,
    nb: int | None = None,
) -> int:
    """Keyed delete for the diffable layout: the victims' buckets are
    computed from the victim list alone (pure hash function — no table
    scan to locate them) USING THE STORE'S PERSISTED MODULUS (a wrong
    nb here would prune to buckets the victims don't live in and
    silently return 0 — a retention/forget failure), only those
    partitions read with the pinned schema, anti-join, and rewrite
    through bucket_store.overwrite_buckets — which keeps the summary
    honest automatically. Returns rows removed; a miss never
    rewrites."""
    from etl_8million_data__spark.operators.bucket_store import (
        overwrite_buckets,
        read_store_pinned,
    )

    nb = _store_nb(path, nb)
    repair_pending_summary(spark, path)
    v = victims.select(F.col(victims.columns[0]).alias(key)).distinct()
    kbs = [
        r["_b"]
        for r in v.select(id_bucket(F.col(key), nb).alias("_b"))
        .distinct()
        .collect()
    ]
    if not kbs:
        return 0
    relevant = read_store_pinned(spark, path).filter(F.col("kb").isin(kbs))
    kept = relevant.join(v, key, "left_anti").localCheckpoint(eager=False)
    n_deleted = relevant.count() - kept.count()
    if not n_deleted:
        return 0
    overwrite_buckets(spark, path, ["kb"], kept, [(k,) for k in kbs])
    from etl_8million_data__spark.operators.bucket_store import (
        record_door_stats,
    )

    record_door_stats(path, "delete", n_deleted, len(kbs))
    return n_deleted


def delete_where_bucketed(
    spark: SparkSession,
    path: str,
    predicate,
    nb: int | None = None,
) -> int:
    """Predicate delete for the diffable layout — the retention/TTL
    sweep (DELETE WHERE ts < cutoff): unlike the keyed door, the
    victims' buckets cannot be computed from a key list, so ONE
    column-pruned locate pass finds the buckets holding matching rows
    (the predicate's columns only — at 100 TB this is the narrow scan
    every TTL sweep must pay once), and ONLY those buckets anti-filter
    and rewrite through the overwrite door (summary honest, untouched
    buckets byte-identical). Rows where the predicate evaluates NULL
    are KEPT (SQL DELETE semantics, the versioned.delete_where
    contract). Returns rows removed; zero matches rewrites nothing."""
    from etl_8million_data__spark.operators.bucket_store import (
        overwrite_buckets,
        read_store_pinned,
    )

    _store_nb(path, nb)  # modulus validation only; buckets come from data
    repair_pending_summary(spark, path)
    hit = F.coalesce(predicate, F.lit(False))
    kbs = [
        r["kb"]
        for r in read_store_pinned(spark, path)
        .filter(hit)
        .select("kb")
        .distinct()
        .collect()
    ]
    if not kbs:
        return 0
    old = read_store_pinned(spark, path).filter(
        F.col("kb").isin(kbs)
    ).localCheckpoint(eager=False)
    victims = old.filter(hit).count()
    keep = old.filter(~hit)
    overwrite_buckets(spark, path, ["kb"], keep, [(k,) for k in kbs])
    from etl_8million_data__spark.operators.bucket_store import (
        record_door_stats,
    )

    record_door_stats(path, "delete_where", victims, len(kbs))
    return victims


def stream_append_bucketed(
    updates: DataFrame,
    path: str,
    key: str,
    checkpoint_dir: str,
    nb: int | None = None,
):
    """Streaming twin of :func:`append_bucketed` — with the
    at-least-once hazard handled: a redelivered micro-batch must not
    re-append its rows, and (specifically to the ADDITIVE summary) must
    not re-add their hash sums — a plain re-append would silently drift
    the summary even if readers dedup. So the append is SKIP-EXISTING
    by key: the existence read is pruned to the batch keys' buckets and
    column-pruned to the key, fresh rows append and feed the additive
    summary update, replayed rows do neither. The skip-existing check
    cannot repair a predecessor that died BETWEEN its data append and
    its summary update (the rows exist, so the redelivery appends
    nothing and the summary delta is lost forever) — hence the
    ``_pending_summary`` marker written before the append and cleared
    after the summary: batch entry re-derives a dead predecessor's
    touched buckets from the table (:func:`repair_pending_summary`).
    Keys are assumed append-once (the dedup-upstream contract every
    skip-existing door carries); updates to existing keys are the
    delete+append or sync paths."""
    from etl_8million_data__spark.operators.bucket_store import (
        clear_pending,
        read_store_pinned,
        write_pending,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from etl_8million_data__spark.operators.bucket_store import (
            resolve_root,
        )

        spark = batch_df.sparkSession
        droot = resolve_root(path)
        nb_eff = _store_nb(path, nb) if os.path.isdir(droot) else (nb or DIFF_NB)
        if os.path.isdir(droot):
            repair_pending_summary(spark, path)
        b = batch_df.withColumn(
            "kb", id_bucket(F.col(key), nb_eff)
        ).localCheckpoint(eager=False)
        kbs = [
            r["kb"] for r in b.select("kb").distinct().collect()
        ]
        if not kbs:
            return
        if os.path.isdir(droot):
            existing = (
                read_store_pinned(spark, path)
                .filter(F.col("kb").isin(kbs))
                .select(key)
            )
            fresh = b.join(existing, key, "left_anti")
        else:
            fresh = b
        fresh = fresh.repartition(F.col("kb")).localCheckpoint(eager=False)
        # one job: materialize fresh + touched buckets + row count
        # (churn telemetry), replacing the count + distinct-collect pair
        per_kb = fresh.groupBy("kb").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
        if not per_kb:
            return
        fresh_kbs = [r["kb"] for r in per_kb]
        # marker only when there is a summary to protect — a marker
        # written before the store's first data would brick it on crash
        # (see append_bucketed)
        has_summary = os.path.isfile(_ck_meta_path(path))
        if has_summary:
            write_pending(path, batch_id, fresh_kbs)
        fresh.write.mode("append").partitionBy("kb").parquet(droot)
        spark.catalog.refreshByPath(droot)
        append_checksums(spark, path, fresh)
        if has_summary:
            clear_pending(path)
        from etl_8million_data__spark.operators.bucket_store import (
            record_door_stats,
        )

        record_door_stats(
            path, "stream_append", sum(r["n"] for r in per_kb), len(fresh_kbs)
        )
        from etl_8million_data__spark.operators.bucket_store import (
            read_pinned_schema,
            try_read_nb,
            write_nb,
            write_schema,
        )

        # a store this stream itself created: pin the modulus + schema
        # so every later door validates/plans against them
        if try_read_nb(path) is None:
            write_nb(path, nb_eff)
        if read_pinned_schema(path) is None:
            write_schema(path, fresh.schema)

    return (
        updates.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_changes(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key: str,
    nb: int | None = None,
) -> int:
    """Apply a CDC frame (``_change_type`` insert/update/delete +
    post-image columns, the table_changes/table_changes_pruned output
    contract) to a kb-bucketed replica — the receive side of
    replication: only the changed keys' buckets are read (computed
    from the change frame, no table scan to locate them), inserts and
    updates take the post-image row, deletes drop, untouched buckets
    stay byte-identical, and the rewrite goes through
    bucket_store.overwrite_buckets so a checksum summary stays honest
    for free. Idempotent for upserts by construction (re-applying an
    insert/update converges to the same row); a re-applied delete is a
    no-op miss. Returns the number of change rows applied.

    With :func:`ops_version_cdc`'s metadata-pruned diff on the send
    side and the summarized :func:`diff_tables` as the audit, the whole
    replicate-apply-verify loop is drift-bounded: nothing in it ever
    scans an unchanged bucket.

    PER-KEY ORDER: this door assumes changes arrive in version order
    per key (the producer contract) — redelivery converges, reordering
    does not. A change frame carrying ``_commit_version``
    (table_changes(..., include_version=True)) routes to
    :func:`apply_changes_versioned`, which is safe under BOTH."""
    if "_commit_version" in changes.columns:
        return apply_changes_versioned(spark, path, changes, key, nb)
    from etl_8million_data__spark.operators.bucket_store import (
        overwrite_buckets,
        read_store_pinned,
    )

    nb = _store_nb(path, nb)
    repair_pending_summary(spark, path)
    ch = changes.localCheckpoint(eager=False)
    n = ch.count()
    if not n:
        return 0
    kbs = [
        r["_b"]
        for r in ch.select(id_bucket(F.col(key), nb).alias("_b"))
        .distinct()
        .collect()
    ]
    from etl_8million_data__spark.operators.bucket_store import (
        bounded_broadcast,
    )

    old = read_store_pinned(spark, path).filter(F.col("kb").isin(kbs))
    keep = old.join(bounded_broadcast(ch.select(key), n), key, "left_anti")
    post = (
        ch.filter(F.col("_change_type").isin("insert", "update"))
        .drop("_change_type")
        .withColumn("kb", id_bucket(F.col(key), nb))
    )
    overwrite_buckets(spark, path, ["kb"], keep.unionByName(post), [(k,) for k in kbs])
    from etl_8million_data__spark.operators.bucket_store import (
        record_door_stats,
    )

    record_door_stats(path, "apply_changes", n, len(kbs))
    return n


def write_replica(
    df: DataFrame, path: str, key: str, nb: int = DIFF_NB, version: int = 0
) -> None:
    """Initialize a VERSIONED replica for :func:`apply_changes_versioned`:
    every row carries ``_v`` (the commit version whose post-image it is)
    and ``_gone`` (1 = tombstone left by a versioned delete, so an older
    redelivered change for that key can never resurrect it). Written
    checksummed, so the summarized replica audit works unchanged; read
    the VISIBLE rows back with :func:`read_replica`."""
    staged = df.withColumn("_v", F.lit(version).cast("bigint")).withColumn(
        "_gone", F.lit(0)
    )
    write_bucketed(staged, path, key, nb, checksums=True)


def read_replica(spark: SparkSession, path: str) -> DataFrame:
    """Visible rows of a versioned replica: tombstones filtered, the
    bookkeeping columns (`_v`, `_gone`, `kb`) dropped."""
    from etl_8million_data__spark.operators.bucket_store import (
        read_store_pinned,
    )

    df = read_store_pinned(spark, path)
    if "_gone" in df.columns:
        df = df.filter(F.col("_gone") == 0)
    return df.drop("_v", "_gone", "kb")


def _eligible_versioned(ch: DataFrame, old: DataFrame, key: str) -> DataFrame:
    """Change rows strictly newer than the replica's per-key version —
    the eligibility join of the max-version-wins apply. The replica
    side (``old``'s (key, _v) projection) is DATA-sized, not
    change-sized: it carries every row of every touched bucket, which
    at fixed churn grows linearly with the table — so it is
    deliberately NOT broadcast-hinted. AQE broadcasts it at runtime
    when the touched slice is genuinely small and falls back to a
    shuffle join when a bulk change frame touches data-scale buckets
    (the forced hint here was round 13's one flagged scale hazard; the
    --cdc-bulk scaling probe asserts no broadcast hint survives in this
    join's plan)."""
    old_v = old.select(key, F.col("_v").alias("_v_old"))
    return (
        ch.join(old_v, key, "left")
        .filter(
            F.col("_v_old").isNull()
            | (F.col("_commit_version") > F.col("_v_old"))
        )
        .drop("_v_old")
    )


def apply_changes_versioned(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key: str,
    nb: int | None = None,
) -> int:
    """MAX-VERSION-WINS CDC apply — :func:`apply_changes` made safe
    under out-of-ORDER redelivery, not just re-delivery: the change
    frame carries ``_commit_version`` (table_changes /
    table_changes_pruned with ``include_version=True``) and the replica
    persists each row's version (``_v``) plus delete TOMBSTONES
    (``_gone`` = 1, :func:`write_replica`), so a change row only lands
    when its version is strictly newer than what the replica already
    holds for that key. Apply batches in ANY interleaving/order — the
    replica converges to the per-key max-version image, because each
    key's final row is the globally newest change regardless of arrival
    order (asserted under shuffled batches in tests/test_table_diff.py).
    Still bucket-pruned end to end: only the changed keys' buckets are
    read/rewritten and the checksum summary stays honest through the
    overwrite door. Returns change rows applied (older-than-replica
    rows are skipped, not applied).

    Tombstones are retained until a compaction with a version floor
    reclaims them (the Kafka-compacted-topic / Delta retention
    discipline); :func:`read_replica` hides them from readers."""
    from pyspark.sql import Window

    from etl_8million_data__spark.operators.bucket_store import (
        overwrite_buckets,
        read_store_pinned,
    )

    nb = _store_nb(path, nb)
    repair_pending_summary(spark, path)
    # within the batch: one row per key, the newest version
    # (deterministic tiebreak on change type for pathological frames
    # carrying two rows of the same key+version)
    w = Window.partitionBy(key).orderBy(
        F.col("_commit_version").desc(), F.col("_change_type")
    )
    ch = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=False)
    )
    if not ch.count():
        return 0
    kbs = [
        r["_b"]
        for r in ch.select(id_bucket(F.col(key), nb).alias("_b"))
        .distinct()
        .collect()
    ]
    old = read_store_pinned(spark, path).filter(F.col("kb").isin(kbs))
    if "_v" not in old.columns:
        raise ValueError(
            f"{path} is not a versioned replica (no _v column): "
            "initialize it with write_replica"
        )
    extra = set(ch.columns) - {"_change_type", "_commit_version"} - set(
        old.columns
    )
    if extra:
        # a silently union-by-name'd new column would be written to the
        # buckets but DROPPED by every pinned-schema read — evolve the
        # replica's declared schema first, then apply
        raise ValueError(
            f"{path}: change frame carries columns the replica's pinned "
            f"schema lacks ({sorted(extra)}) — the source schema evolved; "
            "run bucket_store.evolve_add_columns on the replica first"
        )
    elig = _eligible_versioned(ch, old, key).localCheckpoint(eager=False)
    n = elig.count()
    if not n:
        return 0
    winners = (
        elig.withColumn(
            "_gone",
            F.when(F.col("_change_type") == "delete", F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .withColumn("_v", F.col("_commit_version").cast("bigint"))
        .drop("_change_type", "_commit_version")
        .withColumn("kb", id_bucket(F.col(key), nb))
    )
    from etl_8million_data__spark.operators.bucket_store import (
        bounded_broadcast,
    )

    keep = old.join(bounded_broadcast(elig.select(key), n), key, "left_anti")
    overwrite_buckets(
        spark, path, ["kb"], keep.unionByName(winners), [(k,) for k in kbs]
    )
    from etl_8million_data__spark.operators.bucket_store import (
        record_door_stats,
    )

    record_door_stats(path, "apply_changes_versioned", n, len(kbs))
    return n


def repair_replica(
    spark: SparkSession,
    path: str,
    expected_path: str,
    key: str,
    nb: int | None = None,
) -> int:
    """HEAL a drifted versioned replica against a source-of-truth
    table — the missing half of the audit story: ``diff_tables``
    detects drift (lost change frames, manual edits, corruption), this
    door repairs it WITHOUT reseeding, through the same
    max-version-wins apply every legitimate change takes (so the
    repair is itself crash-safe, bucket-pruned, summary-honest, and
    fenced against stale redelivery). Protocol:

    - phase 1: per-bucket (hash-sum, count) of the replica's VISIBLE
      rows vs the expected table's — the expected side reads its
      persisted ``_checksums`` summary when the (keys, cols, nb) pin
      matches (zero scan), else one scan; the replica side is one
      column-pruned scan (its own summary covers RAW rows including
      ``_v``/``_gone``, so it cannot stand in for visible content).
      Identical buckets are proven equal and never read again.
    - phase 2: the differing buckets full-outer join (both sides
      literal-pruned to them); replica-only keys become deletes,
      expected-only keys inserts (this RESURRECTS a wrongly-tombstoned
      key — legitimate here, the expected table is the declared
      truth), value mismatches updates carrying the expected values.
    - the synthetic change frame is stamped one version past the
      touched slice's maximum ``_v``, so it wins over every drifted
      row and the fence keeps rejecting genuinely stale redeliveries.

    Returns rows repaired (0 = no drift — and phase 2 never ran).
    Both sides must share the bucket modulus (``rebucket`` one first
    otherwise, same contract as diff_tables)."""
    from etl_8million_data__spark.operators.bucket_store import (
        read_store_pinned,
        resolve_nb,
    )

    nb = _store_nb(path, nb)
    nbe = resolve_nb(expected_path, None, nb)
    if nbe != nb:
        raise ValueError(
            f"repair_replica: replica nb={nb} but expected table nb={nbe} "
            "— rebucket one side first (bucket_store.rebucket)"
        )
    repair_pending_summary(spark, path)
    exp_cols = [
        c
        for c in read_store_pinned(spark, expected_path).columns
        if c not in (key, "kb")
    ]
    cols = sorted(exp_cols)
    rep_raw = read_store_pinned(spark, path)
    vis = rep_raw.filter(F.col("_gone") == 0).select(key, *cols, "kb")

    # phase 1: visible sums vs expected sums (sidecar when pinned)
    va = _bucket_sums(vis, [key], cols)
    meta, summ = read_checksums(spark, expected_path)
    if (
        meta
        and meta.get("keys") == [key]
        and meta.get("cols") == cols
        and meta.get("nb") == nb
    ):
        vb = summ
    else:
        vb = _bucket_sums(_prep(spark, expected_path, [key], cols, nb), [key], cols)
    a = va.select("kb", F.col("cs").alias("_ca"), F.col("n").alias("_na"))
    b = vb.select("kb", F.col("cs").alias("_cb"), F.col("n").alias("_nb2"))
    kbs = [
        r["kb"]
        for r in a.join(b, "kb", "full_outer")
        .filter(
            ~F.col("_ca").eqNullSafe(F.col("_cb"))
            | ~F.col("_na").eqNullSafe(F.col("_nb2"))
        )
        .select("kb")
        .collect()
    ]
    if not kbs:
        return 0

    # phase 2: classify drift on the differing buckets only
    from etl_8million_data__spark.operators.versioned import _classify_changes

    e_rows = (
        _prep(spark, expected_path, [key], cols, nb)
        .filter(F.col("kb").isin(kbs))
        .drop("kb")
    )
    v_rows = vis.filter(F.col("kb").isin(kbs)).drop("kb")
    vmax = (
        rep_raw.filter(F.col("kb").isin(kbs))
        .agg(F.max("_v").alias("m"))
        .first()["m"]
        or 0
    )
    ch = _classify_changes(v_rows, e_rows, [key]).withColumn(
        "_commit_version", F.lit(vmax + 1).cast("bigint")
    )
    return apply_changes_versioned(spark, path, ch, key, nb)


def vacuum_tombstones(
    spark: SparkSession,
    path: str,
    below_version: int,
    nb: int | None = None,
    log_dir: str | None = None,
) -> int:
    """Reclaim a versioned replica's delete tombstones older than
    ``below_version`` — the retention step of the max-version-wins
    apply (the Kafka-compacted-topic / Delta retention discipline):
    tombstones exist so an older redelivered change can never resurrect
    a deleted key, so the floor must trail the producer's replay
    horizon (a change with version < below_version must be impossible
    to redeliver). With ``log_dir`` — the CDC log this replica is fed
    from — that constraint is VALIDATED, not prose: the floor is
    checked against ``cdc_log.replay_horizon`` (advanced only by
    ``cdc_log.truncate_published``), and a floor above what the log can
    still redeliver raises instead of silently opening the resurrection
    window. Callers without a log keep the documented contract on their
    own head. One column-pruned pass finds the buckets holding
    qualifying tombstones; ONLY those buckets rewrite through the
    overwrite door (summary stays honest). Returns tombstones
    reclaimed."""
    from etl_8million_data__spark.operators.bucket_store import (
        overwrite_buckets,
        read_store_pinned,
    )

    if log_dir is not None:
        from etl_8million_data__spark.operators.cdc_log import replay_horizon

        horizon = replay_horizon(log_dir)
        if below_version > horizon:
            raise ValueError(
                f"vacuum_tombstones: floor {below_version} exceeds the CDC "
                f"log's replay horizon {horizon} — versions in "
                f"[{horizon}, {below_version}) can still be redelivered and "
                "would resurrect vacuumed keys; truncate_published first"
            )
    nb = _store_nb(path, nb)
    repair_pending_summary(spark, path)
    cond = (F.col("_gone") == 1) & (F.col("_v") < below_version)
    kbs = [
        r["kb"]
        for r in read_store_pinned(spark, path)
        .filter(cond)
        .select("kb")
        .distinct()
        .collect()
    ]
    if not kbs:
        return 0
    old = read_store_pinned(spark, path).filter(
        F.col("kb").isin(kbs)
    ).localCheckpoint(eager=False)
    victims = old.filter(cond).count()
    keep = old.filter(~cond)
    overwrite_buckets(spark, path, ["kb"], keep, [(k,) for k in kbs])
    return victims


def stream_apply_changes(
    changes_stream: DataFrame,
    path: str,
    key: str,
    checkpoint_dir: str,
    nb: int | None = None,
):
    """Streaming twin of :func:`apply_changes` — continuous
    replication: each micro-batch of CDC rows applies to the replica
    through the same bucket-pruned rewrite. At-least-once redelivery is
    safe BY CONVERGENCE, not by a marker: re-applying an insert/update
    lands the identical post-image row and a re-applied delete is a
    miss, so a redelivered batch leaves the replica (and its checksum
    summary) byte-for-value unchanged — asserted in tests. A change
    stream carrying ``_commit_version`` (the
    :func:`operators.cdc_log.publish_changes` producer) routes to the
    versioned apply, which is additionally safe under out-of-ORDER
    redelivery — batches in any interleaving converge to the per-key
    max-version image. Without the version column, batches must arrive
    in version order per key (the producer contract); cross-key
    ordering is always free."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes(batch_df.sparkSession, path, batch_df, key, nb)

    return (
        changes_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
