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
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import (
    bounded_broadcast,
    overwrite_buckets,
    read_pinned_schema,
    read_store_pinned,
    record_door_stats,
    resolve_nb,
    write_nb,
    write_schema,
    write_table_bucketed,
)
from etl_8million_data__spark.operators.maintenance import (
    append_in,
    recover_swap,
    swap_in,
    write_durable,
)
from etl_8million_data__spark.operators.partitioning import (
    id_bucket,
    is_hive_partitioned,
)
from etl_8million_data__spark.streaming.trigger import foreach_batch_available_now

DIFF_NB = 16

# Persisted bucket-checksum summary: the routine "is my replica in
# sync" audit at 100 TB should not scan both tables fully every call —
# phase 1's per-bucket (checksum, count) rows are tiny (<= nb) and
# every bucket-writing door already knows exactly which buckets it
# touched, so the summary lives as a `_checksums/` sidecar inside the
# table root (underscore prefix: invisible to parquet readers of the
# table). Every door stages the updated summary (:func:`stage_checksums`)
# in the staging directory of the commit that carries its rows, so rows
# and summary commit under ONE record (maintenance.swap_in / append_in);
# a crash leaves the old pair or the new one, never one without the
# other. The sidecar's _meta.json pins the fingerprinted keys/cols/nb so
# a diff over a DIFFERENT column set falls back to the full scan
# instead of trusting a mismatched summary.
CK_DIR = "_checksums"
CK_SCHEMA = "kb int, cs decimal(38,0), n bigint"


def _prep(
    spark: SparkSession, path: str, keys: list[str], cols: list[str], nb: int
) -> DataFrame:
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


def _write_summary(
    spark: SparkSession, summ_rows, staging: str, meta: dict
) -> None:
    """Write the <= nb summary rows + the meta pin as
    ``staging/_checksums``, inside the staging directory of the commit
    that swaps the sidecar in whole. The rows arrive COLLECTED (the
    summary is bounded by the layout's bucket count, never by data
    size)."""
    d = os.path.join(staging, CK_DIR)
    spark.createDataFrame(summ_rows, CK_SCHEMA).coalesce(1).write.parquet(d)
    write_durable(os.path.join(d, "_meta.json"), json.dumps(meta))


def _seed_summary(
    spark: SparkSession,
    src: str,
    staging: str,
    keys: list[str],
    cols: list[str],
    nb: int,
) -> None:
    """Seed a summary by one full pass over the table at ``src`` and
    write it into ``staging``, the staging directory of the commit that
    carries it."""
    meta = {"keys": list(keys), "cols": sorted(cols), "nb": nb}
    rows = _bucket_sums(_prep(spark, src, keys, cols, nb), keys, cols).collect()
    _write_summary(spark, rows, staging, meta)


def checksums_init(
    spark: SparkSession,
    path: str,
    keys: list[str],
    cols: list[str],
    nb: int = DIFF_NB,
) -> None:
    """One full pass over the table to seed the persisted summary,
    committed through the door; thereafter every door stages ONLY its
    touched buckets' rows (rewrites re-derive them, appends add to
    them) under the same record as its rows, so the routine replica
    audit reads 2 x nb summary rows instead of two full tables."""
    with swap_in(path, ["kb"]) as tmp:
        _seed_summary(spark, path, tmp, keys, cols, nb)
    spark.catalog.refreshByPath(os.path.join(path, CK_DIR))


def _ck_dir(path: str) -> str:
    recover_swap(path)
    return os.path.join(path, CK_DIR)


def has_checksums(path: str) -> bool:
    """True when the table at ``path`` carries a summary sidecar."""
    return os.path.isfile(os.path.join(_ck_dir(path), "_meta.json"))


def read_checksums(spark: SparkSession, path: str):
    """(meta, summary DataFrame) — or (None, None) when the table has
    no summary sidecar."""
    if not has_checksums(path):
        return None, None
    d = _ck_dir(path)
    with open(os.path.join(d, "_meta.json")) as fh:
        meta = json.load(fh)
    return meta, spark.read.schema(CK_SCHEMA).parquet(d)


def stage_checksums(
    spark: SparkSession,
    path: str,
    staging: str,
    fresh: DataFrame,
    replace: Sequence[int] = (),
    nb: int | None = None,
) -> None:
    """Stage ``path``'s summary, updated for one commit, in that
    commit's ``staging`` directory: the rows of the ``replace`` buckets
    drop, then ``fresh``'s per-bucket sums add in. The checksum is a SUM
    of row hashes, so an append passes only its new rows (never a
    re-read of the table), and a rewrite passes its buckets' full new
    rows with ``replace``; a bucket left empty loses its row, matching
    a fresh full-scan summary. With ``nb`` the summary is re-pinned at
    that modulus and ``fresh`` holds the whole re-bucketed table, so no
    current row is kept. A table without a summary is a no-op."""
    meta, cur = read_checksums(spark, path)
    if meta is None:
        return
    keys, cols = meta["keys"], meta["cols"]
    if nb is None:
        rows = {
            r["kb"]: (r["cs"], r["n"]) for r in cur.collect() if r["kb"] not in replace
        }
    else:
        rows, meta = {}, {**meta, "nb": nb}
    for r in _bucket_sums(fresh.select(*keys, *cols, "kb"), keys, cols).collect():
        cs, n = rows.get(r["kb"], (0, 0))
        rows[r["kb"]] = (cs + r["cs"], n + r["n"])
    _write_summary(
        spark, [(kb, cs, n) for kb, (cs, n) in rows.items()], staging, meta
    )


def _summary_if_match(
    spark: SparkSession, path: str, keys: list[str], cols: list[str], nb: int
):
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
    overwrite_buckets(spark, path_a, ["kb"], content, [(k,) for k in kbs])
    return n


def write_bucketed(
    df: DataFrame, path: str, key: str, nb: int = DIFF_NB, checksums: bool = False
) -> None:
    """Create (or replace) a table in the diffable layout in ONE
    whole-table ``maintenance.swap_in`` commit, which stages: `kb=`
    key-bucket partitions, one file per bucket (the write_clean_store
    small-files discipline); the ``_nb`` modulus marker (every later
    door validates against it — a wrong modulus prunes deletes into the
    wrong buckets); the FULL schema pinned in ``_schema.json`` (every
    later read plans with zero footer inference); and, with
    ``checksums=True``, the bucket-checksum summary over all non-key
    columns, seeded from the staged rows — from then on every door
    maintains it and :func:`diff_tables` audits this table without
    scanning it."""
    spark = df.sparkSession
    with swap_in(path) as tmp:
        staged = df.withColumn("kb", id_bucket(F.col(key), nb))
        write_table_bucketed(staged, tmp, "kb")
        write_nb(tmp, nb)
        if checksums:
            cols = [c for c in df.columns if c != key]
            _seed_summary(spark, tmp, tmp, [key], cols, nb)
    spark.catalog.refreshByPath(path)


def _append_commit(spark: SparkSession, path: str, rows: DataFrame, nb: int) -> None:
    """Commit ``rows`` (``kb``-tagged, clustered by ``kb``) as an append
    to the store at ``path`` through ``maintenance.append_in``, with the
    store's summary, when it has one, added to from the rows alone and
    committed under the same record; an append that creates the store
    stages its ``_nb`` and schema pin instead."""
    with append_in(path, ["kb"]) as tmp:
        rows.write.partitionBy("kb").parquet(tmp)
        if os.path.isdir(path):
            stage_checksums(spark, path, tmp, rows)
        else:
            write_nb(tmp, nb)
            write_schema(tmp, rows.schema)
    spark.catalog.refreshByPath(path)


def append_bucketed(
    df: DataFrame, path: str, key: str, nb: int | None = None
) -> None:
    """Append door for the diffable layout: rows land in their ``kb=``
    bucket partitions (one file per touched bucket per batch — the
    write_clean_store discipline) and a summary, when present, updates
    ADDITIVELY from the batch alone. The new files and the updated
    summary commit under one record (``maintenance.append_in``), so a
    crash leaves both old or both new. The modulus comes from the
    store's persisted ``_nb`` marker (an explicit contradicting ``nb``
    raises). An append that creates the store commits its ``_nb``
    (``nb``, else 16) and schema pin with the first rows. With
    :func:`write_bucketed`, :func:`delete_keys_bucketed`, and the
    overwrite doors, every write path keeps the summary honest, so the
    flat-cost replica audit never needs a rescan."""
    recover_swap(path)
    if os.path.isdir(path) and not is_hive_partitioned(path, "kb"):
        # appending kb= partition dirs into a flat root breaks partition
        # discovery for every reader (the _bucketed_append hazard)
        raise ValueError(
            f"{path} is not a kb=-bucketed layout: write it with "
            "write_bucketed first"
        )
    spark = df.sparkSession
    nb = _store_nb(path, nb)
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
    _append_commit(spark, path, staged, nb)
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
    nb = _store_nb(path, nb)
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
    _store_nb(path, nb)  # modulus validation only; buckets come from data
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
    summary update, replayed rows do neither. The fresh rows and the
    summary commit under one record (``maintenance.append_in``), so a
    batch that crashed left both old (its redelivery appends them) or
    both new (its redelivery finds the rows and adds nothing): the
    replay never meets rows whose summary delta is missing. A first
    batch creates the store with its ``_nb`` and pin, as
    :func:`append_bucketed` does. Keys are assumed append-once (the
    dedup-upstream contract every skip-existing door carries); updates
    to existing keys are the delete+append or sync paths."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_swap(path)
        exists = os.path.isdir(path)
        nb_eff = _store_nb(path, nb) if exists else (nb or DIFF_NB)
        b = batch_df.withColumn(
            "kb", id_bucket(F.col(key), nb_eff)
        ).localCheckpoint(eager=False)
        kbs = [
            r["kb"] for r in b.select("kb").distinct().collect()
        ]
        if not kbs:
            return
        if exists:
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
        _append_commit(spark, path, fresh, nb_eff)
        record_door_stats(
            path, "stream_append", sum(r["n"] for r in per_kb), len(per_kb)
        )

    return foreach_batch_available_now(updates, apply_batch, checkpoint_dir)


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
    nb = _store_nb(path, nb)
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
    old = read_store_pinned(spark, path).filter(F.col("kb").isin(kbs))
    keep = old.join(bounded_broadcast(ch.select(key), n), key, "left_anti")
    post = (
        ch.filter(F.col("_change_type").isin("insert", "update"))
        .drop("_change_type")
        .withColumn("kb", id_bucket(F.col(key), nb))
    )
    overwrite_buckets(spark, path, ["kb"], keep.unionByName(post), [(k,) for k in kbs])
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

    nb = _store_nb(path, nb)
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
    keep = old.join(bounded_broadcast(elig.select(key), n), key, "left_anti")
    overwrite_buckets(
        spark, path, ["kb"], keep.unionByName(winners), [(k,) for k in kbs]
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
    nb = _store_nb(path, nb)
    nbe = resolve_nb(expected_path, None, nb)
    if nbe != nb:
        raise ValueError(
            f"repair_replica: replica nb={nb} but expected table nb={nbe} "
            "— rebucket one side first (bucket_store.rebucket)"
        )
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

    return foreach_batch_available_now(changes_stream, apply_batch, checkpoint_dir)
