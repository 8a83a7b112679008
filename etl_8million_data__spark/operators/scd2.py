"""Incremental SCD2 (slowly-changing-dimension type 2) maintenance —
the temporal-dimension door of the maintenance family: the islands
construction (plans/timeseries.events_scd2_type_intervals) builds the
interval table one-shot; a real dimension RECEIVES change batches and
must absorb them without re-windowing the whole history, the way
operators/ivm.py maintains views and operators/golden.py maintains
golden records.

State: one interval table (key, attr, valid_from, valid_to, n_events,
is_current) partitioned by ``kb`` = id_bucket(key). A change batch
touches only its keys' buckets:

- the batch's NEW segments are islands over the batch alone, except at
  the seam with each key's CURRENT open interval — elegantly handled by
  re-emitting the current row as one PSEUDO-EVENT carrying its
  n_events as a weight at ts = valid_from (sorted before the batch by
  a sentinel sequence number), and running the SAME islands pass over
  pseudo ∪ batch: a batch whose first change repeats the current
  attribute extends the open interval (weights sum), a different
  attribute closes it — one code path for init, seam, and new keys;
- CLOSED rows of touched keys are byte-preserved (the merge only
  re-derives from the current interval's start onward);
- untouched keys' buckets are never read or rewritten (the golden/
  forget blast-radius contract). Measured (SCALING.md, --scd2 probe):
  a fixed 10-change apply costs the same ~2-4s of fixed jobs at 50k
  and at 1.5M change history while the one-shot rebuild grows.

ORDER CONTRACT (checked loudly, not assumed): SCD2 merge against only
the current row is correct iff the batch's changes are strictly AFTER
every event the key has already absorbed — the current row persists
``last_ts`` (the open interval's latest absorbed event) exactly so the
check can see late data landing INSIDE the open span, which a
valid_from-only comparison would silently splice wrong; a violation
raises. The late-data door is
:func:`scd2_apply_late`: when the state retains its change LOG
(``scd2_init(..., keep_log=True)``), a late batch appends to the log
and re-derives ONLY the touched keys' intervals from their full
(bucket-pruned) log — per-key re-derivation instead of a seam merge,
correct under any arrival order, still bucket-bounded.

Reference semantics: the reference has no temporal surface; this
extends the SCD2 family (SURVEY §7.2's extension brief).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import (
    applied_batch,
    bounded_broadcast,
    mark_applied,
    overwrite_buckets as _overwrite_buckets,
    read_nb as _nb,
    read_pinned_schema,
    write_nb,
    write_schema,
)
from etl_8million_data__spark.operators.partitioning import id_bucket

SCD2_NB = 16


def _read_intervals(spark: SparkSession, root: str) -> DataFrame:
    """The ONE read path for the persisted interval table, closing the
    mixed-schema hazard: with the pinned schema (written at init, or
    self-healed below) the read plans with zero footer inference and
    legacy pre-``last_ts`` files surface the column as declared NULLs;
    a store written before the pin existed falls back to ONE
    ``mergeSchema`` footer-merge (so newer files' last_ts is never
    dropped by single-footer inference) and pins the merged schema so
    every later read is static. Either way the watermark NEVER
    evaluates NULL: ``last_ts`` coalesces to ``valid_from`` per row —
    the weaker-but-safe pre-last_ts watermark — instead of NULL rows
    silently passing the late-data check as not-a-violation."""
    path = os.path.join(root, "intervals")
    pinned = read_pinned_schema(path)
    if pinned is not None:
        df = spark.read.schema(pinned).parquet(path)
    else:
        df = spark.read.option("mergeSchema", "true").parquet(path)
        if "last_ts" not in df.columns:
            df = df.withColumn(
                "last_ts", F.lit(None).cast(df.schema["valid_from"].dataType)
            )
        write_schema(path, df.schema)
    return df.withColumn(
        "last_ts", F.coalesce(F.col("last_ts"), F.col("valid_from"))
    )


def build_intervals(
    changes: DataFrame, weight: str | None = None, last: str | None = None
) -> DataFrame:
    """Islands-and-gaps SCD2 build over a change stream
    (key, seq, ts, attr[, weight]): consecutive repeats of ``attr``
    per key collapse into [valid_from, valid_to) intervals with
    NULL valid_to / is_current = 1 on the open row, plus ``last_ts`` =
    the latest absorbed event's ts per interval (the order-contract
    watermark: a later batch is on time only if strictly after the open
    interval's last_ts, not merely its valid_from — a change landing
    INSIDE the open interval's absorbed span is late data). ``weight``
    (event multiplicity, default 1 per row) makes the pass reusable for
    the seam merge, where the current interval re-enters as one
    weighted pseudo-event; ``last`` (default ts) lets that pseudo-event
    carry the interval's true last_ts through the merge so the
    watermark never regresses to valid_from. Interval semantics
    identical to the registered one-shot query
    (plans/timeseries.events_scd2_type_intervals)."""
    w_expr = F.col(weight) if weight else F.lit(1)
    lt_expr = F.col(last) if last else F.col("ts")
    e = changes.select(
        "key",
        "seq",
        "ts",
        "attr",
        w_expr.cast("bigint").alias("_w"),
        lt_expr.alias("_lt"),
    )
    w = Window.partitionBy("key").orderBy("ts", "seq")
    chg = F.when(
        F.lag("attr").over(w).isNull()
        | (F.col("attr") != F.lag("attr").over(w)),
        1,
    ).otherwise(0)
    seg = e.withColumn("_chg", chg).withColumn(
        "seg_no",
        F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = seg.groupBy("key", "seg_no").agg(
        F.min("attr").alias("attr"),
        F.min("ts").alias("valid_from"),
        F.max("_lt").alias("last_ts"),
        F.sum("_w").cast("bigint").alias("n_events"),
    )
    w2 = Window.partitionBy("key").orderBy("valid_from")
    valid_to = F.lead("valid_from").over(w2)
    return g.select(
        "key",
        "attr",
        "valid_from",
        valid_to.alias("valid_to"),
        "last_ts",
        "n_events",
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
    )


def scd2_init(
    changes: DataFrame, root: str, nb: int = SCD2_NB, keep_log: bool = False
) -> None:
    """One-shot build of the persisted interval table from the full
    change history (key, seq, ts, attr), bucketed by key hash.
    ``keep_log=True`` also persists the raw change log (same bucketing)
    — the prerequisite for the late-data door
    (:func:`scd2_apply_late`); sources guaranteed in-order can skip the
    log and live on the cheap seam merge alone."""
    write_nb(root, nb)
    changes = changes.select("key", "seq", "ts", "attr")
    iv = build_intervals(changes).withColumn("kb", id_bucket(F.col("key"), nb))
    (
        iv.repartition(F.col("kb"))
        .write.mode("overwrite")
        .partitionBy("kb")
        .parquet(os.path.join(root, "intervals"))
    )
    # pin the FULL schema so every later read is static (zero footer
    # inference; legacy files missing a later column read as NULL)
    write_schema(os.path.join(root, "intervals"), iv.schema)
    if keep_log:
        log = changes.withColumn("kb", id_bucket(F.col("key"), nb))
        (
            log.repartition(F.col("kb"))
            .write.mode("overwrite")
            .partitionBy("kb")
            .parquet(os.path.join(root, "log"))
        )
        write_schema(os.path.join(root, "log"), log.schema)


def read_intervals(spark: SparkSession, root: str) -> DataFrame:
    return _read_intervals(spark, root).drop("kb")


def _append_log(
    spark: SparkSession, root: str, b: DataFrame, kbs: list[int], nb: int
) -> None:
    """Skip-existing append of a change batch into the retained log (no
    log -> no-op): the existence read is pruned to the batch's buckets
    and column-pruned to (key, seq), so a replayed batch appends
    nothing — the append_clean_store discipline."""
    from etl_8million_data__spark.operators.bucket_store import (
        read_store_pinned,
    )

    log_path = os.path.join(root, "log")
    if not os.path.isdir(log_path):
        return
    existing = (
        read_store_pinned(spark, log_path)
        .filter(F.col("kb").isin(kbs) if kbs else F.lit(False))
        .select("key", "seq")
    )
    # lazy checkpoint: the count below is the job that materializes it
    fresh = b.join(existing, ["key", "seq"], "left_anti").localCheckpoint(
        eager=False
    )
    if fresh.count():
        (
            fresh.withColumn("kb", id_bucket(F.col("key"), nb))
            .repartition(F.col("kb"))
            .write.mode("append")
            .partitionBy("kb")
            .parquet(log_path)
        )
        spark.catalog.refreshByPath(log_path)


def compact_log(spark: SparkSession, root: str) -> int:
    """Small-files compaction for the retained change log: every
    :func:`scd2_apply` / :func:`scd2_apply_late` call appends one file
    per touched bucket (the skip-existing discipline), so after N
    batches a hot key's bucket holds N files and every late-door
    rebuild pays the listing history. Routes through
    bucket_store.compact_buckets — pinned-schema read (self-healed for
    legacy logs via one mergeSchema pass), only >1-file buckets read
    and rewritten, rebuild results unchanged (the log is a pure input:
    a byte-level merge cannot change build_intervals' output, asserted
    in tests). Returns buckets compacted."""
    from etl_8million_data__spark.operators.bucket_store import (
        compact_buckets,
        read_pinned_schema,
    )

    log_path = os.path.join(root, "log")
    if not os.path.isdir(log_path):
        return 0
    if read_pinned_schema(log_path) is None:
        # legacy log without the pin: one deliberate footer-merge read
        # (the log's files never dropped columns, but single-footer
        # inference is the hazard the pin exists to close), then pin
        df = spark.read.option("mergeSchema", "true").parquet(log_path)
        write_schema(log_path, df.schema)
    return compact_buckets(spark, log_path, "kb")


def scd2_apply_late(spark: SparkSession, root: str, batch: DataFrame) -> None:
    """The LATE-DATA door: absorb a change batch in ANY arrival order by
    re-deriving the touched keys' intervals from their full retained
    change log instead of seam-merging against the current row. Requires
    ``scd2_init(..., keep_log=True)``. Still bucket-bounded: the log
    read, the rebuild, and the rewrite all prune to the batch keys'
    buckets; closed history of touched keys is REPLACED (a late change
    can legitimately rewrite it — that is the point), untouched keys'
    buckets stay byte-identical. Replay-idempotent end to end: the log
    append is skip-existing on (key, seq) and the rebuild is a pure
    function of the log."""
    nb = _nb(root)
    log_path = os.path.join(root, "log")
    if not os.path.isdir(log_path):
        raise ValueError(
            "scd2_apply_late requires the retained change log "
            "(scd2_init(..., keep_log=True))"
        )
    path = os.path.join(root, "intervals")
    # lazy checkpoint: the kbs collect below reads b in full and is the
    # job that materializes it (one job instead of checkpoint + collect)
    b = batch.select("key", "seq", "ts", "attr").localCheckpoint(eager=False)
    keys = b.select("key").distinct()
    # the same job that finds the touched buckets counts the batch keys
    # (map-side combine over <= nb groups) — the count gates the
    # broadcast hints below: a contract-violating bulk backfill degrades
    # to a shuffle join instead of a data-sized forced broadcast
    per_kb = (
        keys.groupBy(id_bucket(F.col("key"), nb).alias("_b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    kbs = [r["_b"] for r in per_kb]
    n_keys = sum(r["n"] for r in per_kb)
    _append_log(spark, root, b, kbs, nb)
    from etl_8million_data__spark.operators.bucket_store import (
        read_store_pinned,
    )

    log_touched = (
        read_store_pinned(spark, log_path)
        .filter(F.col("kb").isin(kbs) if kbs else F.lit(False))
        .join(bounded_broadcast(keys, n_keys), "key")
        .select("key", "seq", "ts", "attr")
    )
    merged = build_intervals(log_touched)
    old = _read_intervals(spark, root)
    old = old.filter(F.col("kb").isin(kbs)) if kbs else old.filter(F.lit(False))
    content = old.join(
        bounded_broadcast(keys, n_keys), "key", "left_anti"
    ).unionByName(merged.withColumn("kb", id_bucket(F.col("key"), nb)))
    _overwrite_buckets(spark, path, ["kb"], content, [(k,) for k in kbs])


def scd2_apply(spark: SparkSession, root: str, batch: DataFrame) -> None:
    """Absorb a change batch (key, seq, ts, attr) into the persisted
    interval table in DELTA time: only the batch keys' buckets are
    read; only their CURRENT rows are re-derived (closed history is
    value-preserved); a batch change OLDER than a key's open interval
    raises (the order contract). The log append deliberately happens
    BEFORE the order check: a batch rejected as late is already safely
    in the log, so the caller's recovery is exactly one
    :func:`scd2_apply_late` call (whose skip-existing append makes the
    half-applied state harmless). Replay note: re-applying an already-
    absorbed batch violates the order check (its ts equal the open
    interval's span) or inflates weights — drive this through
    checkpointed streaming (exactly-once batch ids) or dedup upstream,
    the stream_golden_ingest discipline."""
    nb = _nb(root)
    path = os.path.join(root, "intervals")
    # lazy checkpoint: materialized in full by the kbs collect
    b = batch.select("key", "seq", "ts", "attr").localCheckpoint(eager=False)
    keys = b.select("key").distinct()
    # one job: touched buckets AND the batch-key count (the count gates
    # the broadcast hints — bulk backfills degrade to a shuffle join)
    per_kb = (
        keys.groupBy(id_bucket(F.col("key"), nb).alias("_b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    kbs = [r["_b"] for r in per_kb]
    n_keys = sum(r["n"] for r in per_kb)
    # keep the retained log (when present) in sync, so a later
    # scd2_apply_late sees the full per-key history
    _append_log(spark, root, b, kbs, nb)
    # _read_intervals: pinned/merged schema, and per-row
    # coalesce(last_ts, valid_from) — on a legacy store whose FIRST
    # post-upgrade apply rewrote only some buckets, the untouched
    # buckets' files lack last_ts and the declared-schema read surfaces
    # NULL; a NULL watermark would evaluate the violation filter to
    # not-a-violation and silently splice late data, so it degrades to
    # valid_from (the original, weaker-but-safe check) instead
    old = _read_intervals(spark, root)
    old = old.filter(F.col("kb").isin(kbs)) if kbs else old.filter(F.lit(False))
    # lazy checkpoint fused with the order check: the violation count
    # below reads old_touched in full and materializes it
    old_touched = old.join(
        bounded_broadcast(keys, n_keys), "key"
    ).localCheckpoint(eager=False)
    cur = old_touched.filter(F.col("is_current") == 1)

    # order contract: the batch must be strictly after each key's LAST
    # ABSORBED event (not merely the open interval's start — a change
    # whose ts falls inside the open interval's absorbed span would
    # pass a valid_from check and silently splice wrong intervals:
    # the seam merge cannot re-open a segment mid-span)
    viol = (
        cur.join(b.groupBy("key").agg(F.min("ts").alias("_mn")), "key")
        .filter(F.col("last_ts") >= F.col("_mn"))
        .count()
    )
    if viol:
        raise ValueError(
            "scd2_apply received changes at or before a key's last "
            "absorbed event (late data): re-derive that key from the "
            "retained change log instead of merging against the current row"
        )

    pseudo = cur.select(
        "key",
        F.lit(-1).cast("long").alias("seq"),
        F.col("valid_from").alias("ts"),
        "attr",
        F.col("n_events").alias("_w"),
        F.col("last_ts").alias("_lt"),
    )
    merged = build_intervals(
        pseudo.unionByName(
            b.select(
                "key",
                "seq",
                "ts",
                "attr",
                F.lit(1).alias("_w"),
                F.col("ts").alias("_lt"),
            )
        ),
        weight="_w",
        last="_lt",
    )
    content = (
        old.join(bounded_broadcast(keys, n_keys), "key", "left_anti")
        .unionByName(
            old_touched.filter(F.col("is_current") == 0).drop("kb").withColumn(
                "kb", id_bucket(F.col("key"), nb)
            )
        )
        .unionByName(merged.withColumn("kb", id_bucket(F.col("key"), nb)))
    )
    _overwrite_buckets(spark, path, ["kb"], content, [(k,) for k in kbs])


def stream_scd2_changes(
    changes_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    allow_late: bool = False,
):
    """Streaming twin: each micro-batch of dimension changes absorbs
    via :func:`scd2_apply`. Replay safety via the ``_applied_batch``
    sidecar (scd2_apply is NOT idempotent — a redelivered batch would
    trip the order check or inflate weights), the stream_golden_ingest
    discipline. ``allow_late=True`` (requires the retained log) turns
    an order-contract violation into the LATE DOOR instead of killing
    the stream: the cheap seam merge stays the common path and only a
    genuinely late batch pays the per-key re-derivation — safe because
    scd2_apply logs the batch BEFORE its order check, so the fallback's
    skip-existing append sees it already recorded."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if applied_batch(root) == batch_id:
            return
        bd = batch_df.localCheckpoint(eager=True)
        if bd.count():
            try:
                scd2_apply(spark, root, bd)
            except ValueError:
                if not allow_late:
                    raise
                scd2_apply_late(spark, root, bd)
        mark_applied(root, batch_id)

    return (
        changes_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
