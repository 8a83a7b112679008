"""Incremental view maintenance for JOIN views — the join counterpart
of the rollup family's aggregate maintenance (operators/rollup.py):
keep a materialized A ⋈ B current under APPENDS to either side without
ever recomputing the join over the full history.

Classic delta algebra for append-only inputs:

    Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

so a refresh computes three delta-sized joins and APPENDS their union
to the stored view — the old view rows are never read, never
rewritten (byte-identity asserted in tests). The old-side scans in the
cross terms are the only reads that touch history, and each is
restricted to the delta's join keys: when the delta's distinct key set
is small it is COLLECTED and pushed as a literal IN filter (parquet
row-group pruning can bite — the same literal-pruning discipline as
operators/upsert, because runtime DPP is unreliable on this build),
otherwise a broadcast semi-join does the bounding.

At 100 TB this is the difference between a view refresh costing
O(|delta| · join fan-out) and O(|history|): nightly fact appends
against a slowly-growing dimension refresh in delta time, and the
append-only view store composes with the same compaction/maintenance
ops as every other layout here (operators/maintenance.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import (
    append_new,
    partition_filter,
    store_exists,
)
from etl_8million_data__spark.operators.maintenance import swap_in
from etl_8million_data__spark.streaming.trigger import foreach_batch_available_now

# Above this many distinct delta keys, skip the collect and bound the
# old-side scan with a broadcast semi-join instead. MEASURED tradeoff
# (sf0.1, 1,420 keys): a 1,420-value literal IN costs 1.8 s against the
# broadcast semi-join's 0.7 s — large IN expressions are expensive to
# plan and evaluate even when pushed — while small INs add row-group
# pruning the semi-join cannot. So the literal path is reserved for
# genuinely small deltas; the threshold is an expression-cost bound,
# not a driver-memory bound.
MAX_LITERAL_KEYS = 200


def _bounded(old: DataFrame, delta: DataFrame, on: list[str]) -> DataFrame:
    """``old`` restricted to rows whose join key appears in ``delta`` —
    literal IN filter when the delta key set is small (pushed into the
    scan), broadcast left-semi join otherwise."""
    keys = delta.select(*on).distinct()
    head = keys.limit(MAX_LITERAL_KEYS + 1).collect()
    if len(head) <= MAX_LITERAL_KEYS:
        if not head:
            return old.limit(0)
        if len(on) == 1:
            vals = [r[on[0]] for r in head]
            return old.filter(F.col(on[0]).isin(vals))
        return old.filter(partition_filter(on, head))
    # above the literal cap the key-set size is UNKNOWN — no forced
    # broadcast (a bulk delta would OOM a hinted build side at scale);
    # AQE broadcasts at runtime iff the frame is actually small
    return old.join(keys, on, "left_semi")


def join_view_delta(
    a_old: DataFrame,
    b_old: DataFrame,
    a_delta: DataFrame,
    b_delta: DataFrame,
    on: list[str],
) -> DataFrame:
    """The view's delta rows: ΔA ⋈ B_old ∪ A_old ⋈ ΔB ∪ ΔA ⋈ ΔB,
    with every old-side scan bounded by the opposite delta's keys.
    Inputs must be append-only (no updates/deletes — those need the
    upsert/forget paths on the view, same as any other layout)."""
    d1 = a_delta.join(_bounded(b_old, a_delta, on), on)
    d2 = _bounded(a_old, b_delta, on).join(b_delta, on)
    d3 = a_delta.join(b_delta, on)
    return d1.unionByName(d2).unionByName(d3)


def refresh_join_view(
    spark: SparkSession,
    view_path: str,
    a_old: DataFrame,
    b_old: DataFrame,
    a_delta: DataFrame,
    b_delta: DataFrame,
    on: list[str],
) -> int:
    """Append the delta rows to the materialized view at ``view_path``
    (creating it from ``a_old ⋈ b_old`` in one commit when absent).
    Returns rows appended. Existing view files are never read or
    rewritten — the refresh cost is delta-sized by construction."""
    if not store_exists(view_path):
        with swap_in(view_path) as tmp:
            a_old.join(b_old, on).write.parquet(tmp)
    return append_new(join_view_delta(a_old, b_old, a_delta, b_delta, on), view_path)


def retract_join_view(
    spark: SparkSession,
    view_path: str,
    victims: DataFrame,
    key_col: str,
    locate_partitions: list[str] | None = None,
    n_buckets: int = 16,
) -> int:
    """Signed-delta RETRACTION for materialized join views — the
    deletes/updates door the append-only algebra lacks: a deletion Δ⁻
    on either input side propagates as Δ⁻A ⋈ B (resp. A ⋈ Δ⁻B), and
    because the view MATERIALIZES the join those delta rows are exactly
    the stored view rows carrying the deleted keys. So the retraction
    is a keyed delete on the view — no join re-execution, no base
    re-scan — reusing the forget family's layout disciplines
    (operators/forget.py), which is what lets a GDPR erase propagate
    base → derived views in delta time:

    - view id-bucketed by ``key_col``'s hash (the id_bucket contract):
      computed-bucket pruned rewrite, untouched buckets byte-identical;
    - deleting on a key the view is NOT bucketed by: pass
      ``locate_partitions`` (e.g. ``["bucket"]``) for the
      located-partition pruned rewrite — a column-pruned lookup finds
      the touched partitions; NEVER let forget_auto hash a non-bucket
      column into partition names (the fsck_bucket_purity failure mode);
    - legacy flat view: atomic full swap.

    An UPDATE is retract-then-append: retract the updated keys, then
    append the re-derived rows via the bounded-old-side append algebra
    (:func:`join_view_delta`). Returns rows retracted; a miss never
    rewrites — re-running a retraction is a no-op, which is what makes
    the streaming twin (stream_forget_requests targeting base AND view)
    at-least-once safe."""
    from etl_8million_data__spark.operators.forget import (
        forget_auto,
        forget_partitioned,
    )

    if locate_partitions:
        return forget_partitioned(
            spark, view_path, victims, key_col, locate_partitions
        )
    return forget_auto(spark, view_path, victims, key_col, n_buckets=n_buckets)


def agg_view_delta(
    base: DataFrame,
    updates: DataFrame,
    pk: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Per-group RETRACTION deltas for a keyed aggregate view when
    ``updates`` (new last-writer-wins versions, possibly new PKs) land
    on ``base``: each updated PK's OLD row contributes negatively under
    its old group, the new row positively under its new group — so
    group-moving updates, in-place value changes, and inserts all fall
    out of one signed union. Returns (group_cols..., d_n, d_<sum_col>
    ...) with one row per touched group. The old-row read is bounded to
    the update batch's PKs via a semi-join — un-hinted, AQE broadcasts
    a genuinely small batch at runtime (callers with a partitioned base
    can literal-prune instead, the upsert discipline); the
    aggregate-history is NEVER re-scanned."""
    # un-hinted: the batch size is unknown here (AQE broadcasts a
    # genuinely small batch at runtime; a bulk backfill degrades to a
    # shuffle join instead of a forced data-sized broadcast)
    pks = updates.select(pk).distinct()
    old = base.join(pks, pk, "left_semi")
    neg = old.select(
        *group_cols,
        F.lit(-1).cast("bigint").alias("_dn"),
        *[(-F.col(c)).cast("bigint").alias(f"_d_{c}") for c in sum_cols],
    )
    pos = updates.select(
        *group_cols,
        F.lit(1).cast("bigint").alias("_dn"),
        *[F.col(c).cast("bigint").alias(f"_d_{c}") for c in sum_cols],
    )
    return (
        neg.unionByName(pos)
        .groupBy(*group_cols)
        .agg(
            F.sum("_dn").cast("bigint").alias("d_n"),
            *[
                F.sum(f"_d_{c}").cast("bigint").alias(f"d_{c}")
                for c in sum_cols
            ],
        )
    )


def agg_view_delete_delta(
    base: DataFrame,
    victim_pks: DataFrame,
    pk: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Negative-only retraction delta for DELETED PKs — the erase door
    of the aggregate-view family (upserts: :func:`agg_view_delta`):
    each deleted row contributes (−1, −value) under its group, so
    :func:`apply_agg_delta` shrinks touched groups and drops emptied
    ones. The only base read is the victims' own rows (semi-join
    bounded, un-hinted — AQE sizes it; literal-pruned on a partitioned
    base — the forget discipline), so composing ``forget_*`` on the
    base with this delta
    on the view erases a key from BOTH in delta time, never rescanning
    the aggregate history. Returns (group_cols..., d_n, d_<sum_col>…)."""
    # un-hinted for the same reason as agg_view_delta: victim-set size
    # unknown, AQE sizes the join
    pks = victim_pks.select(victim_pks.columns[0]).toDF(pk).distinct()
    old = base.join(pks, pk, "left_semi")
    neg = old.select(
        *group_cols,
        F.lit(-1).cast("bigint").alias("_dn"),
        *[(-F.col(c)).cast("bigint").alias(f"_d_{c}") for c in sum_cols],
    )
    return neg.groupBy(*group_cols).agg(
        F.sum("_dn").cast("bigint").alias("d_n"),
        *[F.sum(f"_d_{c}").cast("bigint").alias(f"d_{c}") for c in sum_cols],
    )


def apply_agg_delta(
    view: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Merge per-group deltas into the aggregate view: full-outer on
    the group key, counters coalesce-added, groups whose count reaches
    zero dropped (they no longer exist in the base). The view is
    group-cardinality-sized, so this merge never touches fact-scale
    data."""
    merged = view.join(delta, group_cols, "full_outer")
    n = F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))
    out_cols = [n.cast("bigint").alias("n")]
    for c in sum_cols:
        out_cols.append(
            (
                F.coalesce(F.col(f"s_{c}"), F.lit(0))
                + F.coalesce(F.col(f"d_{c}"), F.lit(0))
            )
            .cast("bigint")
            .alias(f"s_{c}")
        )
    return merged.select(*group_cols, *out_cols).filter(F.col("n") > 0)


def stream_agg_view_upserts(
    updates_stream: DataFrame,
    base_path: str,
    view_path: str,
    pk: str,
    group_cols: list[str],
    sum_cols: list[str],
    order_col: str,
    checkpoint_dir: str,
):
    """Streaming twin of the retraction-aware aggregate maintenance:
    each micro-batch of keyed upserts (1) reduces to one row per PK
    (last-writer-wins by ``order_col`` — a redelivered or
    intra-batch-duplicated key resolves identically), (2) computes
    per-group retraction deltas against the CURRENT base snapshot
    (old rows bounded to the batch's PKs), (3) merges them into the
    group-sized view (atomic swap — the view is |groups| rows), and
    (4) applies the upsert to the base via the keyed upsert operator.
    Replay safety: the applied ``batch_id`` is written INSIDE the view
    directory (``_applied_batch`` sidecar — parquet readers skip
    underscore files) by the SAME atomic rename that publishes the
    merged view, so view-state and which-batch-it-reflects can never
    diverge. A retried batch whose id matches the sidecar skips the
    delta/merge entirely and only re-runs the (idempotent, atomic-swap)
    base upsert — closing the crash window between the view swap and
    the base upsert where a retry would otherwise recompute NONZERO
    deltas against the still-pre-upsert base and double-count groups.
    Whole-batch redelivery after both stores committed also converges:
    sidecar matches, upsert rewrites value-identical rows.

    Note the ORDER of (2) before (4): deltas must see the pre-upsert
    base, the same discipline as agg_view_delta's contract."""
    from etl_8million_data__spark.operators.upsert import (
        last_writer_wins,
        upsert_parquet,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = last_writer_wins(batch_df, [pk], order_col).localCheckpoint(eager=True)
        if not b.count():
            return
        from etl_8million_data__spark.operators.bucket_store import (
            applied_batch,
            mark_applied,
        )

        if applied_batch(view_path) != batch_id:
            base = spark.read.parquet(base_path)
            delta = agg_view_delta(base, b, pk, group_cols, sum_cols).localCheckpoint(
                eager=True
            )
            with swap_in(view_path) as tmp:
                view = spark.read.parquet(view_path)
                merged = apply_agg_delta(view, delta, group_cols, sum_cols)
                merged.coalesce(1).write.parquet(tmp)
                mark_applied(tmp, batch_id)
        upsert_parquet(spark, b, base_path, keys=[pk], order_col=order_col)

    return foreach_batch_available_now(updates_stream, apply_batch, checkpoint_dir)


def stream_join_view_increment(
    a_stream: DataFrame,
    b_static: DataFrame,
    view_path: str,
    on: list[str],
    a_pk: str,
    checkpoint_dir: str,
):
    """Streaming maintenance of the fact ⋈ dimension view — the
    production shape of :func:`refresh_join_view` (the fact streams,
    the dimension is slowly-changing and re-read per batch): each
    micro-batch appends ΔA ⋈ B to the view, SKIP-EXISTING by the
    fact's primary key ``a_pk`` — a column-pruned anti-join against
    the stored view, the same replay-idempotence contract as the ANN
    index appends (a redelivered batch's fact keys are already in the
    view, so the re-append is a natural no-op; at-least-once
    foreachBatch + checkpointed batch skipping yields an exactly-once
    view). Dimension churn between batches is visible to later
    batches only (standard streaming dim-join semantics); dimension
    UPDATES that must rewrite existing view rows are the upsert path
    on the view, not this append door."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_new(batch_df.join(b_static, on), view_path, a_pk)

    return foreach_batch_available_now(a_stream, apply_batch, checkpoint_dir)
