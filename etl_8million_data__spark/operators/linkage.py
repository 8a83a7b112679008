"""Incremental record linkage — the streaming door of the
Fellegi–Sunter family (plans/behavioral.py): new records arrive in
micro-batches and must be matched against a PERSISTED clean store
without re-linking the whole history.

Blocking for the incremental shape is an EQUI-join on a name-prefix
block key (``substring(name, 1, prefix_len)``): a batch record's
candidate store rows are exactly its block, so the probe input is
Σ |block(batch record)|. The store IS persisted partitioned by the
block key (:func:`write_clean_store` — ``partitionBy(blk)``) and the
probe (:func:`probe_store_candidates`) pushes the batch's bounded
block set as a LITERAL partition filter before the join — the
ANN/upsert discipline (operators/incremental_ann._literal_cell_prune):
only the probed blocks' files are ever listed or read, asserted on
executed-scan metrics in tests/test_linkage_stream.py and measured
flat across 10x store growth in SCALING.md. A legacy flat store still
works (detected via layout sniffing) but full-scans per batch — the
partitioned layout is the at-scale contract. This differs from the
batch path's
sorted-neighborhood window (which needs a global sort order — natural
for a one-shot pass, wrong for a probe): both are bounded-volume
blockers, and the fixture's truncation corruption keeps every true
pair inside BOTH (a last-char truncation never changes chars 1..17;
recall gated in tests).

PREFIX LENGTH IS A MEASURED CHOICE, NOT A DEFAULT: the block key's
entropy decides the volume. This fixture's names are zero-padded
numerals, so a SHORT prefix is degenerate — prefix-14 ("Customer#" +
5 leading, mostly-zero digits) collapses the store into 1-2 blocks and
the "blocked" join silently becomes the full cross product (measured:
562,500 candidates for 375 incoming × 1,500 store at sf0.01 — every
pair). prefix-17 keeps 10-key blocks: 3,750 candidates for the same
probe (exactly 10 per incoming record), 150× less, growing linearly
(SCALING.md). The block-volume gate
in tests/test_linkage_stream.py fails loudly if the blocker ever
degenerates again; at 100 TB, pick the prefix against the measured
per-block p99 (advisor_shuffle_skew_report's machinery).

u-probabilities come from the STORE's value frequencies (the
blocking-independent estimate — plans/behavioral._linkage_u_frame's
contract), computed once at stream start and passed to batches as three
integers; the decision threshold is the deployment's pick from the
threshold-quality curve. Reference corruption model:
plans/behavioral._linkage_merged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import append_new
from etl_8million_data__spark.operators.maintenance import swap_in
from etl_8million_data__spark.streaming.trigger import (
    foreach_batch_available_now,
    write_batch_output,
)

LINKAGE_PREFIX_LEN = 17


def _batch_side(batch: DataFrame, prefix_len: int) -> DataFrame:
    return batch.select(
        F.col("rid").alias("b_key"),
        "orig_key",
        F.col("name").alias("b_name"),
        F.col("bal").alias("b_bal"),
        F.col("seg").alias("b_seg"),
        F.substring("name", 1, prefix_len).alias("blk"),
    )


def _flag_pairs(b: DataFrame, a: DataFrame) -> DataFrame:
    """Equi-join the two block-keyed sides and emit the agreement
    flags — the shared tail of the flat and partitioned probe paths, so
    both produce byte-identical candidate schemas."""
    return b.join(a, "blk").select(
        "a_key",
        "b_key",
        "orig_key",
        F.when(
            F.substring("a_name", 1, 15) == F.substring("b_name", 1, 15), 1
        )
        .otherwise(0)
        .alias("ag_name"),
        F.when(F.col("a_bal") == F.col("b_bal"), 1).otherwise(0).alias("ag_bal"),
        F.when(F.col("a_seg") == F.col("b_seg"), 1).otherwise(0).alias("ag_seg"),
    )


def prefix_block_candidates(
    batch: DataFrame, store: DataFrame, prefix_len: int = LINKAGE_PREFIX_LEN
) -> DataFrame:
    """Candidate pairs between a batch of incoming records
    (rid, orig_key, name, bal, seg) and the clean store
    (rid, name, bal, seg): equi-join on the name-prefix block key, then
    the agreement flags. Output matches the batch path's pairs schema:
    (a_key, b_key, orig_key, ag_name, ag_bal, ag_seg). This is the
    in-memory/one-shot form; the persisted-store probe that partition-
    prunes the scan is :func:`probe_store_candidates`."""
    a = store.select(
        F.col("rid").alias("a_key"),
        F.col("name").alias("a_name"),
        F.col("bal").alias("a_bal"),
        F.col("seg").alias("a_seg"),
        F.substring("name", 1, prefix_len).alias("blk"),
    )
    return _flag_pairs(_batch_side(batch, prefix_len), a)


def write_clean_store(
    store: DataFrame, store_path: str, prefix_len: int = LINKAGE_PREFIX_LEN
) -> None:
    """Persist the clean store PARTITIONED BY the name-prefix block key
    (``blk=`` Hive layout) — the layout contract that makes every probe
    literal-prunable: a micro-batch's candidate read is bounded by its
    own blocks' files, independent of store size. Rows are repartitioned
    on the block key before the write so each block directory holds ONE
    file instead of one-per-write-task — the small-files discipline
    that keeps a pruned probe at |batch blocks| scheduled tasks. Replaces
    any existing store in one commit (``maintenance.swap_in``)."""
    with swap_in(store_path) as tmp:
        store.withColumn("blk", F.substring("name", 1, prefix_len)).repartition(
            F.col("blk")
        ).write.partitionBy("blk").parquet(tmp)


def append_clean_store(
    new_records: DataFrame, store_path: str, prefix_len: int = LINKAGE_PREFIX_LEN
) -> int:
    """SKIP-EXISTING append into the block-partitioned clean store —
    the growth door (the ANN index append_vectors discipline): new
    clean records (rid, name, bal, seg) land in their block partitions;
    records whose rid already exists are dropped, and the existence
    read is PRUNED to the batch's own blocks (literal partition filter)
    and COLUMN-pruned to rid — a replayed batch appends nothing, at any
    store size. One new file per touched block
    (``bucket_store.append_new``). Returns rows appended."""
    b = new_records.select("rid", "name", "bal", "seg").withColumn(
        "blk", F.substring("name", 1, prefix_len)
    )
    return append_new(b, store_path, "rid", ["blk"], prune=True)


def probe_store_candidates(
    spark,
    store_path: str,
    batch: DataFrame,
    prefix_len: int = LINKAGE_PREFIX_LEN,
) -> DataFrame:
    """Candidate pairs between a batch and the PERSISTED clean store,
    with the scan pruned to the batch's blocks: the batch's distinct
    block-key set is bounded by the batch size (collected driver-side —
    the _literal_cell_prune discipline), and pushing it as a literal
    ``blk IN (…)`` filter prunes the partitioned store at file-listing
    time, so the probe reads Σ |block(batch)| rows however large the
    store is (scan-metrics asserted in tests; flat across 10x store
    growth in SCALING.md). A legacy UNPARTITIONED store is detected and
    still answered correctly — via a derived block key, full-scanning
    the store — so the pruning is an I/O optimization, never a
    semantic fork."""
    from etl_8million_data__spark.operators.partitioning import is_hive_partitioned

    b = _batch_side(batch, prefix_len).localCheckpoint(eager=True)
    store = spark.read.parquet(store_path)
    if is_hive_partitioned(store_path, "blk"):
        blocks = [r["blk"] for r in b.select("blk").distinct().collect()]
        store = (
            store.filter(F.col("blk").isin(blocks))
            if blocks
            else store.filter(F.lit(False))
        )
        a = store.select(
            F.col("rid").alias("a_key"),
            F.col("name").alias("a_name"),
            F.col("bal").alias("a_bal"),
            F.col("seg").alias("a_seg"),
            "blk",
        )
        return _flag_pairs(b, a)
    a = store.select(
        F.col("rid").alias("a_key"),
        F.col("name").alias("a_name"),
        F.col("bal").alias("a_bal"),
        F.col("seg").alias("a_seg"),
        F.substring("name", 1, prefix_len).alias("blk"),
    )
    return _flag_pairs(b, a)


def weigh_and_decide(
    pairs: DataFrame, u_name: int, u_bal: int, u_seg: int, threshold: int
) -> DataFrame:
    """Fellegi–Sunter decision over candidate pairs with FIXED
    u-probabilities (integers in micro — store-derived, so a replayed
    batch decides identically): pattern weight as in
    plans/behavioral._linkage_weight, pairs at/above ``threshold``
    become matches."""

    def w(flag: str, u: int):
        return F.when(
            F.col(flag) == 1, F.lit(900000000000 // (u + 1))
        ).otherwise(F.lit(100000000000 // (1000001 - u)))

    weight = (
        w("ag_name", u_name) + w("ag_bal", u_bal) + w("ag_seg", u_seg)
    ).cast("bigint")
    return (
        pairs.withColumn("weight", weight)
        .filter(F.col("weight") >= threshold)
        .select("a_key", "b_key", "orig_key", "weight")
    )


def store_u_micro(store: DataFrame, prefix15: int = 15) -> tuple[int, int, int]:
    """Frequency-based u-probabilities (integer micro) from the clean
    store alone — Σ n_v(n_v−1)/(N(N−1)) per compare field. ONE job:
    every row explodes into three (field, value) entries, one two-level
    aggregate yields each field's collision mass AND the row count, and
    a single 3-row collect returns all four numbers (previously three
    ``.first()`` aggregates plus a ``.count()`` — four driver
    round-trips over the same store scan). Computed once per stream,
    not per batch. Values group by their STRING image (bigint→string is
    injective), so the masses are identical to per-field groupBys."""
    fv = store.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("f"),
                    F.substring("name", 1, prefix15).cast("string").alias("v"),
                ),
                F.struct(F.lit(1).alias("f"), F.col("bal").cast("string").alias("v")),
                F.struct(F.lit(2).alias("f"), F.col("seg").cast("string").alias("v")),
            )
        ).alias("fv")
    ).select("fv.f", "fv.v")
    rows = (
        fv.groupBy("f", "v")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("f")
        .agg(
            F.sum(F.expr("_n * (_n - 1)")).cast("bigint").alias("mass"),
            F.sum("_n").cast("bigint").alias("n"),
        )
        .collect()
    )
    by_f = {r["f"]: r for r in rows}
    n = by_f[0]["n"] if by_f else 0
    denom = max(n * (n - 1), 1)
    return tuple(
        1000000 * (by_f[f]["mass"] if f in by_f else 0) // denom for f in (0, 1, 2)
    )


def linkage_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    matches_path: str,
    u: tuple[int, int, int],
    threshold: int,
    scope: str,
) -> None:
    """One micro-batch of streaming linkage, replay-idempotent: match
    decisions land under a per-batch partition ``ingest_batch=<tag>``
    that each attempt replaces whole (``trigger.write_batch_output``: a
    redelivered batch rewrites the same files instead of appending
    duplicates — the dedup_ingest_batch discipline). The candidate read
    is :func:`probe_store_candidates`: on a block-partitioned store the
    batch's block set literal-prunes the scan, so each micro-batch
    reads Σ |block(batch)| store rows, never the store."""
    pairs = probe_store_candidates(batch_df.sparkSession, store_path, batch_df)
    matched = weigh_and_decide(pairs, *u, threshold)
    write_batch_output(matched, matches_path, scope, batch_id)


def stream_linkage_matches(
    batch_stream: DataFrame,
    store_path: str,
    matches_path: str,
    checkpoint_dir: str,
    threshold: int,
):
    """Streaming incremental linkage: each micro-batch of incoming
    (possibly corrupted) records is blocked against the persisted clean
    store, FS-weighted under store-derived u-probabilities, and its
    match decisions written replay-idempotently. stream == batch is
    asserted in tests (same blocker, same u, same threshold ⇒ identical
    decisions however the records are batched)."""
    spark = batch_stream.sparkSession
    u = store_u_micro(spark.read.parquet(store_path))
    scope = os.path.abspath(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        linkage_ingest_batch(
            batch_df, batch_id, store_path, matches_path, u, threshold, scope
        )

    return foreach_batch_available_now(batch_stream, apply_batch, checkpoint_dir)
