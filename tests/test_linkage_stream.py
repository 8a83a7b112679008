"""Incremental linkage (operators/linkage.py): streaming match
decisions against a persisted clean store must equal the one-shot batch
run over the same records (same blocker, same store-derived u, same
threshold), keep full recall on the constructed truth, and replay
idempotently."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_8million_data__spark.operators.linkage import (
    prefix_block_candidates,
    probe_store_candidates,
    store_u_micro,
    stream_linkage_matches,
    weigh_and_decide,
    write_clean_store,
)
from etl_8million_data__spark.plans.behavioral import _linkage_merged


def _split(spark, sf_dir):
    merged = _linkage_merged(spark, sf_dir)
    store = merged.filter(F.col("src") == 0).select("rid", "name", "bal", "seg")
    incoming = merged.filter(F.col("src") == 1).select(
        "rid", "orig_key", "name", "bal", "seg"
    )
    return store.localCheckpoint(eager=True), incoming.localCheckpoint(eager=True)


def test_stream_linkage_equals_batch_and_replays(spark, sf_dir, tmp_path):
    store, incoming = _split(spark, sf_dir)
    store_path = str(tmp_path / "store")
    write_clean_store(store, store_path)

    u = store_u_micro(spark.read.parquet(store_path))
    # threshold: accept any pattern agreeing on the name prefix (the
    # fixture's true pairs always do) but demand more than chance —
    # use the weight of the all-disagree pattern + 1 as the floor, and
    # the name-agree weight as the decision point
    name_agree = 900000000000 // (u[0] + 1)
    threshold = name_agree  # name agreement alone clears the bar

    # batch reference over ALL records at once — with the block-volume
    # gate that caught the prefix-14 degeneracy (zero-padded names made
    # a short prefix collapse to 1-2 blocks = the full cross product):
    # candidates must stay O(incoming x block), nowhere near |A x B|
    cand = prefix_block_candidates(incoming, store)
    n_cand = cand.count()
    assert n_cand <= incoming.count() * 50, (
        f"prefix blocking degenerated: {n_cand} candidates for "
        f"{incoming.count()} incoming x {store.count()} store"
    )
    want = weigh_and_decide(cand, *u, threshold)
    want_set = {(r.a_key, r.b_key) for r in want.collect()}
    # full recall on the constructed truth: every corrupted record
    # matches its source (prefix-14 survives last-char truncation)
    true_pairs = {(r.orig_key, r.rid) for r in incoming.collect()}
    assert true_pairs <= want_set

    # stream the incoming records in 3 micro-batches
    src = str(tmp_path / "incoming")
    incoming.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    matches = str(tmp_path / "matches")

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream_linkage_matches(
            stream, store_path, matches, str(tmp_path / ckpt), threshold
        ).awaitTermination()

    run("ck1")
    got = spark.read.parquet(matches)
    got_set = {(r.a_key, r.b_key) for r in got.collect()}
    assert got_set == want_set
    assert got.count() == len(got_set)  # no duplicate decisions

    # redelivery idempotence: re-applying a batch under the SAME scope
    # and batch_id overwrites its own partition instead of duplicating
    from etl_8million_data__spark.operators.linkage import linkage_ingest_batch

    scope = os.path.abspath(str(tmp_path / "ck1"))
    linkage_ingest_batch(
        incoming, 0, store_path, matches, u, threshold, scope
    )  # deliberately redeliver EVERYTHING as batch 0 of the same scope
    linkage_ingest_batch(incoming, 0, store_path, matches, u, threshold, scope)
    got2 = spark.read.parquet(matches)
    # batch-0's partition now holds ALL decisions; other batches still
    # hold theirs — the union must stay exactly the decision set with
    # duplicates only across partitions, never within one
    assert {(r.a_key, r.b_key) for r in got2.collect()} == want_set

    # resuming the drained stream under its own checkpoint is a no-op
    pre = sorted(os.listdir(matches))
    run("ck1")
    assert sorted(os.listdir(matches)) == pre

    # the per-batch partitions exist (ingest_batch= layout)
    assert any(e.startswith("ingest_batch=") for e in os.listdir(matches))


def test_probe_prunes_to_batch_blocks_and_matches_flat(spark, sf_dir, tmp_path):
    """The persisted-store probe must (a) answer identically to the
    in-memory blocker and (b) READ only the batch's blocks' partitions —
    asserted on the executed scan's numPartitions metric (the
    incremental_ann literal-prune contract: plan-text dynamicpruning
    was measured degrading to `true`; the literal filter prunes at
    file-listing time)."""
    from etl_8million_data__spark.profile import scan_partition_metrics

    store, incoming = _split(spark, sf_dir)
    store_path = str(tmp_path / "blkstore")
    write_clean_store(store, store_path)
    n_blocks_total = len(
        [e for e in os.listdir(store_path) if e.startswith("blk=")]
    )
    assert n_blocks_total > 4, "fixture store must have enough blocks to prune"

    # a small batch covering few blocks
    batch = incoming.orderBy("rid").limit(3).localCheckpoint(eager=True)
    got = probe_store_candidates(spark, store_path, batch)
    want = prefix_block_candidates(batch, store)
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(got) == as_set(want)

    metrics = scan_partition_metrics(got, "blkstore")
    assert metrics, "no store scan found in executed plan"
    for m in metrics:
        assert m["numPartitions"] <= 3, m
        assert m["numPartitions"] < n_blocks_total, (m, n_blocks_total)

    # an empty batch short-circuits without reading anything
    empty = batch.limit(0)
    assert probe_store_candidates(spark, store_path, empty).count() == 0

    # legacy flat store: same answers through the derived-key fallback
    flat_path = str(tmp_path / "flatstore")
    store.write.parquet(flat_path)
    got_flat = probe_store_candidates(spark, flat_path, batch)
    assert as_set(got_flat) == as_set(want)


def test_append_clean_store_skip_existing_and_pruned(spark, sf_dir, tmp_path):
    """The store growth door: appends land in their block partitions,
    a replayed batch appends nothing, and appended records become probe
    candidates. (The existence read's block pruning is the same literal
    partition filter the probe test asserts on scan metrics above.)"""
    from etl_8million_data__spark.operators.linkage import append_clean_store

    store, incoming = _split(spark, sf_dir)
    store_path = str(tmp_path / "growstore")
    seed = store.filter(F.col("rid") % 10 != 0)
    write_clean_store(seed, store_path)
    n_seed = seed.count()

    new = store.filter(F.col("rid") % 10 == 0)
    assert append_clean_store(new, store_path) == new.count()
    assert spark.read.parquet(store_path).count() == store.count()
    # replay: every rid already present -> nothing appended
    assert append_clean_store(new, store_path) == 0
    # overlap batch: mixed old/new appends only the new
    more = store.limit(0)
    assert append_clean_store(more, store_path) == 0
    assert spark.read.parquet(store_path).count() == n_seed + new.count()

    # appended records are probe candidates (their own block probes hit)
    batch = incoming.filter((F.col("orig_key") % 10 == 0)).limit(2)
    got = probe_store_candidates(spark, store_path, batch)
    hit_rids = {r["a_key"] for r in got.collect()}
    assert hit_rids & {r["rid"] for r in new.collect()}
