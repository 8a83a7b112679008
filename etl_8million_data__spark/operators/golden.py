"""Persisted golden-record state with DELTA maintenance — the
incremental door of the entity-resolution capstone
(plans/behavioral.linkage_e2e_golden_records): once records are linked
into entities and survived into golden records, NEW match edges and
GDPR erasures must update the persisted deliverable WITHOUT re-linking
the whole history, the same discipline IVM gives views and the ANN
indexes give vectors.

State layout under one root (all four tables hash-bucketed so every
maintenance call rewrites only the touched buckets — untouched bucket
partitions stay byte-identical, the forget/upsert blast-radius
contract):

- ``members/``  (rid, orig_key, name, bal, seg, src, component),
  partitioned by ``cb`` = id_bucket(component): a component's full
  membership lives in exactly one bucket, so re-surviving a touched
  component reads only its bucket.
- ``edges/``    (a_key, b_key, component), partitioned by ``cb``: the
  accepted match edges, kept because ERASING a record can SPLIT its
  component (the erased node may be the only bridge) — correctness of
  the split requires re-clustering the touched components' remaining
  edges, never the whole graph.
- ``golden/``   (component, n_members, n_sources, n_true_entities,
  golden_name, golden_bal, golden_seg), partitioned by ``cb``: the
  deliverable — field-level survivorship identical to the one-shot
  capstone (longest-name most-complete, clean-source precedence).
- ``ridmap/``   (rid, component), partitioned by ``rb`` =
  id_bucket(rid): the pruned rid -> component lookup that starts every
  delta — victims'/endpoints' buckets only, never a members scan.

Component ids are the component's MINIMUM rid (the
connected-components convention), so labels are deterministic and a
delta's relabeled components can never collide with untouched ones.

Every maintenance call is delta-neighborhood bounded: the only state
reads are (1) the ridmap buckets of the delta's rids, (2) the members/
edges buckets of the TOUCHED components, and (3) the affected buckets
being rewritten; connected components re-runs on the touched subgraph
only. Measured flat across 10x history growth in SCALING.md; byte
identity of untouched buckets and oracle equivalence to a full
re-link are pinned in tests/test_golden_state.py.

Reference semantics: the reference repo has no linkage surface; this
extends the Fellegi–Sunter family (SURVEY §7.2's extension brief) the
way operators/ivm.py extends the rollup family.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import (
    applied_batch,
    bucket_values as _bucket_values,
    mark_applied,
    overwrite_buckets as _overwrite_buckets,
    pruned_read,
    read_nb as _nb,
    write_nb,
    write_table_bucketed as _write_table,
)
from etl_8million_data__spark.operators.graph import connected_components
from etl_8million_data__spark.operators.ivm import MAX_LITERAL_KEYS
from etl_8million_data__spark.operators.partitioning import id_bucket, id_bucket_py

GOLDEN_NB = 16


def _collect_bounded(df: DataFrame, col: str) -> list | None:
    """The delta-neighborhood key list when it is SMALL (the ivm
    MAX_LITERAL_KEYS discipline), else None. One job that doubles as
    the frame's materializer — callers derive bucket sets from it in
    pure Python (id_bucket_py) and push literal IN/NOT-IN filters
    instead of paying a broadcast-exchange job per consumer, which is
    where most of a small apply's fixed job chain went (measured:
    25 of 75 jobs per 10-record golden apply were broadcast builds)."""
    head = df.select(col).limit(MAX_LITERAL_KEYS + 1).collect()
    if len(head) > MAX_LITERAL_KEYS:
        return None
    return [r[col] for r in head]

_MEMBER_COLS = ["rid", "orig_key", "name", "bal", "seg", "src"]

# Declared schemas so an EMPTY state table (e.g. a store initialized
# with no accepted edges yet, or fully erased) reads back as an empty
# frame instead of failing schema inference (the incremental_ann
# _read_index discipline).
_SCHEMAS = {
    "members": (
        "rid bigint, orig_key bigint, name string, bal bigint, seg string,"
        " src int, component bigint, cb int"
    ),
    "edges": "a_key bigint, b_key bigint, component bigint, cb int",
    "golden": (
        "component bigint, n_members bigint, n_sources bigint,"
        " n_true_entities bigint, golden_name string, golden_bal bigint,"
        " golden_seg string, cb int"
    ),
    "ridmap": "rid bigint, component bigint, rb int",
}


def survivorship(members: DataFrame) -> DataFrame:
    """One golden record per component with the capstone's exact
    field-level survivorship (behavioral.linkage_e2e_golden_records
    stage 3): golden_name = most-complete (longest, ties lexicographic
    min); golden_bal / golden_seg = source precedence (clean src=0
    authoritative, corrupted-only components fall back); audit columns
    n_members / n_sources / n_true_entities (constructed ground
    truth). Two component-keyed aggregates; output is |components|
    rows."""
    stats = members.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.countDistinct("src").cast("bigint").alias("n_sources"),
        F.countDistinct(F.coalesce("orig_key", "rid"))
        .cast("bigint")
        .alias("n_true_entities"),
        F.max(F.length("name")).alias("maxlen"),
    )
    return (
        members.join(stats, "component")
        .groupBy("component", "n_members", "n_sources", "n_true_entities", "maxlen")
        .agg(
            F.min(
                F.when(F.length("name") == F.col("maxlen"), F.col("name"))
            ).alias("golden_name"),
            F.coalesce(
                F.min(F.when(F.col("src") == 0, F.col("bal"))), F.min("bal")
            ).alias("golden_bal"),
            F.coalesce(
                F.min(F.when(F.col("src") == 0, F.col("seg"))), F.min("seg")
            ).alias("golden_seg"),
        )
        .select(
            "component", "n_members", "n_sources", "n_true_entities",
            "golden_name", "golden_bal", "golden_seg",
        )
    )


def _cluster(records: DataFrame, edges: DataFrame) -> DataFrame:
    """(rid, ..., component) for ``records`` under min-label connected
    components over ``edges`` (a_key, b_key); singletons keep their own
    rid as component."""
    comp = connected_components(
        records.select("rid"),
        edges.select("a_key", "b_key"),
        node_col="rid",
        src_col="a_key",
        dst_col="b_key",
    )
    return records.join(
        comp.select(F.col("node").alias("rid"), "component"), "rid"
    )


def golden_init(
    spark: SparkSession,
    root: str,
    records: DataFrame,
    edges: DataFrame,
    nb: int = GOLDEN_NB,
) -> None:
    """Full (one-shot) build of the golden state: cluster all records
    over all accepted edges, survive, and persist the four bucketed
    tables. ``records``: (rid, orig_key, name, bal, seg, src) with rid
    unique; ``edges``: accepted match pairs (a_key, b_key), endpoints
    within the record set."""
    write_nb(root, nb)
    members = _cluster(
        records.select(*_MEMBER_COLS), edges
    ).localCheckpoint(eager=True)
    _write_table(
        members.withColumn("cb", id_bucket(F.col("component"), nb)),
        os.path.join(root, "members"),
        "cb",
    )
    lab = members.select(F.col("rid").alias("a_key"), "component")
    _write_table(
        edges.select("a_key", "b_key").join(lab, "a_key")
        .withColumn("cb", id_bucket(F.col("component"), nb)),
        os.path.join(root, "edges"),
        "cb",
    )
    _write_table(
        survivorship(members).withColumn("cb", id_bucket(F.col("component"), nb)),
        os.path.join(root, "golden"),
        "cb",
    )
    _write_table(
        members.select("rid", "component").withColumn(
            "rb", id_bucket(F.col("rid"), nb)
        ),
        os.path.join(root, "ridmap"),
        "rb",
    )


def read_golden(spark: SparkSession, root: str) -> DataFrame:
    from etl_8million_data__spark.operators.bucket_store import store_exists

    p = os.path.join(root, "golden")
    # missing/emptied state decided driver-side + declared schema (an
    # emptied table has zero parquet files) — never a caught JVM
    # PATH_NOT_FOUND (bucket_store.store_exists)
    if not store_exists(p):
        return spark.createDataFrame([], _SCHEMAS["golden"]).drop("cb")
    return spark.read.schema(_SCHEMAS["golden"]).parquet(p).drop("cb")


def _pruned(spark: SparkSession, path: str, part_col: str, buckets: list[int]):
    # declared-schema pruned read: zero footer inference, and an empty
    # state table (written with zero rows -> no parquet files) reads
    # back as an empty frame of the declared schema
    return pruned_read(
        spark, path, part_col, buckets, _SCHEMAS[os.path.basename(path)]
    )


def _touched_components(
    spark: SparkSession,
    root: str,
    nb: int,
    rids: DataFrame,
    rid_ids: list | None = None,
) -> DataFrame:
    """Old components of the given rids, via the rb-pruned ridmap
    lookup (rids missing from the state simply do not match — a brand
    new record or an already-erased victim). With ``rid_ids`` (the
    bounded collected list) the bucket set is driver arithmetic and the
    match is a literal IN — no broadcast build, no extra job."""
    if rid_ids is not None:
        rbs = sorted({id_bucket_py(r, nb) for r in rid_ids})
        rm = _pruned(spark, os.path.join(root, "ridmap"), "rb", rbs)
        matched = (
            rm.filter(F.col("rid").isin(rid_ids))
            if rid_ids
            else rm.filter(F.lit(False))
        )
        return matched.select("component").distinct()
    # fallback: the rid set exceeded the bounded-literal cap, so its
    # size is UNKNOWN — no forced broadcast (a bulk backfill here would
    # OOM a hinted build side at scale); AQE broadcasts at runtime iff
    # the frame is actually small
    rbs = _bucket_values(rids, "rid", nb)
    rm = _pruned(spark, os.path.join(root, "ridmap"), "rb", rbs)
    return (
        rm.join(rids.select("rid").distinct(), "rid")
        .select("component")
        .distinct()
    )


def _apply_delta(
    spark: SparkSession,
    root: str,
    nb: int,
    old_comps: DataFrame,
    new_members: DataFrame,
    new_edges: DataFrame,
    dropped_rids: DataFrame,
    old_cbs: list[int] | None = None,
    old_comp_ids: list | None = None,
) -> None:
    """Shared rewrite tail of increment and forget: the components in
    ``old_comps`` are REPLACED by the freshly clustered ``new_members``
    / ``new_edges`` (already labeled), survivorship recomputed for the
    new components only, and every table rewritten only in its affected
    buckets. ``dropped_rids``: rids leaving the state entirely (erase
    victims) — removed from ridmap alongside the relabel. ``old_comps``
    arrives CHECKPOINTED by the caller (both callers materialize it
    for their own pruned reads) and is not re-materialized here;
    ``old_cbs`` lets the caller pass its already-collected bucket list
    instead of paying the collect twice, and ``old_comp_ids`` (the
    bounded collected component list, when small) turns every
    old-component anti-join into a literal NOT-IN filter — zero
    broadcast-build jobs on the common micro-batch path (the round-12
    job-fusion discipline, extended: a 10-record apply is
    fixed-job-chain bound, not data bound)."""
    new_members = new_members.localCheckpoint(eager=False)
    new_edges = new_edges.localCheckpoint(eager=False)
    # common case first: a non-empty delta short-circuits after ONE
    # count, and that count is the job that materializes new_members;
    # a caller-collected bucket list already proves old_comps
    # (non-)empty, so the second count is paid only when neither is
    # in hand
    if not new_members.count() and not (
        old_cbs if old_cbs is not None else old_comps.count()
    ):
        return  # complete miss (e.g. erasing unknown rids): a no-op

    cbs = sorted(
        set(
            old_cbs
            if old_cbs is not None
            else _bucket_values(old_comps, "component", nb)
        )
        | set(_bucket_values(new_members, "component", nb))
    )

    def drop_old(frame: DataFrame) -> DataFrame:
        if old_comp_ids is not None:
            return (
                frame.filter(~F.col("component").isin(old_comp_ids))
                if old_comp_ids
                else frame
            )
        # above-cap fallback: size unknown, AQE sizes the join
        return frame.join(old_comps, "component", "left_anti")

    def replace(path: str, new_rows: DataFrame) -> None:
        old_keep = drop_old(
            _pruned(spark, os.path.join(root, path), "cb", cbs)
        )
        content = old_keep.unionByName(
            new_rows.withColumn("cb", id_bucket(F.col("component"), nb))
        )
        _overwrite_buckets(
            spark, os.path.join(root, path), ["cb"], content, [(b,) for b in cbs]
        )

    replace("members", new_members.select(*_MEMBER_COLS, "component"))
    replace("edges", new_edges.select("a_key", "b_key", "component"))
    replace("golden", survivorship(new_members))

    # ridmap: every relabeled rid (the touched components' membership)
    # plus every dropped rid leaves its old row; relabeled rids re-enter
    moved = new_members.select("rid").unionByName(
        dropped_rids.select("rid")
    ).distinct().localCheckpoint(eager=False)
    # bounded path: the collect doubles as moved's materializer, the
    # bucket set is driver arithmetic and the anti-join a literal
    # NOT-IN — one job, zero broadcast builds; above the cap the size
    # is unknown, so no forced broadcast (AQE sizes the join)
    moved_ids = _collect_bounded(moved, "rid")
    if moved_ids is not None:
        rbs = sorted({id_bucket_py(r, nb) for r in moved_ids})
        rm_pruned = _pruned(spark, os.path.join(root, "ridmap"), "rb", rbs)
        rm_keep = (
            rm_pruned.filter(~F.col("rid").isin(moved_ids))
            if moved_ids
            else rm_pruned
        )
    else:
        rbs = _bucket_values(moved, "rid", nb)
        rm_keep = _pruned(spark, os.path.join(root, "ridmap"), "rb", rbs).join(
            moved, "rid", "left_anti"
        )
    rm_content = rm_keep.unionByName(
        new_members.select("rid", "component").withColumn(
            "rb", id_bucket(F.col("rid"), nb)
        )
    )
    _overwrite_buckets(
        spark, os.path.join(root, "ridmap"), ["rb"], rm_content, [(b,) for b in rbs]
    )


def golden_increment(
    spark: SparkSession,
    root: str,
    new_records: DataFrame,
    new_edges: DataFrame,
) -> None:
    """Absorb a delta of new records and new accepted match edges into
    the persisted golden state in DELTA time: the touched components
    (old components of the new edges' endpoints) are re-clustered
    together with the delta over THEIR OWN edges plus the new ones —
    min-label propagation seeded from the delta's neighborhood only —
    then survivorship recomputes for the touched components and only
    their buckets rewrite. New records unreferenced by any edge become
    singleton golden records. Endpoints of ``new_edges`` must be
    existing state rids or rids in ``new_records``; new rids must not
    already be in the state (dedup upstream — the skip-existing
    anti-join family)."""
    # lazy checkpoints throughout: the cbs collect below reads the
    # whole chain (batch -> delta rids -> touched components) in full
    # and is the ONE job that materializes all three frames
    new_records = new_records.select(*_MEMBER_COLS).localCheckpoint(eager=False)
    new_edges = new_edges.select("a_key", "b_key").localCheckpoint(eager=False)
    nb = _nb(root)

    delta_rids = (
        new_edges.select(F.col("a_key").alias("rid"))
        .unionByName(new_edges.select(F.col("b_key").alias("rid")))
        .unionByName(new_records.select("rid"))
        .distinct()
    )
    old_comps = _touched_components(spark, root, nb, delta_rids).localCheckpoint(
        eager=False
    )
    # ONE collect materializes old_comps AND (on the common bounded
    # micro-batch path) yields the component ids — bucket sets become
    # driver arithmetic and every downstream old-component join a
    # pushed literal, saving a broadcast-build job per consumer
    comp_ids = _collect_bounded(old_comps, "component")
    if comp_ids is not None:
        cbs = sorted({id_bucket_py(c, nb) for c in comp_ids})
        members_pruned = _pruned(spark, os.path.join(root, "members"), "cb", cbs)
        edges_pruned = _pruned(spark, os.path.join(root, "edges"), "cb", cbs)
        touched_members = (
            members_pruned.filter(F.col("component").isin(comp_ids))
            if comp_ids
            else members_pruned.filter(F.lit(False))
        ).select(*_MEMBER_COLS)
        touched_edges = (
            edges_pruned.filter(F.col("component").isin(comp_ids))
            if comp_ids
            else edges_pruned.filter(F.lit(False))
        ).select("a_key", "b_key")
    else:
        # above-cap fallback: delta size unknown — no forced broadcast
        cbs = _bucket_values(old_comps, "component", nb)
        touched_members = (
            _pruned(spark, os.path.join(root, "members"), "cb", cbs)
            .join(old_comps, "component")
            .select(*_MEMBER_COLS)
        )
        touched_edges = (
            _pruned(spark, os.path.join(root, "edges"), "cb", cbs)
            .join(old_comps, "component")
            .select("a_key", "b_key")
        )
    all_records = touched_members.unionByName(new_records)
    all_edges = touched_edges.unionByName(new_edges)
    # _cluster's output is already checkpoint-backed (the CC loop
    # checkpoints every round); _apply_delta lazily checkpoints its
    # derived frames
    relabeled = _cluster(all_records, all_edges)
    lab = relabeled.select(F.col("rid").alias("a_key"), "component")
    edges_labeled = all_edges.join(lab, "a_key")
    _apply_delta(
        spark,
        root,
        nb,
        old_comps,
        relabeled,
        edges_labeled,
        new_records.select("rid").limit(0),
        old_cbs=cbs,
        old_comp_ids=comp_ids,
    )


def golden_forget(spark: SparkSession, root: str, rids: DataFrame) -> None:
    """GDPR erase through the WHOLE linkage chain in delta time:
    erasing a person removes their member row, every match edge
    incident to them, and re-derives the golden records of the
    components they belonged to — including the SPLIT case (the victim
    was the only bridge between two sub-entities: the remaining edges
    re-cluster into separate components) and the fallback case (the
    clean source leaves, survivorship falls back to the corrupted
    copy's values). Components erased outright drop their golden rows
    (ghost partition cleanup included). Only the victims' components'
    buckets are read or rewritten; a miss (unknown rid) is a no-op —
    replaying an erase is safe (the stream_forget_requests
    at-least-once contract)."""
    victims = (
        rids.select(F.col(rids.columns[0]).alias("rid"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nb = _nb(root)
    # one collect materializes victims and (bounded path) yields the
    # literal victim list — erase batches are near-always small
    vids = _collect_bounded(victims, "rid")
    old_comps = _touched_components(
        spark, root, nb, victims, rid_ids=vids
    ).localCheckpoint(eager=False)
    comp_ids = _collect_bounded(old_comps, "component")
    if comp_ids is not None:
        cbs = sorted({id_bucket_py(c, nb) for c in comp_ids})
        members_pruned = _pruned(spark, os.path.join(root, "members"), "cb", cbs)
        edges_pruned = _pruned(spark, os.path.join(root, "edges"), "cb", cbs)
        touched_members = (
            members_pruned.filter(F.col("component").isin(comp_ids))
            if comp_ids
            else members_pruned.filter(F.lit(False))
        ).select(*_MEMBER_COLS)
        touched_edges = (
            edges_pruned.filter(F.col("component").isin(comp_ids))
            if comp_ids
            else edges_pruned.filter(F.lit(False))
        ).select("a_key", "b_key")
    else:
        # above-cap fallback: delta size unknown — no forced broadcast
        cbs = _bucket_values(old_comps, "component", nb)
        touched_members = (
            _pruned(spark, os.path.join(root, "members"), "cb", cbs)
            .join(old_comps, "component")
            .select(*_MEMBER_COLS)
        )
        touched_edges = (
            _pruned(spark, os.path.join(root, "edges"), "cb", cbs)
            .join(old_comps, "component")
            .select("a_key", "b_key")
        )
    if vids is not None:
        remaining_members = (
            touched_members.filter(~F.col("rid").isin(vids))
            if vids
            else touched_members
        )
        remaining_edges = (
            touched_edges.filter(
                ~F.col("a_key").isin(vids) & ~F.col("b_key").isin(vids)
            )
            if vids
            else touched_edges
        )
    else:
        # above-cap fallback: victim-set size unknown — no forced
        # broadcast (AQE sizes the joins)
        remaining_members = touched_members.join(
            victims, "rid", "left_anti"
        )
        remaining_edges = touched_edges.join(
            victims.select(F.col("rid").alias("a_key")),
            "a_key",
            "left_anti",
        ).join(
            victims.select(F.col("rid").alias("b_key")),
            "b_key",
            "left_anti",
        )
    relabeled = _cluster(remaining_members, remaining_edges)
    lab = relabeled.select(F.col("rid").alias("a_key"), "component")
    edges_labeled = remaining_edges.join(lab, "a_key")
    _apply_delta(
        spark, root, nb, old_comps, relabeled, edges_labeled, victims,
        old_cbs=cbs,
        old_comp_ids=comp_ids,
    )


def stream_golden_forget(
    requests: DataFrame,
    root: str,
    checkpoint_dir: str,
    id_col: str = "rid",
):
    """Streaming right-to-be-forgotten THROUGH the linkage chain — the
    golden-state analog of operators/forget.stream_forget_requests: a
    stream of erase requests drives :func:`golden_forget` per
    micro-batch (member rows, incident match edges, golden
    re-survivorship of the touched components). golden_forget is
    idempotent per rid (a miss is a no-op), so at-least-once redelivery
    is safe by construction — no marker sidecar needed, unlike the
    (non-idempotent) ingest twin."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src = id_col if id_col in batch_df.columns else batch_df.columns[0]
        ids = batch_df.select(F.col(src).alias("rid")).filter(
            F.col("rid").isNotNull()
        )
        golden_forget(spark, root, ids)

    return (
        requests.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_golden_ingest(
    batch_stream: DataFrame,
    store_path: str,
    root: str,
    checkpoint_dir: str,
    threshold: int,
):
    """Streaming twin of the incremental golden-record maintenance —
    the full chain per micro-batch: incoming records are matched
    against the persisted clean store (block-pruned probe +
    Fellegi–Sunter decision, operators/linkage.py), and the accepted
    edges + the batch's records absorb into the golden state via
    :func:`golden_increment`. Replay safety: the applied batch_id is
    written as a ``_applied_batch`` sidecar inside the state root
    AFTER the increment commits (the stream_agg_view_upserts
    discipline) — a redelivered batch whose id matches the sidecar
    skips the (non-idempotent) increment entirely; checkpointed batch
    tracking skips earlier batches. stream == batch asserted in
    tests/test_golden_state.py."""
    from etl_8million_data__spark.operators.linkage import (
        probe_store_candidates,
        store_u_micro,
        weigh_and_decide,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if applied_batch(root) == batch_id:
            return
        b = batch_df.localCheckpoint(eager=True)
        if not b.count():
            return
        u = store_u_micro(spark.read.parquet(store_path))
        edges = weigh_and_decide(
            probe_store_candidates(spark, store_path, b), *u, threshold
        ).select("a_key", "b_key")
        golden_increment(
            spark,
            root,
            b.select("rid", "orig_key", "name", "bal", "seg").withColumn(
                "src", F.lit(1)
            ),
            edges,
        )
        mark_applied(root, batch_id)

    return (
        batch_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
