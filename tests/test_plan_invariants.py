"""Physical-plan regression gates: a small, fast subset of
tools/explain_audit.py's invariants asserted in CI, so a refactor that
silently drops a pushdown, broadcast, or top-k pattern — or
reintroduces a data-sized single-partition window — fails tests, not a
later manual audit."""

from __future__ import annotations

import pytest

from etl_8million_data__spark.plans import all_queries
from etl_8million_data__spark.profile import scan_partition_metrics

SF = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.mark.parametrize(
    ("name", "expects"),
    [
        ("tpch_q6_forecast_revenue", ["PushedFilters", "HashAggregate"]),
        ("tpch_q3_shipping_priority", ["BroadcastHashJoin", "TakeOrderedAndProject"]),
        ("topk_orders_global", ["TakeOrderedAndProject"]),
        ("regional_revenue_5way_join", ["BroadcastHashJoin", "HashAggregate"]),
        ("corpus_term_frequencies", ["TakeOrderedAndProject", "HashAggregate"]),
        ("dedup_semantic_keepers", ["LeftAnti", "HashAggregate"]),
        ("range_bounds_sampled_orders", ["PushedFilters", "Window"]),
        ("moving_avg_and_ntile", ["BroadcastHashJoin", "Window"]),
    ],
)
def test_plan_contains(spark, name, expects):
    plan = _formatted_plan(all_queries()[name].build(spark, SF))
    missing = [e for e in expects if e not in plan]
    assert not missing, f"{name}: plan lost {missing}"


def test_ntile_has_no_data_sized_single_partition_window(spark):
    """moving_avg_and_ntile's only SinglePartition exchanges must feed
    post-aggregation (boundary/total) tables, never the orders scan —
    the invariant the boundary-table rewrite exists for."""
    plan = _formatted_plan(all_queries()["moving_avg_and_ntile"].build(spark, SF))
    # formatted plan lists operators bottom-up per subtree; a
    # SinglePartition Exchange whose subtree contains a parquet scan
    # WITHOUT an intervening HashAggregate would be the regression.
    import re

    # crude but effective: every Exchange SinglePartition must appear
    # AFTER (above) at least one HashAggregate in its section
    sections = plan.split("Exchange SinglePartition")
    for before in sections[:-1]:
        assert "HashAggregate" in before, "SinglePartition exchange over raw data"


def test_rfm_has_no_data_sized_single_partition_window(spark):
    """customer_rfm_segments (round-9 migration off three global
    ntile(5) windows): every SinglePartition exchange must feed a
    post-aggregation boundary/total table — at sf100 the customer
    dimension is 15 M rows, and the old plan funneled it through one
    task three times."""
    plan = _formatted_plan(all_queries()["customer_rfm_segments"].build(spark, SF))
    sections = plan.split("Exchange SinglePartition")
    for before in sections[:-1]:
        assert "HashAggregate" in before, "SinglePartition exchange over raw data"


def _broadcast_hint_children(df) -> list:
    """Every subtree (java LogicalPlan node) under a broadcast
    ResolvedHint in the ANALYZED plan (the optimizer consumes hints, so
    the analyzed plan is where an `F.broadcast(...)` call is still
    visible)."""
    sides = []

    def walk(node):
        if node.nodeName() == "ResolvedHint":
            sides.append(node.child())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().analyzed())
    return sides


def _broadcast_hint_sides(df) -> list[str]:
    return [n.toString() for n in _broadcast_hint_children(df)]


def _count_logical(spark, node) -> int:
    """Row count of an arbitrary analyzed-plan subtree — lets an
    invariant verify a materialized (localCheckpoint → LogicalRDD)
    broadcast side is actually bounded instead of trusting its shape."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, node
    )
    return jdf.count()


@pytest.mark.parametrize("name", ["similarity_knn_ivf", "similarity_knn_int8"])
def test_ann_plans_never_hint_broadcast_of_corpus_frames(spark, name):
    """The scale-path ANN query sides grow with the corpus (queries ARE
    corpus vectors), so a broadcast HINT there is a memory cliff at
    100 TB — the probe-to-cell equi-join must stay unhinted and let AQE
    choose. Regression gate for the de-broadcast of knn_ivf/knn_int8.
    (similarity_knn_ivf_recall is exempt: it composes the brute-force
    baseline, whose broadcast sits behind assert_baseline_scale.)"""
    sides = _broadcast_hint_sides(all_queries()[name].build(spark, SF))
    assert sides == [], f"{name}: broadcast hint over {sides[:1]}"


def test_kmeans_ann_broadcasts_only_bounded_frames(spark):
    """knn_ivf_kmeans may broadcast only frames bounded by k (centroid
    aggregates or a constant grid) — never the corpus scan or the
    corpus-growing probe table. kmeans_fit localCheckpoints the refit
    centroids, so a broadcast side may also surface as a LogicalRDD:
    that shape is accepted ONLY after counting it (≤ k_cells rows) —
    a materialized corpus frame would still fail here."""
    df = all_queries()["similarity_knn_ivf_kmeans"].build(spark, SF)
    for node in _broadcast_hint_children(df):
        s = node.toString()
        if "Aggregate" in s or "Range" in s:
            continue
        assert "LogicalRDD" in s, f"unbounded broadcast side: {s[:200]}"
        n = _count_logical(spark, node)
        assert n <= 8, f"materialized broadcast side has {n} rows (> k_cells)"


def test_ivf_pq_broadcasts_only_bounded_frames(spark):
    """knn_ivf_pq may broadcast only k-bounded frames: centroids
    (≤ 8), the PQ codebook (≤ 256), the constant sub grid, and the
    probed-cell id set (an aggregate bounded by k_cells) — never the
    corpus scan, the code stream, or the query LUT. Materialized
    (LogicalRDD) sides are accepted only after counting them."""
    df = all_queries()["similarity_knn_ivf_pq"].build(spark, SF)
    for node in _broadcast_hint_children(df):
        s = node.toString()
        if "Aggregate" in s or "Range" in s:
            continue
        assert "LogicalRDD" in s, f"unbounded broadcast side: {s[:200]}"
        n = _count_logical(spark, node)
        assert n <= 256, f"materialized broadcast side has {n} rows (> m*ksub)"


def test_feature_hashing_single_exchange(spark):
    """text_feature_hashing's spread repartition must satisfy both
    downstream aggregates: exactly ONE exchange in the whole plan (a
    second would mean an aggregate stopped reusing the doc_id
    partitioning)."""
    plan = _formatted_plan(all_queries()["text_feature_hashing"].build(spark, SF))
    assert plan.count("+- Exchange") == 1, plan


def test_split_leakage_gram_join_is_unhinted(spark):
    """corpus_split_leakage's train-gram side grows with the corpus:
    the join must carry NO broadcast hint (planner/AQE may still pick
    broadcast at fixture scale — that is their call, not a pinned
    memory cliff)."""
    df = all_queries()["corpus_split_leakage"].build(spark, SF)
    assert _broadcast_hint_sides(df) == []


def test_ann_index_probe_reads_only_probed_partitions(spark, sf_dir, tmp_path):
    """probe_index must READ only the probed cells' files — asserted on
    the executed scan's numPartitions metric, not on plan text (the
    optimizer's dynamicpruning filter was measured degrading to `true`
    at runtime; the routed-literal partition filter is the mechanism
    that actually prunes)."""
    from pyspark.sql import functions as F

    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index,
        probe_index,
    )
    from etl_8million_data__spark.operators.similarity import hyperplane_weights

    W = hyperplane_weights(16, 8)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, 8).alias("embedding")
    )
    idx = str(tmp_path / "annidx")
    build_index(emb, idx, W, 4)
    n_cells_total = (
        spark.read.parquet(idx).select("cell").distinct().count()
    )
    q = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        .limit(4)
    )
    df = probe_index(spark, idx, q, W, 4, k=3, nprobe=2)
    metrics = scan_partition_metrics(df, "annidx")
    assert metrics, "no index scan found in executed plan"
    # 4 queries x nprobe=2 -> at most 8 distinct cells can be probed
    for m in metrics:
        assert m["numPartitions"] <= 8, m
        assert m["numPartitions"] < n_cells_total, (m, n_cells_total)


@pytest.mark.parametrize(
    ("name", "expects", "forbidden"),
    [
        # interval join must stay equi-keyed binned — a NestedLoop /
        # cartesian over sessions would be the naive fan-out regression
        # (the bucket equi-join is planner-chosen: broadcast at fixture
        # scale, SMJ/shuffled-hash under AQE at scale — either is fine).
        # The sessionization Windows run before the eager interval
        # checkpoint, so the final plan starts at the checkpointed RDD
        # and shows only the binned joins.
        ("events_concurrent_sessions", ["HashJoin"],
         ["CartesianProduct", "BroadcastNestedLoopJoin"]),
        # MAD detector: per-type stats joined by broadcast, never the
        # fact side
        ("events_value_outliers_mad", ["BroadcastHashJoin"], ["CartesianProduct"]),
        # triangle counting: pure equi joins, no nested loop around hubs
        ("dedup_graph_triangles", ["HashAggregate"],
         ["CartesianProduct", "BroadcastNestedLoopJoin"]),
        # phrase search: postings semi-filtered (broadcast) before joins
        ("search_phrase_positions", ["BroadcastHashJoin"], ["CartesianProduct"]),
        # frequent paths: one user-keyed window, total-order top-k
        ("events_frequent_paths", ["Window", "TakeOrderedAndProject"],
         ["CartesianProduct"]),
    ],
)
def test_round4_plan_shapes(spark, name, expects, forbidden):
    plan = _formatted_plan(all_queries()[name].build(spark, SF))
    missing = [e for e in expects if e not in plan]
    present = [f for f in forbidden if f in plan]
    assert not missing, f"{name}: plan lost {missing}"
    assert not present, f"{name}: plan regressed to {present}"


def test_winnowing_fingerprints_has_no_join(spark):
    """Winnowing is pure narrow per-document array work — any Join in
    its plan means the selection regressed into a fan-out formulation."""
    plan = _formatted_plan(
        all_queries()["dedup_winnowing_fingerprints"].build(spark, SF)
    )
    assert "Join" not in plan, "winnowing selection grew a join"
    assert "Generate" in plan  # the explode of selected fingerprints


def test_hybrid_fusion_ivf_never_hints_corpus_broadcasts(spark):
    """Both retrieval channels of the ANN-routed fusion are knn_ivf
    cell equi-joins whose query sides grow with the corpus — they must
    stay unhinted (AQE chooses), like the other registered ANN paths."""
    sides = _broadcast_hint_sides(
        all_queries()["search_hybrid_rank_fusion_ivf"].build(spark, SF)
    )
    assert sides == [], f"broadcast hint over {sides[:1]}"


def test_power_iteration_final_plan_is_posexplode_over_checkpoint(spark):
    """embedding_top_component's iterations run behind per-round eager
    checkpoints (the broadcasts of the 1-row direction/max frames live
    inside those executed rounds), so the RETURNED plan must be nothing
    but the posexplode over the checkpointed 1-row direction — any Join
    or parquet re-scan here means an iteration leaked into the final
    lineage."""
    plan = _formatted_plan(all_queries()["embedding_top_component"].build(spark, SF))
    assert "Join" not in plan, "iteration leaked a join into the final lineage"
    assert "Scan parquet" not in plan, "corpus re-scan in the final lineage"
    assert "Generate" in plan  # the posexplode of the direction


def test_linkage_candidate_stage_is_blocked_equi_join(spark):
    """Round-10 pin: the linkage candidate generator must stay the SNM
    rank EQUI-join — a CartesianProduct / nested loop over the merged
    files would be the quadratic regression the blocking swap removed;
    and no data-sized single-partition window may sneak back in (the
    global rank must stay the boundary-table form)."""
    from etl_8million_data__spark.plans.behavioral import (
        _linkage_candidate_pairs,
        _linkage_merged,
    )

    merged = _linkage_merged(spark, SF)
    plan = _formatted_plan(_linkage_candidate_pairs(merged))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, f"linkage candidates regressed to {bad}"
    # the pair join is an equi-join on the integer rank
    assert "Join" in plan
    # the only single-partition window allowed is the boundary table's
    # cumulative count (input = |buckets| rows, aggregated): assert no
    # window runs directly over the merged-file scan partitioning
    import re

    for m in re.finditer(r"Window .*", plan):
        frag = plan[max(0, m.start() - 600): m.start()]
        assert "HashAggregate" in frag or "Exchange hashpartitioning" in frag, (
            "window over raw data-sized input:\n" + m.group(0)
        )


def test_fit_checkpoints_are_model_sized(spark, monkeypatch):
    """The bench's timed region starts AFTER build(), so an EAGER
    localCheckpoint inside a build path materializes UNTIMED (the
    contract is documented on profile.time_query). The fit operators lean on this for their
    refit artifacts — legitimate only while every eagerly materialized
    frame stays O(model) (centroid/codebook rows), never O(data). This
    spy pins that: every eager checkpoint taken during kmeans_fit and
    pq_fit must hold at most model-bound rows, orders below the corpus
    row count."""
    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.similarity import kmeans_fit, pq_fit

    emb = load_table(spark, SF, "embeddings")
    # patch the CONCRETE class (Spark 4: pyspark.sql.DataFrame is an
    # abstract facade; instances are classic.DataFrame)
    cls = type(emb)
    recorded: list[tuple[int, bool]] = []
    orig = cls.localCheckpoint

    def spy(self, eager=True):
        out = orig(self, eager=eager)
        if eager:
            recorded.append((out.count(), eager))
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    n_corpus = emb.count()
    k, m, ksub = 8, 8, 16
    kmeans_fit(emb, k=k, iters=2)
    pq_fit(emb, m=m, ksub=ksub, iters=2)
    assert recorded, "fit loops no longer checkpoint — update this gate"
    bound = max(k, m)  # carr frames: 1 row (kmeans) / m rows (pq)
    for rows, _ in recorded:
        assert rows <= bound, (
            f"eager build-path checkpoint holds {rows} rows "
            f"(model bound {bound}, corpus {n_corpus}) — O(data) frames "
            "must use eager=False so they compute inside the timed region"
        )
