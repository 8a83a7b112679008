"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is measured with the noop sink so we time the query plan,
not driver-side row materialization.
"""

from __future__ import annotations

import json
import os
import re
import sys
from dataclasses import dataclass, field
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_8million_data__spark import profile  # noqa: E402
from etl_8million_data__spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from etl_8million_data__spark.plans import all_queries  # noqa: E402
from etl_8million_data__spark.session import get_spark  # noqa: E402

# Sentinel queries: plans untouched since round 1, used to normalize out
# cross-boot host variance. Measured totals swing ~15% between machine boots
# with identical code (BENCH_ISOLATION_r9.json: all six r8-flagged
# "regressions" ran AT OR BELOW their r7 times when re-measured in isolation
# on a later boot). A query's time RATIO to the same-boot sentinel total is
# stable across boots, so regressions are flagged on ratios, not absolutes.
SENTINELS = [
    "group_agg_pricing_summary",
    "tpch_q3_shipping_priority",
    "regional_revenue_5way_join",
]

# Headline set: one per operator family that matters at scale.
HEADLINE = [
    "group_agg_pricing_summary",  # scan + multi-agg groupBy
    "tpch_q6_forecast_revenue",  # selective pushdown filter
    "tpch_q3_shipping_priority",  # 3-way join + agg + topk
    "regional_revenue_5way_join",  # star join w/ broadcasts
    "dedup_latest_event_per_user_type",  # window dedup
    "topk_orders_per_customer",  # ranking window
    "unpivot_lineitem_measures",  # wide->long restructure
    "pivot_event_type_avg",  # long->wide pivot
    "cumulative_revenue_per_customer",  # running window
    "pipeline_financials_unpivot",  # full bronze->fact pipeline round trip
    "pipeline_summary_enrichment",  # wide projection + regex enrichment
    "pipeline_quotes_snapshot",  # quotes wide projection
    "events_session_windows",  # session windows
    "events_asof_latest_order",  # as-of join
    "dedup_minhash_lsh_pairs",  # shingle->minhash->band->join
    "dedup_simhash",  # per-doc simhash
    "dedup_exact_substring_spans",  # duplicated k-token span coverage
    "dedup_semantic_keepers",  # SemDeDup keep-set via SRP blocks
    "dedup_cluster_components",  # iterative connected components
    "similarity_knn_bruteforce",  # cosine top-k
    "similarity_knn_ivf",  # SRP inverted-file pruned ANN
    "multimodal_feature_extract",  # Arrow-batched mapInPandas decode
    "text_quality_scores",  # corpus quality filters
    "corpus_term_frequencies",  # explode -> agg -> top-k (vocab/IDF)
    "corpus_salient_terms_tfidf",  # two-level agg + join
    "corpus_e2e_curation",  # flagship: full curation pipeline in one plan
    "tpch_q21_suppliers_kept_waiting",  # decorrelated EXISTS/NOT-EXISTS
    "tpch_q13_customer_order_distribution",  # outer join + double agg
    "tpch_q9_profit_by_nation_year",  # 6-way star join + agg
    "tpch_q18_large_volume_orders",  # agg-filter semi join
    # round-3 families
    "similarity_kmeans_cells",  # learned coarse quantizer (iterative k-means)
    "similarity_knn_int8",  # quantized integer-dot kNN
    "corpus_lm_fluency_scores",  # bigram-LM quality scoring
    "multimodal_frame_dedup",  # frame-hash cross-media dedup
    "moving_avg_and_ntile",  # boundary-table global ntile (no 1-partition window)
    # round-4 families
    "dedup_cluster_quality_keepers",  # cluster argmax keeper selection
    "corpus_split_leakage",  # train->heldout gram leakage audit
    "text_feature_hashing",  # model-free hashed BoW embeddings
    "dedup_prefix_filter_pairs",  # exact similarity join (prefix filtering)
    "multimodal_perceptual_near_dup",  # gradient dHash + banded hamming
    "events_scd2_type_intervals",  # islands-and-gaps temporal intervals
    "search_hybrid_rank_fusion",  # two-channel retrieval + Borda fusion
    "dedup_edit_distance_verify",  # LSH candidates + banded levenshtein verify
    "search_phrase_positions",  # positional inverted-index phrase match
    "multimodal_e2e_curation",  # flagship: media curation pipeline in one plan
    "dedup_graph_triangles",  # degree-oriented triangle counting
    "events_concurrent_sessions",  # binned interval overlap join
    # round-5 families
    "search_hybrid_rank_fusion_ivf",  # ANN-routed two-channel fusion
    "dedup_winnowing_pairs",  # MOSS winnowing local-overlap pairs
    "events_scd2_pointintime_join",  # feature-store AS OF join
    "multimodal_audio_energy_trim",  # windowed PCM energy + VAD trim
    "embedding_top_component",  # fixed-point power iteration
    # round-6 families
    "similarity_margin_mining",  # CSLS margin pair mining
    "search_bm25_rsj_topk",  # BM25 ranked retrieval
    "corpus_dsir_importance",  # DSIR importance weights
    "sketch_bloom_membership",  # bloom filter build + probe + audit
    # round-7 families
    "sketch_bloom_pruned_antijoin",  # bloom-pruned skip-existing anti-join
    "similarity_knn_hamming_rerank",  # 1-bit signature scan + exact re-rank
    "embedding_linear_probe",  # fixed-point GD quality-probe training
    "dedup_sorted_neighborhood_pairs",  # multi-pass SNM blocking + verify
    "corpus_fuzzy_contamination",  # cross-corpus containment decontamination
    # round-8 families
    "similarity_knn_ivf_kmeans_persisted",  # train->freeze->persist->probe, learned IVF
    "similarity_knn_ivf_pq_persisted",  # codebook load path: persisted IVFADC probe
    "search_mmr_diversified",  # greedy diversified top-k over ANN shortlists
    "sketch_bottomk_quantiles",  # mergeable quantile sketch + exact-error audit
    "corpus_weighted_sample_tickets",  # token-budget-proportional weighted sampling
    "sketch_join_cardinality",  # coordinated-sample join-size estimate
    # round-9 families
    "search_eval_ndcg_ann",  # end-task nDCG cost of ANN routing vs exact
    "ivm_join_view_refresh",  # delta-algebra incremental join-view refresh
    "embedding_pca_two_components",  # deflated 2-component fixed-point PCA
    "search_bm25_persisted",  # lexical retrieval through the persisted index
    # round-10 families
    "linkage_e2e_golden_records",  # SNM-blocked FS linkage -> components -> survivorship
    "ivm_join_view_retract",  # keyed-delete retraction on materialized join views
    "advisor_join_strategy",  # bottom-k sketch -> broadcast/literal/shuffle advice
    "search_proximity_min_window",  # positional min-distance proximity ranking
    # round-11 families
    "linkage_golden_records_increment",  # delta-maintained golden-record state
    "linkage_forget_golden",  # GDPR erase through the linkage chain
    "advisor_salted_join_exec",  # skew-escalated advice executed (salted join)
    "events_scd2_incremental",  # delta-maintained SCD2 interval table
    "advisor_layout_zonemap",  # sort-key scan-skipping advisor
    "corpus_incremental_curation",  # batch-by-batch curation vs persisted index
    "ops_table_diff",  # Merkle bucket-checksum table diff
    "linkage_golden_fsck",  # full-lifecycle state invariant gate
    # round-12 families
    "ops_replica_audit",  # flat-cost replica audit via persisted summaries
    "advisor_layout_exec",  # layout advice executed: range-sort backfill + pruned scan
    "ops_version_cdc",  # manifest-pruned CDC between bucketed table versions
    "advisor_layout_drift",  # sorted-layout decay quantified, recompaction advice
    "ops_store_lifecycle_audit",  # append/delete doors keep the summary honest
    "ops_cdc_apply",  # full replication loop: metadata CDC -> pruned apply -> summary audit
    # round-13 families
    "ops_cdc_apply_versioned",  # max-version-wins apply, safe under reordering
    "ops_cdc_producer_stream",  # streaming CDC producer: publish -> stream -> apply -> audit
    "ops_store_compaction_audit",  # per-bucket small-files compaction, summary kept honest
    "ops_rebucket_migration",  # bucket-modulus migration with equality gate
    "advisor_bucket_count",  # churn-measured bucket-modulus advisor
    "ops_schema_evolution",  # pinned-schema add-column door, NULL-extended reads
    "advisor_rebucket_telemetry",  # advice from the store's own door telemetry
    "ops_retention_sweep",  # predicate TTL delete, bucket-bounded rewrite
    # round-14 families
    "advisor_compaction",  # file-census compaction advisor + door agreement
    "ops_cdc_retention",  # log truncation + validated vacuum floor + redelivery
    "ops_cdc_stream_evolution",  # pinned log schema carries evolution thru stream
    "ops_cdc_log_fsck",  # log health audit: plant 4 faults, repair the repairable
    "ops_replica_repair",  # heal a drifted replica through the versioned door
]

# Baseline/oracle lane: in-query index FITS and exact-recall oracles. A real
# cluster amortizes these (train once, persist, probe many) — the persisted
# probe twins above ARE the production shape — so refit cost is tracked here,
# separately, instead of inflating the headline round-over-round total.
# Still measured every run and reported in BENCH_FULL.json.
BASELINE_LANE = [
    "similarity_knn_ivf_pq",  # in-query IVFADC fit (twin: *_ivf_pq_persisted)
    "similarity_knn_pq_adc",  # in-query PQ fit + size-guarded exact oracle
    "similarity_knn_gemm",  # exact-kNN GEMM recall oracle
]


def regressed(
    t: float,
    prev: float | None,
    noise: float,
    boot_factor: float,
) -> bool:
    """The regression rule applied in BOTH passes (first flag and
    isolated adjudication): boot-normalized time must exceed the prior
    by >25% AND by more than the measured noise floor. The boot factor
    is CLAMPED at 1.0: dividing by a sub-1 factor (this boot's
    sentinels ran FASTER than the committed run's) inflates every raw
    time and flags queries whose raw cost merely stayed flat — nothing
    got worse, they just didn't share the sentinel speedup (measured in
    round 11: three 'confirmed' flags whose isolated raw times matched
    their priors within noise). Slow boots (factor > 1) still normalize
    down, which is the masking direction the factor exists for; on fast
    boots a real regression must show RAW growth, which it does by
    definition."""
    if prev is None or prev <= 0:
        return False
    t_norm = t / max(boot_factor, 1.0)
    return t_norm > prev * 1.25 and (t_norm - prev) > noise


def commit_baseline(
    timings: dict[str, float], isolated: dict[str, float]
) -> dict[str, float]:
    """Per-query values to COMMIT as next round's baseline: where an
    isolated rerun exists, the isolated min is the more reproducible
    number (within-run ordering interference is exactly what the rerun
    removes), so a cleared flag cannot re-flag next round off its own
    inflated in-run sample. Raw first-pass values stay in the
    ``first_pass`` field for audit."""
    return {
        n: round(min(t, isolated[n]), 3) if n in isolated else t
        for n, t in timings.items()
    }


TAIL_PER_ROUND = 30


def tail_rotation(
    all_names, benched, round_no: int, k: int = TAIL_PER_ROUND
) -> list[str]:
    """Deterministic rotating sample of the NON-headline tail: the
    sorted tail is walked in a window of ``k`` names advancing by k per
    round (wrapping), so every registered query gets timed within
    ceil(|tail|/k) rounds and a silent regression in a query outside
    the headline lane is caught within a few rounds instead of never.
    Pure function of (names, round_no) — the adjudication-path test
    pins coverage and determinism."""
    tail = sorted(n for n in all_names if n not in set(benched))
    if not tail:
        return []
    k = min(k, len(tail))
    start = (round_no * k) % len(tail)
    return sorted(tail[(start + i) % len(tail)] for i in range(k))


@dataclass
class Lane:
    """One lane's round: per-query first-pass min and spread, the
    boot factor both passes normalized by, the first-pass regression
    candidates, their isolated reruns and the confirmed regressions."""

    first_pass: dict[str, float]
    spread: dict[str, float]
    boot_factor: float
    candidates: dict[str, str] = field(default_factory=dict)
    isolated: dict[str, float] = field(default_factory=dict)
    regressions: dict[str, str] = field(default_factory=dict)


def run_lane(
    measure: Callable[[str, int], list[float]],
    isolate: Callable[[], None],
    names: list[str],
    n: int,
    prior: dict[str, dict],
    boot_factor: Callable[[dict[str, float]], float],
) -> Lane:
    """Time ``names`` min-of-``n`` with ``measure(name, n)``, then
    adjudicate against ``prior`` ({name: {"t", "spread"[, "round"]}}).

    The min is the reproducible number: a single sample conflates the
    query's cost with transient host contention / first-touch planning /
    JIT warmup (measured: cold first samples run 2-6x the converged
    time). The spread (max - min) rides alongside, so a swing in a
    round-over-round comparison is attributable to plan vs host noise
    at a glance.

    SELF-ADJUDICATION: within-run interference from the fixed query
    order (JVM/GC/page-cache state inherited from preceding queries)
    repeatedly flagged queries that measure clean alone — r8 flagged
    six, r9 eight, and isolated min-of-5 reruns put every one at/below
    its prior time. So a first-pass flag is only a CANDIDATE: after
    ``isolate()`` (clear caches) each candidate is re-run at the END of
    its lane (different ordering context, min-of-3), and a regression
    is confirmed only if the isolated min, boot-normalized by
    ``boot_factor(first_pass)``, still exceeds the 25%+noise budget.
    Both numbers are reported so the adjudication is auditable."""
    first, spread = {}, {}
    for name in names:
        samples = measure(name, n)
        first[name] = round(min(samples), 3)
        spread[name] = round(max(samples) - min(samples), 3)
    lane = Lane(first, spread, boot_factor(first))
    bf = lane.boot_factor

    def noise(name: str) -> float:
        # absolute floor alongside the relative rule: a 10 ms query
        # drifting to 25 ms is timer/JIT jitter, not a plan change —
        # sub-0.15 s deltas can never be a meaningful regression on
        # this fixture scale
        return max(spread.get(name, 0.0), prior.get(name, {}).get("spread", 0.0), 0.15)

    for name, t in first.items():
        p = prior.get(name, {})
        if regressed(t, p.get("t"), noise(name), bf):
            # print the same clamped normalization regressed() gates
            # on — on fast boots (factor < 1) the unclamped division
            # would report a number the rule never used
            was = f"{p['t']:.2f}s" + (f" (round {p['round']})" if "round" in p else "")
            lane.candidates[name] = (
                f"{was} -> {t:.2f}s raw, {t / max(bf, 1.0):.2f}s"
                f" boot-normalized (factor {bf:.2f})"
            )
    if lane.candidates:
        isolate()
        for name in lane.candidates:
            iso = round(min(measure(name, 3)), 3)
            lane.isolated[name] = iso
            if regressed(iso, prior[name]["t"], noise(name), bf):
                lane.regressions[name] = (
                    lane.candidates[name]
                    + f"; isolated rerun {iso:.2f}s"
                    f" ({iso / max(bf, 1.0):.2f}s normalized) CONFIRMED"
                )
    return lane


def sentinel_total(timings: dict[str, float]) -> float:
    return sum(timings.get(s, 0.0) for s in SENTINELS)


def run_bench(
    prev: dict,
    all_names: list[str],
    measure: Callable[[str, int], list[float]],
    isolate: Callable[[], None],
) -> dict:
    """One benchmark round against ``prev``, the committed
    BENCH_FULL.json record (``{}`` when there is none): the headline
    lane (min-of-3), then the rotating tail lane (min-of-2). Returns the
    next BENCH_FULL.json record, without ``sf``."""
    prev_q = prev.get("queries", {})
    prev_spread = prev.get("spread", {})
    prev_sentinel = prev.get("sentinel_total") or sentinel_total(prev_q)

    # Sentinel normalization: this boot's sentinel total vs the committed
    # run's sentinel total gives a host-speed factor; a query only counts
    # as regressed if its time grew >25% beyond noise AFTER dividing out
    # that factor. This stops boot variance masquerading as regression
    # (round 8 lost a verdict round-trip to exactly that).
    def boot(first: dict[str, float]) -> float:
        total = sentinel_total(first)
        return total / prev_sentinel if total > 0 and prev_sentinel > 0 else 1.0

    head = run_lane(
        measure,
        isolate,
        [n for n in HEADLINE + BASELINE_LANE if n in all_names],
        3,
        {n: {"t": t, "spread": prev_spread.get(n, 0.0)} for n, t in prev_q.items()},
        boot,
    )
    # Rotating TAIL lane: the registered queries outside the
    # headline/baseline lanes, a deterministic 30-per-round window so
    # every query is re-timed within a few rounds. Each tail query
    # compares against the LAST round it was sampled (tail_history),
    # boot-normalized by the headline's sentinel factor.
    tail_round = int(prev.get("tail_round", 0)) + 1
    tail_sampled = tail_rotation(all_names, HEADLINE + BASELINE_LANE + SENTINELS, tail_round)
    tail_history: dict[str, dict] = dict(prev.get("tail_history", {}))
    tail = run_lane(
        measure, isolate, tail_sampled, 2, tail_history, lambda _: head.boot_factor
    )
    # the committed baselines carry the isolated min forward (see
    # commit_baseline), and the totals follow the committed values so
    # BENCH_FULL stays internally consistent
    timings = commit_baseline(head.first_pass, head.isolated)
    committed_tail = commit_baseline(tail.first_pass, tail.isolated)
    for name, t in committed_tail.items():
        tail_history[name] = {
            "t": t,
            "spread": tail.spread.get(name, 0.0),
            "round": tail_round,
        }
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings[n] for n in HEADLINE if n in timings), 3),
        "unit": "sec",
        "queries": timings,
        "first_pass": head.first_pass,
        "spread": head.spread,
        "sentinel_total": round(sentinel_total(head.first_pass), 3),
        "sentinels": SENTINELS,
        "baseline_lane": BASELINE_LANE,
        "baseline_lane_total": round(
            sum(timings[n] for n in BASELINE_LANE if n in timings), 3
        ),
        "regression_candidates": head.candidates,
        "isolated_rerun": head.isolated,
        "regressions_vs_prev": head.regressions,
        "n_queries": len(timings),
        "tail_round": tail_round,
        "tail_sampled": tail_sampled,
        "tail_queries": committed_tail,
        "tail_first_pass": tail.first_pass,
        "tail_spread": tail.spread,
        "tail_total": round(sum(committed_tail.values()), 3),
        "tail_candidates": tail.candidates,
        "tail_isolated_rerun": tail.isolated,
        "tail_regressions_vs_last_sample": tail.regressions,
        "tail_history": tail_history,
    }


def summary_line(full: dict) -> str:
    """The stdout line. The driver captures only the last ~2000 chars of
    stdout and parses the final JSON line; 47 queries x (timing +
    spread) is ~3.4 kB, which cut the line start off in round 4
    (BENCH_r04.json parsed: null). So the full record goes to
    BENCH_FULL.json, and stdout carries a compact summary — total, the
    10 slowest headline queries and the regression counts (so a slow
    creep is visible at a glance, not buried in a diff)."""
    headline_only = {n: t for n, t in full["queries"].items() if n in HEADLINE}
    top10 = dict(sorted(headline_only.items(), key=lambda kv: -kv[1])[:10])
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": full["value"],
            "unit": "sec",
            "queries": top10,
            "sf": full["sf"],
            "n_queries": full["n_queries"],
            "baseline_lane_total": full["baseline_lane_total"],
            "sentinel_total": full["sentinel_total"],
            "regressions": len(full["regressions_vs_prev"]),
            "tail": {
                "round": full["tail_round"],
                "n": len(full["tail_sampled"]),
                "total": full["tail_total"],
                "regressions": len(full["tail_regressions_vs_last_sample"]),
            },
            "full": "BENCH_FULL.json",
        }
    )
    assert len(line) < 1500, f"summary line {len(line)} chars; must stay < 1500"
    return line


def main() -> None:
    spark = get_spark("etl8m-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    profile.warm_session(spark)
    profile.noop_write(queries["group_agg_pricing_summary"].build(spark, DEFAULT_SF_DIR))
    bench_full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(bench_full_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = {}
    full = run_bench(
        prev,
        list(queries),
        lambda name, n: profile.time_query(spark, queries[name], DEFAULT_SF_DIR, n),
        spark.catalog.clearCache,
    )
    m = re.search(r"sf([0-9.]+)", DEFAULT_SF_DIR)
    full["sf"] = float(m.group(1).rstrip(".")) if m else None
    with open(bench_full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(summary_line(full))
    spark.stop()


if __name__ == "__main__":
    main()
