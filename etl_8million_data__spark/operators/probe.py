"""Deterministic linear-probe training over embedding columns.

Model-based quality filtering is the workhorse of modern corpus
curation (CCNet's wiki-vs-crawl classifier, FineWeb-Edu / DCLM quality
probes): train a small linear model on a weak label, score the whole
corpus, keep the top slice. This module trains that probe INSIDE the
engine as one declarative plan — no sklearn, no driver-side math — with
the same cross-engine determinism discipline as the k-means / PQ / power
-iteration trainers:

- features are milli-int quantized (sign*floor(|v|*1e3+0.5)), so every
  cross-row aggregate is an exact int64 sum (order-insensitive);
- the normal-equation statistics Ā = (XᵀX) div n and b = (Xᵀy) div n
  are computed ONCE as integer aggregates (map-side combinable GEMM
  partials via Arrow batches — the same blocked-matmul shape as
  knn_block_gemm);
- training is ``iters`` fixed gradient steps on the quadratic loss
  ½wᵀĀw − bᵀw in micro fixed-point with `div` truncation (DuckDB `//`
  parity), each step a join over the 64x64 Ā frame and the 64-row
  weight frame — the model never leaves the cluster and is always
  broadcastable;
- scoring is a broadcast of the 64-row model onto a narrow map over the
  corpus scan.

Scale shape at 100 TB: one corpus scan for the Gram partials (4096
int64 cells per Arrow batch — map-side combined, the shuffle carries
n_batches*4160 rows, not the corpus), a k-bounded iterative loop, one
corpus scan to score. Nothing grows with n except the two scans.

Step size is 1 (in real units): features are embedding components
(~unit-norm vectors), so λ_max(Ā) ≤ trace(Ā) = mean ||x||² ≈ 1 < 2 and
plain gradient descent contracts without a line search.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def milli_components(vec: Column) -> Column:
    """Exact milli-int feature quantization:
    ``sign(v) * floor(|v|*1000 + 0.5)`` per component, as bigint."""
    vd = lambda v: v.cast("double")  # noqa: E731
    return F.transform(
        vec,
        lambda v: F.signum(vd(v)).cast("bigint")
        * F.floor(F.abs(vd(v)) * 1_000 + F.lit(0.5)).cast("bigint"),
    )


def gram_stats(xm: DataFrame, dim: int = 64) -> DataFrame:
    """Normal-equation statistics as ONE integer aggregate pass:
    returns (i, j, s) with j in [0, dim) holding XᵀX cells and j = -1
    holding the Xᵀy vector. Input frame: (xm array<bigint>, y bigint).

    Per-batch partials are numpy int64 GEMMs (Xᵀ X is 64x64 per Arrow
    batch regardless of batch length), combined by an integer groupBy
    sum — map-side combine does the heavy reduction, the shuffle is
    ~4160 rows per batch. Integer sums are order- and
    partition-insensitive, so the result is deterministic under any
    batching."""

    def partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([list(v) for v in pdf["xm"]], dtype=np.int64)
            y = pdf["y"].to_numpy(dtype=np.int64)
            g = x.T @ x  # dim x dim, exact int64
            b = x.T @ y  # dim
            ii, jj = np.indices(g.shape)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii.ravel(), np.arange(x.shape[1])]),
                    "j": np.concatenate([jj.ravel(), np.full(x.shape[1], -1)]),
                    "v": np.concatenate([g.ravel(), b]),
                }
            )

    return (
        xm.select("xm", "y")
        .mapInPandas(partials, "i int, j int, v long")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("s"))
    )


def linear_probe_fit(
    emb: DataFrame,
    y: Column,
    iters: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train a linear probe ``score = w·x`` against the ±1 label column
    ``y`` with ``iters`` fixed gradient steps in micro fixed-point.

    Returns (scored, w): ``scored`` = (vec_id, y, score_micro) over the
    full input — score_micro = (Σ xmᵢ·wμᵢ) div 1000, an exact integer
    on both engines; ``w`` = (i, wmu) the trained micro weights (a
    dim-row frame, always broadcastable).

    Update rule (real units; Ā, b are count-normalized so magnitudes
    are corpus-size-free): w ← w + (b − Āw). In fixed point with wμ in
    micro units, Ā cells ``a`` = (XᵀX)ᵢⱼ div n (milli² units) and
    bμ = ((Xᵀy)ᵢ div n)·1000:  wμ ← wμ + bμ − ((Σⱼ aᵢⱼ·wμⱼ) div 1e6).
    Every operation is int64 with `div` truncation — bit-identical to
    the DuckDB oracle's unrolled `//` chain. Int64 headroom: |a| ≤
    milli²·1 ≈ 1e6, |wμ| stays O(1e6⁺); per-term products ≤ ~1e13,
    64-term sums ≤ ~1e15 — three decades under overflow at ANY corpus
    size (the count normalization is what makes the bound n-free)."""
    if iters < 1:
        raise ValueError(f"linear_probe_fit requires iters >= 1, got {iters}")
    xm = emb.select(
        F.col(id_col).alias("vec_id"),
        milli_components(F.col(vec_col)).alias("xm"),
        y.cast("bigint").alias("y"),
    )
    n = xm.groupBy().agg(F.count(F.lit(1)).alias("cnt"))
    stats = gram_stats(xm, dim).crossJoin(F.broadcast(n))
    abar = stats.filter(F.col("j") >= 0).select(
        "i", "j", F.expr("s div cnt").alias("a")
    )
    # Ā is dim² bounded rows consumed every iteration — materialize once.
    abar = abar.localCheckpoint(eager=True)
    bbar = (
        stats.filter(F.col("j") == -1)
        .select("i", (F.expr("s div cnt") * 1000).alias("bmu"))
        .localCheckpoint(eager=True)
    )
    spark = emb.sparkSession
    w = spark.range(dim).select(
        F.col("id").cast("int").alias("i"), F.lit(0).cast("bigint").alias("wmu")
    )
    for _ in range(iters):
        aw = (
            abar.join(F.broadcast(w.withColumnRenamed("i", "j")), "j")
            .groupBy("i")
            .agg(F.expr("sum(a * wmu) div 1000000").alias("awmu"))
        )
        w = (
            w.join(aw, "i")
            .join(F.broadcast(bbar), "i")
            .select("i", (F.col("wmu") + F.col("bmu") - F.col("awmu")).alias("wmu"))
            # k-bounded (dim rows): materialize so the next step and the
            # final scoring never replay the training lineage.
            .localCheckpoint(eager=True)
        )
    scored = score_with_weights(xm.select("vec_id", "xm", "y"), w).select(
        "vec_id", "y", "score_micro"
    )
    return scored, w


def score_with_weights(xm: DataFrame, w: DataFrame) -> DataFrame:
    """Score a milli-int feature frame (vec_id, xm, ...) against a
    trained (i, wmu) weight frame: score_micro = (Σ xmᵢ·wμᵢ) div 1000.
    The weight frame folds to a single broadcast row, so scoring is one
    narrow codegen map over the input — the shape that lets the SAME
    trained probe score a 100 TB batch corpus and a streaming
    micro-batch (streaming/jobs.stream_probe_score_increment) without
    retraining."""
    warr = w.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "wmu"))), lambda t: t["wmu"]
        ).alias("warr")
    )
    score = F.expr(
        "aggregate(zip_with(xm, warr, (a, b) -> a * b), CAST(0 AS BIGINT), "
        "(acc, v) -> acc + v) div 1000"
    )
    return xm.crossJoin(F.broadcast(warr)).withColumn("score_micro", score).drop(
        "warr"
    )


def save_probe(w: DataFrame, path: str) -> None:
    """Persist trained probe weights — the 64-row (i, wmu) frame — as
    the frozen-model contract every downstream scorer depends on (the
    probe analogue of the IVF-PQ index's frozen codebooks). Replaces any
    saved weights in one commit (``maintenance.swap_in``)."""
    from etl_8million_data__spark.operators.maintenance import swap_in

    with swap_in(path) as tmp:
        w.write.parquet(tmp)


def score_new_vectors(
    new_emb: DataFrame,
    weights_path: str,
    out_path: str,
    batch_tag: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Skip-existing incremental scoring against FROZEN persisted
    weights: vectors whose vec_id already has a stored score drop via a
    column-pruned anti-join; the rest are milli-quantized and scored in
    one narrow map, then appended as (vec_id, score_micro, _batch).
    Returns the number of vectors scored. Replay-idempotent by the same
    argument as the index ingests: a redelivered batch's ids already
    have scores, so the re-append is a natural no-op."""
    from etl_8million_data__spark.operators.bucket_store import append_new

    w = new_emb.sparkSession.read.parquet(weights_path)
    xm = new_emb.select(
        F.col(id_col).alias("vec_id"),
        milli_components(F.col(vec_col)).alias("xm"),
    )
    scored = score_with_weights(xm, w).select(
        "vec_id", "score_micro", F.lit(batch_tag).cast("string").alias("_batch")
    )
    return append_new(scored, out_path, "vec_id")
