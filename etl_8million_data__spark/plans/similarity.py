"""Similarity-search extension queries over the embeddings table.

Every query here carries an exact DuckDB oracle: brute-force kNN via
identical fold-order cosine (operators/similarity.py); TWO inverted-
file ANN variants — signed-random-projection cells with count-adaptive
bit-width, and a learned k-means quantizer whose deterministic training
loop is itself oracle-checked — each with recall gates; SRP-bucketed
near-dup pairs; SemDeDup-style keep-sets; and int8 quantization with
explicit sign*floor(+0.5) rounding so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.operators.similarity import (
    cosine,
    hyperplane_weights,
    knn_bruteforce,
    knn_ivf,
    lsh_candidate_pairs,
)
from etl_8million_data__spark.plans.registry import register

# DuckDB mirror of the fold-order cosine over FLOAT[] columns.
_FOLD = (
    "list_reduce(list_prepend(0.0, list_transform(range(len({a})), "
    "i -> {a}[i+1]::DOUBLE * {b}[i+1]::DOUBLE)), (acc, x) -> acc + x)"
)


def _dot(a: str, b: str) -> str:
    return _FOLD.format(a=a, b=b)


@register(
    "similarity_knn_bruteforce",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, n2 AS qn2
          FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, e.vec_id,
             {_dot('q.qvec', 'e.embedding')} / (sqrt(q.qn2) * sqrt(e.n2)) AS cosine
      FROM q JOIN e ON e.vec_id <> q.query_id)
    SELECT query_id, vec_id, cosine, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
    tags=("similarity", "knn", "extension", "correctness-baseline"),
)
def similarity_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for every 100th vector as query — the
    correctness baseline for ANN. One corpus scan; queries broadcast.
    Size-guarded: scoring is |Q|x|N| = n^2/100, so inputs beyond the
    guard must use similarity_knn_ivf (the recall-gated scale path)."""
    from etl_8million_data__spark.operators.similarity import assert_baseline_scale

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 200_000, "similarity_knn_bruteforce", "similarity_knn_ivf"
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_bruteforce(emb, queries, k=10).select("query_id", "vec_id", "cosine", "rn")


# SRP-LSH parameters. The bit-width (planes per table) is NOT fixed:
# both engines derive it from the corpus count with the same pure-
# integer rule (operators/similarity.adaptive_n_bits ⇔ the _NB_SQL CASE
# chain), so expected bucket size stays ~_TARGET_BUCKET as n grows and
# the candidate volume stays sub-quadratic — the fixed-4-bit quantizer
# was the one quadratic cliff in the 100-TB dedup path. The weight
# matrix is sized for the max width and tables are indexed at the FIXED
# stride _MAX_BITS (plane j of table t is row t*_MAX_BITS + j, on both
# engines), so growing the corpus only APPENDS planes to each table —
# it never changes which hyperplane a given (table, plane) index
# denotes, and persisted buckets stay comparable across corpus growth.
_TABLES = 8
_TARGET_BUCKET = 32
_MIN_BITS, _MAX_BITS = 4, 16
_W = hyperplane_weights(_TABLES * _MAX_BITS, 64)
_W_SQL = "[" + ", ".join("[" + ", ".join(str(x) for x in row) + "]" for row in _W) + "]"

_NPROBE = 3

# count -> bit-width, bit-identical to adaptive_n_bits (integer
# comparisons only; no float log2 whose last-ulp could differ by engine)
_NB_SQL = (
    "CASE "
    + " ".join(
        f"WHEN cnt <= {_TARGET_BUCKET * (1 << b)} THEN {b}"
        for b in range(_MIN_BITS, _MAX_BITS)
    )
    + f" ELSE {_MAX_BITS} END"
)
_PARAMS = f"pr AS (SELECT {_NB_SQL} AS nb FROM (SELECT count(*) AS cnt FROM embeddings))"

# DuckDB mirror of the SRP inverted file: projections -> sign-bit cell
# -> multiprobe (flip the lowest-|projection| bits). Shares the weight
# matrix, fold order, and adaptive bit-width rule with
# operators/similarity, so the *approximate* result is bit-identical
# across engines at any corpus size.
_IVF_CELLS = f"""
    w(W) AS (SELECT {_W_SQL}),
    {_PARAMS},
    e AS (
      SELECT vec_id, embedding,
             {{dot_self}} AS n2
      FROM embeddings),
    pe AS (
      SELECT vec_id, embedding, n2, pr.nb AS nb,
             list_transform(range(pr.nb), j ->
               list_reduce(list_prepend(0.0, list_transform(range(64),
                 i -> W[j+1][i+1] * embedding[i+1]::DOUBLE)), (a, x) -> a + x)
             ) AS projs
      FROM e, w, pr),
    ce AS (
      SELECT vec_id, embedding, n2, nb, projs,
             list_reduce(list_prepend(0, list_transform(range(nb), j ->
               CASE WHEN projs[j+1] > 0 THEN 1 << j ELSE 0 END)), (a, x) -> a + x
             ) AS cell
      FROM pe),
    q AS (
      SELECT vec_id AS query_id, embedding AS qvec, n2 AS qn2, nb, projs AS qprojs,
             cell AS qcell
      FROM ce WHERE vec_id % 100 = 0),
    probes AS (
      SELECT query_id, qvec, qn2,
             unnest(list_prepend(qcell,
               list_transform(
                 list_slice(
                   list_sort(list_transform(range(nb), j ->
                     {{{{'a': abs(qprojs[j+1]), 'j': j}}}})),
                   1, {_NPROBE - 1}),
                 s -> xor(qcell, 1 << struct_extract(s, 'j'))))) AS cell
      FROM q),
    ivf_scored AS (
      SELECT p.query_id, c.vec_id,
             {{dot_qc}} / (sqrt(p.qn2) * sqrt(c.n2)) AS cosine
      FROM probes p JOIN ce c ON c.cell = p.cell AND c.vec_id <> p.query_id),
    ivf AS (
      SELECT query_id, vec_id, cosine, rn
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
            FROM ivf_scored)
      WHERE rn <= 10)
""".format(
    dot_self=_dot("embedding", "embedding"),
    dot_qc=_dot("p.qvec", "c.embedding"),
)


@register(
    "similarity_knn_ivf",
    oracle=f"""
    WITH {_IVF_CELLS}
    SELECT query_id, vec_id, cosine, rn FROM ivf
    """,
    tags=("similarity", "knn", "ivf", "extension", "approx", "scale-path"),
)
def similarity_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over an SRP inverted file: every corpus vector lands in one
    of 2^nb deterministic sign-bit cells (data-driven quantizer — no
    label leakage), each query multiprobes its own cell plus the 2
    lowest-confidence bit-flips, exact cosine only inside the probed
    nprobe/2^nb of the corpus. The bit-width nb is derived from the
    corpus count (adaptive_n_bits — the oracle embeds the identical
    integer rule), so the candidate fraction FALLS as the corpus grows
    instead of saturating at a fixed 16 cells. Deterministic
    end-to-end, so even the approximation is oracle-checked exactly;
    recall vs brute force is the driver-visible
    similarity_knn_ivf_recall query."""
    from etl_8million_data__spark.operators.similarity import adaptive_n_bits

    emb = load_table(spark, sf_dir, "embeddings")
    nb = adaptive_n_bits(emb.count(), _TARGET_BUCKET, _MIN_BITS, _MAX_BITS)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_ivf(emb, queries, _W, k=10, nprobe=_NPROBE, n_bits=nb).select(
        "query_id", "vec_id", "cosine", "rn"
    )


@register(
    "similarity_knn_ivf_recall",
    oracle=f"""
    WITH {_IVF_CELLS},
    bf_scored AS (
      SELECT q.query_id, e2.vec_id,
             {_dot('q.qvec', 'e2.embedding')} / (sqrt(q.qn2) * sqrt(e2.n2)) AS cosine
      FROM q JOIN e e2 ON e2.vec_id <> q.query_id),
    bf AS (
      SELECT query_id, vec_id
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
            FROM bf_scored)
      WHERE rn <= 10)
    SELECT CAST(10 AS BIGINT) AS k,
           CAST(count(DISTINCT bf.query_id) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / (count(DISTINCT bf.query_id) * 10) AS avg_recall
    FROM bf LEFT JOIN ivf ON ivf.query_id = bf.query_id AND ivf.vec_id = bf.vec_id
    """,
    tags=("similarity", "knn", "ivf", "recall", "extension"),
)
def similarity_knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible quality gate for the ANN path: recall@10 of the
    SRP-IVF result against the exact brute-force top-10, computed
    engine-side (one row). Both inputs are deterministic, so the recall
    itself is oracle-checked exactly; tests assert it clears the
    data-realistic floor (near-orthogonal fixture vectors ⇒ recall ~=
    1.6x the 19% candidate fraction)."""
    bf = similarity_knn_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    ivf = similarity_knn_ivf(spark, sf_dir).select(
        F.col("query_id").alias("i_qid"), F.col("vec_id").alias("i_vid")
    )
    joined = bf.join(
        ivf,
        (F.col("query_id") == F.col("i_qid")) & (F.col("vec_id") == F.col("i_vid")),
        "left",
    )
    return joined.agg(
        F.lit(10).cast("bigint").alias("k"),
        F.countDistinct("query_id").alias("n_queries"),
        F.sum(F.when(F.col("i_vid").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
        (
            F.sum(F.when(F.col("i_vid").isNotNull(), 1).otherwise(0)).cast("double")
            / (F.countDistinct("query_id") * 10)
        ).alias("avg_recall"),
    )


@register(
    "similarity_lsh_near_dup_pairs",
    oracle=f"""
    WITH w(W) AS (SELECT {_W_SQL}),
    {_PARAMS},
    e AS (
      SELECT vec_id, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    sig AS (
      SELECT e.vec_id, t.t AS tbl,
             list_reduce(list_prepend(0, list_transform(range(pr.nb), j ->
               CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(64),
                      i -> W[t.t*{_MAX_BITS} + j + 1][i+1] * embedding[i+1]::DOUBLE)),
                      (a, x) -> a + x) > 0
                    THEN 1 << j ELSE 0 END)), (a, x) -> a + x) AS bucket
      FROM e, w, pr, (SELECT unnest(range({_TABLES})) AS t) t),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sig a JOIN sig b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT p.vec_a, p.vec_b,
           {_dot('ea.embedding', 'eb.embedding')} / (sqrt(ea.n2) * sqrt(eb.n2)) AS cosine
    FROM pairs p
    JOIN e ea ON ea.vec_id = p.vec_a
    JOIN e eb ON eb.vec_id = p.vec_b
    WHERE {_dot('ea.embedding', 'eb.embedding')} / (sqrt(ea.n2) * sqrt(eb.n2)) >= 0.4
    """,
    tags=("similarity", "lsh", "dedup", "extension", "scale-path"),
)
def similarity_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs — the sub-quadratic scale
    path for embedding dedup (8 tables × count-adaptive sign buckets;
    only (id, table, bucket) shuffles; cosine verified only for
    candidates). The per-table bit-width grows ~log2(n/target_bucket)
    with the corpus (adaptive_n_bits; the oracle embeds the identical
    integer rule), so candidate volume stays sub-quadratic at any
    scale. Deterministic md5-derived integer hyperplanes keep both
    engines bit-identical. Recall vs the all-pairs form is asserted in
    tests/test_similarity.py."""
    from etl_8million_data__spark.operators.similarity import (
        adaptive_n_bits,
        cosine_arrow,
        norm2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    nb = adaptive_n_bits(emb.count(), _TARGET_BUCKET, _MIN_BITS, _MAX_BITS)
    pairs = lsh_candidate_pairs(
        emb, _W, tables=_TABLES, planes_per_table=nb, stride=_MAX_BITS
    )
    # norms once per VECTOR, not per pair: the per-pair cosine is the
    # dominant cost on dense candidate sets (3x fewer folds; same
    # values — the oracle precomputes n2 identically). The dot itself
    # is the Arrow-vectorized sequential fold (r15, guide §4.2):
    # bit-identical to the interpreted HOF fold, ~25% faster on the
    # 252k-pair verify — see dot_arrow_seqfold.
    e = emb.select("vec_id", "embedding", norm2(F.col("embedding")).alias("n2"))
    ea = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("n2").alias("na")
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("n2").alias("nb")
    )
    out = (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine_arrow(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")).alias(
                "cosine"
            ),
        )
    )
    return out.filter(F.col("cosine") >= 0.4)


@register(
    "similarity_near_dup_embeddings",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_dot('a.embedding', 'b.embedding')} / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_dot('a.embedding', 'b.embedding')} / (sqrt(a.n2) * sqrt(b.n2)) >= 0.4
    """,
    tags=("similarity", "dedup", "extension", "correctness-baseline"),
)
def similarity_near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.4; the
    fixture embeddings are near-orthogonal so 0.4 is the meaningful tail).

    All-pairs here (correctness form); the scale path is the same
    predicate after LSH blocking — similarity_lsh_near_dup_pairs.
    Norms are computed once per vector (not per pair), and the left
    side is spread across cores before the O(n²) join. Size-guarded:
    the plan broadcasts the FULL table and scores n²/2 pairs, so large
    inputs fail fast with a pointer to the LSH twin instead of OOMing
    mid-broadcast."""
    from etl_8million_data__spark.operators.dedup import spread
    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        dot,
        norm2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 20_000, "similarity_near_dup_embeddings", "similarity_lsh_near_dup_pairs"
    )
    e = emb.select("vec_id", "embedding", norm2(F.col("embedding")).alias("n2"))
    a = spread(e, "vec_id").select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("n2").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("n2").alias("nb")
    )
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    out = pairs.select(
        "vec_a",
        "vec_b",
        (dot(F.col("ea"), F.col("eb")) / (F.sqrt("na") * F.sqrt("nb"))).alias("cosine"),
    )
    return out.filter(F.col("cosine") >= 0.4)


@register(
    "embedding_norm_stats_per_label",
    oracle="""
    WITH n AS (
      SELECT label,
             CAST(round(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000)
               AS BIGINT) AS norm_micro
      FROM embeddings)
    SELECT label, count(*) AS n_vectors,
           sum(norm_micro) / (1000000.0 * count(*)) AS avg_norm,
           min(norm_micro) / 1000000.0 AS min_norm,
           max(norm_micro) / 1000000.0 AS max_norm
    FROM n GROUP BY label
    """,
    tags=("similarity", "embedding", "stats", "extension"),
)
def embedding_norm_stats_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding column — the sanity
    gate before any cosine-based dedup/search (un-normalized vectors
    silently break cosine thresholds). Per-row norms are computed in
    one narrow pass, micro-rounded to exact integers so the cross-row
    aggregation is order-insensitive and bit-identical to the oracle
    (the engines' float fold orders differ only below 1e-6)."""
    from etl_8million_data__spark.operators.similarity import norm2

    e = load_table(spark, sf_dir, "embeddings")
    norm_micro = (
        F.round(F.sqrt(norm2(F.col("embedding"))) * 1_000_000).cast("bigint")
    )
    return (
        e.select("label", norm_micro.alias("norm_micro"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum("norm_micro") / (1_000_000.0 * F.count(F.lit(1)))).alias("avg_norm"),
            (F.min("norm_micro") / 1_000_000.0).alias("min_norm"),
            (F.max("norm_micro") / 1_000_000.0).alias("max_norm"),
        )
    )


@register(
    "embedding_int8_quantize",
    oracle="""
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
      FROM embeddings),
    s AS (
      SELECT vec_id, xd,
             list_max(list_transform(xd, v -> abs(v))) AS scale
      FROM x)
    SELECT vec_id, scale,
           CASE WHEN scale > 0 THEN
             array_to_string(list_transform(xd, v ->
               CAST(CAST(sign(v) AS DOUBLE)
                    * floor(abs(v) / scale * 127 + 0.5) AS INTEGER)), ',')
           ELSE array_to_string(list_transform(xd, v -> 0), ',')
           END AS q_csv
    FROM s
    """,
    tags=("similarity", "embedding", "quantization", "extension"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    workhorse of large embedding corpora (4x smaller than float32, and
    int8 dot products are SIMD-friendly downstream). scale = max |x|;
    q_i = sign(x_i) * floor(|x_i|/scale * 127 + 0.5).

    Exactness contract: elements are upcast to double FIRST (float
    upcasts are value-exact), and rounding is the explicit
    sign*floor(+0.5) form — engine round() half-rule differences never
    enter. Pure narrow map stage: no shuffle, scales to any corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    scale = F.array_max(F.transform(xd, lambda v: F.abs(v)))
    staged = emb.select("vec_id", xd.alias("xd"), scale.alias("scale"))
    quant = F.transform(
        F.col("xd"),
        lambda v: (F.signum(v) * F.floor(F.abs(v) / F.col("scale") * 127 + F.lit(0.5)))
        .cast("int")
        .cast("string"),
    )
    zeros = F.transform(F.col("xd"), lambda v: F.lit("0"))
    return staged.select(
        "vec_id",
        "scale",
        F.array_join(F.when(F.col("scale") > 0, quant).otherwise(zeros), ",").alias("q_csv"),
    )


@register(
    "dedup_semantic_keepers",
    oracle=f"""
    WITH w(W) AS (SELECT {_W_SQL}),
    {_PARAMS},
    e AS (
      SELECT vec_id, label, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    sig AS (
      SELECT e.vec_id, t.t AS tbl,
             list_reduce(list_prepend(0, list_transform(range(pr.nb), j ->
               CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(64),
                      i -> W[t.t*{_MAX_BITS} + j + 1][i+1] * embedding[i+1]::DOUBLE)),
                      (a, x) -> a + x) > 0
                    THEN 1 << j ELSE 0 END)), (a, x) -> a + x) AS bucket
      FROM e, w, pr, (SELECT unnest(range({_TABLES})) AS t) t),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sig a JOIN sig b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    dropped AS (
      SELECT DISTINCT p.vec_b AS vec_id
      FROM pairs p
      JOIN e ea ON ea.vec_id = p.vec_a
      JOIN e eb ON eb.vec_id = p.vec_b
      WHERE {_dot('ea.embedding', 'eb.embedding')} / (sqrt(ea.n2) * sqrt(eb.n2)) >= 0.4)
    SELECT e.vec_id, e.label
    FROM e
    WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = e.vec_id)
    """,
    tags=("similarity", "dedup", "semantic", "extension", "scale-path"),
)
def dedup_semantic_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication keep-set (Abbas et al.
    2023): within each SRP-LSH block, a vector is dropped when a
    smaller-id vector sits above the cosine threshold; survivors are
    the training keep-set.  Keep-smallest-id makes the result
    deterministic without any centroid-distance tie-break.

    Scale path: candidate generation is the bucketed SRP join (only
    (id, table, bucket) shuffles — no all-pairs stage anywhere), cosine
    is verified only on candidates (vector norms computed once per
    vector, not per pair), and the final anti join is co-partitioned on
    vec_id.  The fixture embeddings are near-orthogonal, so the 0.4
    threshold is the meaningful tail (as in
    similarity_near_dup_embeddings).  The per-table bit-width is
    count-adaptive (adaptive_n_bits, ~log2(n/target_bucket); identical
    integer rule embedded in the oracle), so buckets keep ~constant
    expected occupancy and the candidate stage stays sub-quadratic as
    the corpus grows — no fixed-cell-count cliff."""
    from etl_8million_data__spark.operators.similarity import (
        adaptive_n_bits,
        cosine_arrow,
        norm2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    nb = adaptive_n_bits(emb.count(), _TARGET_BUCKET, _MIN_BITS, _MAX_BITS)
    pairs = lsh_candidate_pairs(
        emb, _W, tables=_TABLES, planes_per_table=nb, stride=_MAX_BITS
    )
    # norms once per VECTOR (oracle precomputes n2 the same way); the
    # per-pair cosine is the dominant cost on dense candidate sets —
    # computed via the Arrow-vectorized sequential fold (r15, guide
    # §4.2): bit-identical keep set, 1.29 -> 0.98 s best-of-5 on the
    # 252k-pair sf0.1 verify — see dot_arrow_seqfold.
    e = emb.select("vec_id", "embedding", norm2(F.col("embedding")).alias("n2"))
    ea = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("n2").alias("na")
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("n2").alias("nb")
    )
    dropped = (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .filter(cosine_arrow(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")) >= 0.4)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return emb.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


@register(
    "embedding_label_centroids",
    oracle="""
    SELECT label, CAST(u.i AS INTEGER) AS dim,
           count(*) AS n_vectors,
           CAST(sum(CAST(round(embedding[u.i + 1]::DOUBLE * 1000000)
                         AS BIGINT)) AS BIGINT) AS sum_micro,
           CAST(sum(CAST(round(embedding[u.i + 1]::DOUBLE * 1000000)
                         AS BIGINT)) AS DOUBLE)
             / (1000000.0 * count(*)) AS mean
    FROM embeddings, unnest(range(len(embedding))) AS u(i)
    GROUP BY label, u.i
    """,
    tags=("similarity", "embedding", "centroid", "extension"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per
    (label, dimension) — the relational mean-vector computation that
    seeds k-means-style coarse quantizers (the data-driven IVF path)
    and powers per-class drift monitoring.  Components are
    micro-rounded to exact integers before summing, so the
    cross-row aggregation is order-insensitive and bit-identical to
    the oracle.  posexplode -> groupBy(label, dim): map-side partial
    aggregation shrinks the shuffle to |labels| x dims rows."""
    e = load_table(spark, sf_dir, "embeddings")
    micro = F.round(F.col("v").cast("double") * 1_000_000).cast("bigint")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .select("label", F.col("dim").cast("int").alias("dim"), micro.alias("micro"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("micro").cast("bigint").alias("sum_micro"),
            (
                F.sum("micro").cast("double") / (1_000_000.0 * F.count(F.lit(1)))
            ).alias("mean"),
        )
    )


def _km_dist(xref: str, cref: str) -> str:
    return (
        "list_reduce(list_prepend(0.0, list_transform(range(64), "
        f"i -> ({xref}[i+1] - {cref}[i+1] / 1000000.0)"
        f" * ({xref}[i+1] - {cref}[i+1] / 1000000.0))), (a, b) -> a + b)"
    )


def _km_chain(src: str, p: str) -> str:
    """CTE chain training the k=8, 2-round coarse quantizer over
    ``src``(vec_id, x) with CTE names prefixed ``p`` — seeds by md5
    arg_min, micro-int centroids, shared distance fold, dist/j
    tie-breaks. ``{p}a2`` is the final assignment (with vectors);
    ``{p}c1`` the centroids it was made against. DuckDB integer `//`
    truncates toward zero like Spark's `div` — verified on negative
    micro sums. Parametrized so the raw-vector queries
    (similarity_kmeans_cells / knn_ivf_kmeans) and the IVF-PQ residual
    query (cells over unit-normalized vectors) share one verified
    training chain."""
    return f"""
    {p}grid AS (SELECT CAST(unnest(range(8)) AS INT) AS j),
    {p}sh AS (SELECT g.j, x.vec_id,
                  md5(x.vec_id::VARCHAR || '#' || g.j::VARCHAR) AS h
           FROM {src} x, {p}grid g),
    {p}seeds AS (SELECT j, arg_min(vec_id, h) AS vec_id
                 FROM {p}sh GROUP BY j),
    {p}c0 AS (SELECT s.j,
                  list_transform(x.x, v -> CAST(round(v * 1000000) AS BIGINT)) AS cm
           FROM {p}seeds s JOIN {src} x ON x.vec_id = s.vec_id),
    {p}d1 AS (SELECT x.vec_id, x.x, c.j, {_km_dist('x.x', 'c.cm')} AS dist
           FROM {src} x, {p}c0 c),
    {p}a1 AS (SELECT vec_id, x, j, dist FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, j) AS rn
             FROM {p}d1) WHERE rn = 1),
    {p}m1 AS (SELECT a.j, u.i AS dim,
                  sum(CAST(round(a.x[u.i+1] * 1000000) AS BIGINT)) AS s,
                  count(*) AS n
           FROM {p}a1 a, unnest(range(64)) AS u(i)
           GROUP BY a.j, u.i),
    {p}c1 AS (SELECT j, list(s // n ORDER BY dim) AS cm
              FROM {p}m1 GROUP BY j),
    {p}d2 AS (SELECT x.vec_id, x.x, c.j, {_km_dist('x.x', 'c.cm')} AS dist
           FROM {src} x, {p}c1 c),
    {p}a2 AS (SELECT vec_id, x, j, dist FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, j) AS rn
             FROM {p}d2) WHERE rn = 1)
"""


# Shared raw-vector k-means chain: unprefixed names (grid, c1, a2…)
# exactly as the pre-parametrization text, so the two existing
# consumers' oracles are unchanged.
_KM_CTES = (
    """
    x AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings),"""
    + _km_chain("x", "")
)


@register(
    "similarity_kmeans_cells",
    oracle=f"""
    WITH {_KM_CTES}
    SELECT vec_id, CAST(j AS INT) AS cell,
           CAST(floor(dist * 1000000) AS BIGINT) AS dist_micro
    FROM a2
    """,
    tags=("similarity", "kmeans", "ivf", "extension", "scale-path"),
)
def similarity_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned coarse quantizer (operators/similarity.kmeans_cells):
    deterministic k-means with k=8, 2 assignment rounds — the
    data-driven IVF cells that adapt to corpus density where the SRP
    cells cannot (SRP hyperplanes are data-independent). md5-picked
    seeds, micro-integer centroids (order-insensitive means), shared
    distance folds, distance/id tie-breaks: the whole training loop is
    bit-reproducible, so even the ITERATIVE quantizer is hash-checked
    against DuckDB. Per round: broadcast k centroid arrays, one narrow
    argmin pass, one (cell, dim) aggregate — no all-pairs stage."""
    from etl_8million_data__spark.operators.similarity import kmeans_cells

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_cells(emb, k=8, iters=2)


@register(
    "similarity_knn_ivf_kmeans",
    oracle=f"""
    WITH {_KM_CTES},
    cor AS (SELECT a2.vec_id, a2.j AS cell, a2.x,
                   {_dot('a2.x', 'a2.x')} AS n2
            FROM a2),
    cq AS (SELECT c1.j AS cell,
                  list_transform(c1.cm, m -> m / 1000000.0) AS c
           FROM c1),
    q AS (SELECT vec_id AS query_id, x AS qx, n2 AS qn2
          FROM cor WHERE vec_id % 100 = 0),
    qd AS (SELECT q.query_id, q.qx, q.qn2, cq.cell,
                  list_reduce(list_prepend(0.0, list_transform(range(64),
                    i -> (q.qx[i+1] - cq.c[i+1]) * (q.qx[i+1] - cq.c[i+1]))),
                    (a, b) -> a + b) AS qd
           FROM q, cq),
    probes AS (SELECT query_id, qx, qn2, cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                                              ORDER BY qd, cell) AS rn
                 FROM qd) WHERE rn <= 2),
    scored AS (SELECT p.query_id, cor.vec_id,
                      {_dot('p.qx', 'cor.x')} / (sqrt(p.qn2) * sqrt(cor.n2))
                        AS cosine
               FROM probes p JOIN cor
                 ON cor.cell = p.cell AND cor.vec_id <> p.query_id)
    SELECT query_id, vec_id, cosine, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
    tags=("similarity", "knn", "ivf", "kmeans", "extension", "approx", "scale-path"),
)
def similarity_knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the LEARNED inverted file: the k-means cells
    (similarity_kmeans_cells) replace the data-independent SRP cells —
    on clustered real-world embeddings density-adapted cells cut the
    candidate set where fixed hyperplanes cannot. Each query routes to
    its 2 nearest centroids; exact cosine runs only inside those
    cells. The whole path (training loop included) is deterministic,
    so the approximate result is hash-checked against DuckDB; recall
    vs brute force is asserted in tests/test_similarity.py."""
    from etl_8million_data__spark.operators.similarity import knn_ivf_kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_ivf_kmeans(emb, k_cells=8, iters=2, k=10, nprobe=2).select(
        "query_id", "vec_id", "cosine", "rn"
    )


_Q8 = """
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd,
             list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS scale
      FROM embeddings
"""

_IDOT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(64), "
    "i -> CAST({a}[i+1] AS BIGINT) * CAST({b}[i+1] AS BIGINT))), (x, y) -> x + y)"
)


@register(
    "similarity_knn_int8",
    oracle=f"""
    WITH w(W) AS (SELECT {_W_SQL}),
    {_PARAMS},
    s AS ({_Q8}),
    q8 AS (
      SELECT vec_id, xd,
             list_transform(xd, v ->
               CAST(CAST(sign(v) AS DOUBLE)
                    * floor(abs(v) / scale * 127 + 0.5) AS INTEGER)) AS q
      FROM s WHERE scale > 0),
    pe AS (
      SELECT vec_id, q, pr.nb AS nb,
             list_transform(range(pr.nb), j ->
               list_reduce(list_prepend(0.0, list_transform(range(64),
                 i -> W[j+1][i+1] * xd[i+1])), (a, x) -> a + x)
             ) AS projs
      FROM q8, w, pr),
    ce AS (
      SELECT vec_id, q, {_IDOT.format(a='q', b='q')} AS nq, nb, projs,
             list_reduce(list_prepend(0, list_transform(range(nb), j ->
               CASE WHEN projs[j+1] > 0 THEN 1 << j ELSE 0 END)), (a, x) -> a + x
             ) AS cell
      FROM pe),
    qs AS (
      SELECT vec_id AS query_id, q AS qq, nq AS qnq, nb,
             projs AS qprojs, cell AS qcell
      FROM ce WHERE vec_id % 100 = 0),
    probes AS (
      SELECT query_id, qq, qnq,
             unnest(list_prepend(qcell,
               list_transform(
                 list_slice(
                   list_sort(list_transform(range(nb), j ->
                     {{'a': abs(qprojs[j+1]), 'j': j}})),
                   1, {_NPROBE - 1}),
                 s -> xor(qcell, 1 << struct_extract(s, 'j'))))) AS cell
      FROM qs),
    scored AS (
      SELECT p.query_id, c.vec_id,
             CAST({_IDOT.format(a='p.qq', b='c.q')} AS DOUBLE)
               / (sqrt(CAST(p.qnq AS DOUBLE)) * sqrt(CAST(c.nq AS DOUBLE)))
               AS q_cosine
      FROM probes p JOIN ce c ON c.cell = p.cell AND c.vec_id <> p.query_id)
    SELECT query_id, vec_id, q_cosine, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY q_cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
    tags=("similarity", "knn", "quantization", "int8", "ivf", "extension", "scale-path"),
)
def similarity_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN over int8-QUANTIZED vectors, ROUTED through the SRP inverted
    file — the production ANN composition: the coarse quantizer (sign-
    bit cells over the float vector, count-adaptive bit-width) picks
    nprobe cells per query, and only inside those cells are the
    bandwidth-efficient int8 scores computed (4x smaller vectors,
    SIMD-able integer dot products downstream; per-vector scales cancel
    in the cosine, so ranking needs only integer dots and integer
    norms). Every score is exact integer arithmetic until one final
    division of exact values, and the routing is deterministic, so the
    whole approximate result is oracle-checked bit-for-bit.
    Quantization noise vs the float-scored IVF top-10 is gated by a
    recall test (same routing on both sides isolates the int8 effect).
    Scale shape: cell assignment is a narrow map over one corpus scan,
    candidates are cut to ~nprobe/2^nb of the corpus, and the
    probe-to-cell join is a plain equi-join — NO broadcast of the
    corpus-growing query side (AQE picks the strategy), so there is no
    driver/executor memory cliff as |Q| grows with the corpus."""
    from etl_8million_data__spark.operators.similarity import (
        adaptive_n_bits,
        projections,
        srp_cell,
        srp_probe_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    nb = adaptive_n_bits(emb.count(), _TARGET_BUCKET, _MIN_BITS, _MAX_BITS)
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    scale = F.array_max(F.transform(xd, lambda v: F.abs(v)))
    s = emb.select("vec_id", xd.alias("xd"), scale.alias("scale")).filter(
        F.col("scale") > 0
    )
    q = F.transform(
        F.col("xd"),
        lambda v: (
            F.signum(v) * F.floor(F.abs(v) / F.col("scale") * 127 + F.lit(0.5))
        ).cast("int"),
    )
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    # one narrow map: quantized vector, integer norm, SRP projections
    # (routing happens on the FLOAT vector — quantization noise must
    # not move a vector across a cell boundary relative to the float
    # IVF, or the recall comparison would conflate routing and scoring)
    pe = s.select("vec_id", q.alias("q"), projections(F.col("xd"), _W, nb).alias("projs"))
    ce = pe.select(
        "vec_id",
        "q",
        idot(F.col("q"), F.col("q")).alias("nq"),
        srp_cell(F.col("projs"), nb).alias("cell"),
        "projs",
    )
    probes = (
        ce.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("nq").alias("qnq"),
            F.explode(srp_probe_cells(F.col("projs"), nb, _NPROBE)).alias("cell"),
        )
    )
    scored = (
        ce.drop("projs")
        .join(probes, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                idot(F.col("qq"), F.col("q")).cast("double")
                / (
                    F.sqrt(F.col("qnq").cast("double"))
                    * F.sqrt(F.col("nq").cast("double"))
                )
            ).alias("q_cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("q_cosine").desc(), "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


@register(
    "similarity_knn_label_filtered",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qvec,
                 n2 AS qn2
          FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, q.qlabel, e.vec_id,
             {_dot('q.qvec', 'e.embedding')} / (sqrt(q.qn2) * sqrt(e.n2))
               AS cosine
      FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.query_id)
    SELECT query_id, qlabel AS label, vec_id, cosine, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    tags=("similarity", "knn", "filtered", "extension", "correctness-baseline"),
)
def similarity_knn_label_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — metadata-constrained kNN, the query
    shape every production vector store must serve ("nearest neighbors
    WHERE label = X"): exact cosine top-5 for every 100th vector among
    corpus vectors OF THE QUERY'S OWN LABEL.  Expressed as a LABEL
    EQUI-JOIN carrying the scoring expression, the filter composes
    with the join instead of post-filtering a global top-k (which
    silently under-fills k when the filter is selective — the classic
    filtered-ANN failure mode).  Shape at scale: the join co-partitions
    both sides by label, so each label's scoring block is
    |Q_label| x |N_label| — for selective filters this beats global
    ANN + post-filter outright; for broad filters route through the
    IVF cells per label partition.  Size-guarded like every exact
    baseline."""
    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        cosine,
        norm2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 200_000, "similarity_knn_label_filtered",
        "per-label-partition knn_ivf",
    )
    e = emb.select(
        "vec_id", "label", "embedding", norm2(F.col("embedding")).alias("n2")
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
    )
    from pyspark.sql import Window

    scored = (
        e.join(q, (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            "qlabel",
            "vec_id",
            cosine(
                F.col("qvec"), F.col("embedding"), F.col("qn2"), F.col("n2")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", F.col("qlabel").alias("label"), "vec_id", "cosine", "rn")
    )


def _power_iter_chain(src: str, pfx: str, iters: int = 3) -> list[str]:
    """CTE parts for one power-iteration chain over source CTE ``src``
    (which must expose a double-array column ``x``), with CTE names
    prefixed ``pfx`` so two chains can coexist (the deflation oracle).
    Mirrors operators/similarity.power_iteration_top_component exactly:
    per-row floor-to-integer contributions, per-dim integer sums,
    truncating integer renormalization."""
    parts = [
        f"{pfx}v0(vm) AS (SELECT list_transform(range(64), "
        "j -> CAST(1000000 AS BIGINT)))",
    ]
    for it in range(1, iters + 1):
        prev = f"{pfx}v{it - 1}"
        parts.append(f"""{pfx}d{it} AS (
      SELECT x,
             list_reduce(list_prepend(0.0, list_transform(range(64),
               j -> x[j+1] * ({prev}.vm[j+1] / 1000000.0))), (a, b) -> a + b) AS dot
      FROM {src}, {prev})""")
        parts.append(f"""{pfx}s{it} AS (
      SELECT u.j AS dim,
             CAST(sum(CAST(floor(x[u.j+1] * dot) AS BIGINT)) AS BIGINT) AS s
      FROM {pfx}d{it}, unnest(range(64)) AS u(j) GROUP BY 1)""")
        parts.append(
            f"{pfx}m{it} AS (SELECT greatest(max(abs(s)), 1) AS mx FROM {pfx}s{it})"
        )
        parts.append(
            f"{pfx}v{it}(vm) AS (SELECT list((s * 1000000) // mx ORDER BY dim) "
            f"FROM {pfx}s{it}, {pfx}m{it})"
        )
    return parts


def _power_iter_oracle(iters: int = 3) -> str:
    parts = [
        "e AS (SELECT list_transform(embedding, v -> v::DOUBLE) AS x FROM embeddings)",
    ] + _power_iter_chain("e", "", iters)
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT CAST(u.j AS INT) AS dim, v{iters}.vm[u.j+1] AS v_micro
    FROM v{iters}, unnest(range(64)) AS u(j)
    """
    )


@register(
    "embedding_top_component",
    oracle=_power_iter_oracle(3),
    tags=("similarity", "embedding", "spectral", "iterative", "extension"),
)
def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant Gram-matrix eigenvector of the embedding corpus by 3
    power iterations in exact integer fixed-point (see
    operators/similarity.power_iteration_top_component) — the spectral
    complement of the k-means quantizer: PCA first component for
    whitening / anisotropy diagnosis / 1-bit spectral hashing of an
    embedding column. The entire iterative result — not a summary of
    it — hash-matches the DuckDB replay, like the k-means, PageRank
    and connected-components loops."""
    from etl_8million_data__spark.operators.similarity import (
        power_iteration_top_component,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_top_component(emb, iters=3)


@register(
    "similarity_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qvec,
                 n2 AS qn2
          FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, q.qlabel, e.vec_id, e.label AS neg_label,
             {_dot('q.qvec', 'e.embedding')} / (sqrt(q.qn2) * sqrt(e.n2))
               AS cosine
      FROM q JOIN e ON e.label <> q.qlabel)
    SELECT query_id, qlabel, vec_id, neg_label, cosine, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    tags=("similarity", "knn", "negatives", "training-data", "extension",
          "correctness-baseline"),
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING — the contrastive-training data op: for
    every 100th vector as anchor, the top-5 most-similar corpus
    vectors whose label DIFFERS (cosine-nearest wrong-label examples —
    the negatives that actually move an embedding model, vs easy
    random ones).  The label constraint is an INEQUALITY, so unlike
    similarity_knn_label_filtered it cannot be an equi-join; the
    correct formulation still ranks AFTER the label filter (top-k of
    the filtered set — post-filtering a global top-k under-fills k
    whenever the anchor's own label dominates its neighborhood).
    Scale path: with |labels| small, run one equi-joined scoring block
    per (anchor-label, other-label) pair routed through the IVF cells,
    then merge ranks — the composition similarity_knn_ivf already
    provides per block; here the guarded exact baseline keeps the
    oracle-checkable definition."""
    from pyspark.sql import Window

    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        cosine,
        norm2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 200_000, "similarity_hard_negatives",
        "per-label-pair knn_ivf blocks, rank-merged",
    )
    e = emb.select(
        "vec_id", "label", "embedding", norm2(F.col("embedding")).alias("n2")
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
    )
    scored = e.join(q, F.col("label") != F.col("qlabel")).select(
        "query_id",
        "qlabel",
        "vec_id",
        F.col("label").alias("neg_label"),
        cosine(
            F.col("qvec"), F.col("embedding"), F.col("qn2"), F.col("n2")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "qlabel", "vec_id", "neg_label", "cosine", "rn")
    )


_FILTERED_IVF_CELLS = f"""
    w(W) AS (SELECT {_W_SQL}),
    {_PARAMS},
    e AS (
      SELECT vec_id, label, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    pe AS (
      SELECT vec_id, label, embedding, n2, pr.nb AS nb,
             list_transform(range(pr.nb), j ->
               list_reduce(list_prepend(0.0, list_transform(range(64),
                 i -> W[j+1][i+1] * embedding[i+1]::DOUBLE)), (a, x) -> a + x)
             ) AS projs
      FROM e, w, pr),
    ce AS (
      SELECT vec_id, label, embedding, n2, nb, projs,
             list_reduce(list_prepend(0, list_transform(range(nb), j ->
               CASE WHEN projs[j+1] > 0 THEN 1 << j ELSE 0 END)), (a, x) -> a + x
             ) AS cell
      FROM pe),
    q AS (
      SELECT vec_id AS query_id, label AS qlabel, embedding AS qvec, n2 AS qn2,
             nb, projs AS qprojs, cell AS qcell
      FROM ce WHERE vec_id % 100 = 0),
    probes AS (
      SELECT query_id, qlabel, qvec, qn2,
             unnest(list_prepend(qcell,
               list_transform(
                 list_slice(
                   list_sort(list_transform(range(nb), j ->
                     {{'a': abs(qprojs[j+1]), 'j': j}})),
                   1, {_NPROBE - 1}),
                 s -> xor(qcell, 1 << struct_extract(s, 'j'))))) AS cell
      FROM q),
    f_scored AS (
      SELECT p.query_id, p.qlabel, c.vec_id,
             {_dot('p.qvec', 'c.embedding')} / (sqrt(p.qn2) * sqrt(c.n2)) AS cosine
      FROM probes p JOIN ce c
        ON c.cell = p.cell AND c.label = p.qlabel AND c.vec_id <> p.query_id)
"""


@register(
    "similarity_knn_label_filtered_ivf",
    oracle=f"""
    WITH {_FILTERED_IVF_CELLS}
    SELECT query_id, qlabel AS label, vec_id, cosine, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM f_scored)
    WHERE rn <= 5
    """,
    tags=("similarity", "knn", "filtered", "ivf", "extension", "scale-path"),
)
def similarity_knn_label_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — the executable scale twin
    similarity_knn_label_filtered's size guard points at: the label
    constraint becomes part of the inverted file's ROUTING KEY
    (knn_ivf by_cols=["label"]), so each probe equi-joins on
    (label, cell) and scans only the probed cells OF THE QUERY'S OWN
    LABEL — every candidate already satisfies the filter, so k fills
    as far as the probed cells allow (vs global-ANN-then-post-filter,
    which discards most of its k to the filter first and then
    under-fills much harder; raise nprobe for sparse labels). Same deterministic
    SRP machinery as similarity_knn_ivf (shared weights, count-adaptive
    bit-width), so the whole approximate result is oracle-checked
    exactly."""
    from etl_8million_data__spark.operators.similarity import adaptive_n_bits

    emb = load_table(spark, sf_dir, "embeddings")
    nb = adaptive_n_bits(emb.count(), _TARGET_BUCKET, _MIN_BITS, _MAX_BITS)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        "label",
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return knn_ivf(
        emb, queries, _W, k=5, nprobe=_NPROBE, n_bits=nb, by_cols=["label"]
    ).select("query_id", "label", "vec_id", "cosine", "rn")


_OUT_DIST = (
    "list_reduce(list_prepend(0.0, list_transform(range(64), "
    "i -> (e.embedding[i+1]::DOUBLE - cent.c[i+1] / 1000000.0)"
    " * (e.embedding[i+1]::DOUBLE - cent.c[i+1] / 1000000.0))), (a, b) -> a + b)"
)


@register(
    "embedding_label_outliers",
    oracle=f"""
    WITH m AS (
      SELECT label, CAST(u.i AS INT) AS dim,
             CAST(sum(CAST(round(embedding[u.i + 1]::DOUBLE * 1000000)
                           AS BIGINT)) AS BIGINT) // count(*) AS cm
      FROM embeddings, unnest(range(len(embedding))) AS u(i)
      GROUP BY 1, 2),
    cent AS (SELECT label, list(cm ORDER BY dim) AS c FROM m GROUP BY label),
    d AS (
      SELECT e.vec_id, e.label,
             CAST(floor(1000000 * {_OUT_DIST}) AS BIGINT) AS dist_micro
      FROM embeddings e JOIN cent ON cent.label = e.label),
    med AS (
      SELECT label, list(dist_micro ORDER BY dist_micro) AS ds
      FROM d GROUP BY label),
    msel AS (
      SELECT label, ds[(len(ds) - 1) // 2 + 1] AS label_median_micro
      FROM med)
    SELECT vec_id, label, dist_micro, label_median_micro, rn
    FROM (
      SELECT d.vec_id, d.label, d.dist_micro, m.label_median_micro,
             row_number() OVER (
               PARTITION BY d.label
               ORDER BY d.dist_micro DESC, d.vec_id) AS rn
      FROM d JOIN msel m ON m.label = d.label)
    WHERE rn <= 5
    """,
    tags=("similarity", "embedding", "label-noise", "curation", "extension"),
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-NOISE detection for training data — vectors suspiciously
    far from their own label's centroid: squared distance to the
    integer-micro centroid (truncating per-dim mean, shared double
    fold) floored to integer micro per vector, compared against the
    label's DISCRETE median distance (explicit integer rank from the
    sorted per-label array — the winsorized/interarrival discipline),
    surfacing each label's TOP-5 most distant vectors under a
    (dist DESC, vec_id) total order, with the label median carried for
    context — a rank-based review worklist rather than a threshold,
    because what counts as 'far' is distribution-dependent (the
    fixtures' near-orthogonal vectors concentrate within ~12% of the
    median; real clustered embeddings spread much wider). The
    flagged set is what a curator reviews for mislabeled or corrupted
    examples before the label feeds a classifier or filtered ANN.
    Shapes: one posexplode aggregate to |labels| x dims, centroids
    broadcast back, one label-keyed median aggregate — per-label
    arrays, never data-sized."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    micro = F.round(F.col("v").cast("double") * 1_000_000).cast("bigint")
    m = (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .select("label", "dim", micro.alias("micro"))
        .groupBy("label", "dim")
        .agg(F.expr("sum(micro) div count(1)").alias("cm"))
    )
    cent = m.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cm"))), lambda s: s["cm"]
        ).alias("c")
    )
    dist = F.aggregate(
        F.zip_with(
            "embedding",
            "c",
            lambda x, cm: (x.cast("double") - cm / 1_000_000.0)
            * (x.cast("double") - cm / 1_000_000.0),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    d = (
        e.join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            F.floor(dist * 1_000_000).cast("bigint").alias("dist_micro"),
        )
        .localCheckpoint(eager=True)
    )
    med = d.groupBy("label").agg(
        F.array_sort(F.collect_list("dist_micro")).alias("ds")
    )
    n = F.size("ds")
    msel = med.select(
        "label",
        F.element_at("ds", ((n - 1) / 2).cast("int") + 1).alias(
            "label_median_micro"
        ),
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist_micro"), F.asc("vec_id"))
    return (
        d.join(F.broadcast(msel), "label")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("vec_id", "label", "dist_micro", "label_median_micro", "rn")
    )


@register(
    "similarity_margin_mining",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding, {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    s AS (SELECT vec_id AS src_id, embedding AS sx, n2 AS sn2
          FROM e WHERE vec_id % 2 = 0),
    t AS (SELECT vec_id AS tgt_id, embedding AS tx, n2 AS tn2
          FROM e WHERE vec_id % 2 = 1),
    sc AS (
      SELECT s.src_id, t.tgt_id,
             CAST(floor({_dot('s.sx', 't.tx')}
                        / (sqrt(s.sn2) * sqrt(t.tn2)) * 1000000) AS BIGINT)
               AS cos_micro
      FROM s, t),
    rx AS (SELECT src_id, CAST(sum(cos_micro) AS BIGINT) AS rx_sum
           FROM (SELECT src_id, cos_micro, row_number() OVER (
                   PARTITION BY src_id ORDER BY cos_micro DESC, tgt_id) AS rn
                 FROM sc) WHERE rn <= 4 GROUP BY src_id),
    ry AS (SELECT tgt_id, CAST(sum(cos_micro) AS BIGINT) AS ry_sum
           FROM (SELECT tgt_id, cos_micro, row_number() OVER (
                   PARTITION BY tgt_id ORDER BY cos_micro DESC, src_id) AS rn
                 FROM sc) WHERE rn <= 4 GROUP BY tgt_id),
    m AS (SELECT sc.src_id, sc.tgt_id, sc.cos_micro,
                 8 * sc.cos_micro - rx.rx_sum - ry.ry_sum AS margin_scaled
          FROM sc JOIN rx USING (src_id) JOIN ry USING (tgt_id))
    SELECT src_id, tgt_id, cos_micro, margin_scaled
    FROM m ORDER BY margin_scaled DESC, src_id, tgt_id LIMIT 25
    """,
    tags=("similarity", "mining", "bitext", "extension", "correctness-baseline"),
)
def similarity_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based pair mining (the CSLS / LASER bitext-mining
    criterion, Artetxe & Schwenk 2019): score every (source, target)
    pair by 2k*cos(x,y) minus the summed top-k cosine neighborhoods of
    BOTH endpoints (k=4), so hub vectors that are close to everything
    are penalized and only mutually-exceptional pairs surface — the
    aligned-pair miner for parallel/paired training data. Even vec_ids
    play source, odd play target.

    Exactness: cosines are floored to integer micro BEFORE any
    aggregation (float fold order never reaches a cross-row sum);
    neighborhoods are sums of exactly-k bigints chosen by a total-order
    window (cos_micro DESC, id); the margin 8*c - rx - ry is pure
    bigint. Top-25 by (margin, src, tgt) total order.

    Scale shape: the all-pairs scoring stage is the size-guarded exact
    baseline (same guard as similarity_knn_bruteforce); at 100 TB both
    neighborhood lists and the candidate pairs come from the recall-
    gated IVF path (similarity_knn_ivf / knn_ivf_kmeans) and only the
    margin re-rank runs exactly — the plan downstream of `sc` is
    unchanged. The two windows are partitioned per endpoint; the final
    top-k is TakeOrderedAndProject, never a global window."""
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        dot_arrow_seqfold,
        norm2,
    )

    # Tighter guard than the streaming bruteforce baseline (200k): the
    # scored frame below is persisted for 3-way reuse, so its O(n^2)
    # rows are a STORAGE footprint, not just a stream — 50k vectors
    # (~2.5e9 scored rows) is the honest ceiling for a spill-backed
    # exact baseline.
    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb,
        50_000,
        "similarity_margin_mining",
        "similarity_knn_ivf neighborhoods + cell-joined margin re-rank",
    )
    e = emb.select(
        "vec_id",
        F.col("embedding").alias("x"),
        norm2(F.col("embedding")).alias("n2"),
    )
    s = e.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("src_id"), F.col("x").alias("sx"), F.col("n2").alias("sn2")
    )
    t = e.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"), F.col("x").alias("tx"), F.col("n2").alias("tn2")
    )
    sc = (
        s.join(t, F.col("src_id") != F.col("tgt_id"))
        .select(
            "src_id",
            "tgt_id",
            # Arrow-vectorized sequential fold (r15, guide §4.2): the
            # 1M-pair scoring pass was the interpreted HOF dot; the
            # batch fold replays the identical operation order, so
            # cos_micro is bit-identical — see dot_arrow_seqfold.
            F.floor(
                dot_arrow_seqfold(F.col("sx"), F.col("tx"))
                / (F.sqrt("sn2") * F.sqrt("tn2"))
                * 1_000_000
            )
            .cast("bigint")
            .alias("cos_micro"),
        )
        # The scored frame is consumed 3x (both neighborhood windows +
        # the margin join) — mark it reusable, but NOT localCheckpoint:
        # this frame is O(|S|*|T|) (unlike the k-bounded centroid
        # checkpoints elsewhere), and an eager checkpoint would force
        # the full quadratic row set onto executor local disk up-front.
        # MEMORY_AND_DISK persists lazily and spills per-partition, so
        # the footprint is bounded by what actually fits.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wx = Window.partitionBy("src_id").orderBy(F.desc("cos_micro"), F.asc("tgt_id"))
    rx = (
        sc.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") <= 4)
        .groupBy("src_id")
        .agg(F.sum("cos_micro").alias("rx_sum"))
    )
    wy = Window.partitionBy("tgt_id").orderBy(F.desc("cos_micro"), F.asc("src_id"))
    ry = (
        sc.withColumn("rn", F.row_number().over(wy))
        .filter(F.col("rn") <= 4)
        .groupBy("tgt_id")
        .agg(F.sum("cos_micro").alias("ry_sum"))
    )
    return (
        sc.join(rx, "src_id")
        .join(ry, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "cos_micro",
            (8 * F.col("cos_micro") - F.col("rx_sum") - F.col("ry_sum")).alias(
                "margin_scaled"
            ),
        )
        .orderBy(F.desc("margin_scaled"), F.asc("src_id"), F.asc("tgt_id"))
        .limit(25)
    )


def _unit_normalized(emb: DataFrame) -> DataFrame:
    """Project embeddings onto the unit sphere (double precision, same
    fold as the cosine helpers) so PQ's L2 codebooks rank exactly like
    the cosine baselines: ||a-b||^2 = 2 - 2cos(a,b) on the sphere."""
    from etl_8million_data__spark.operators.similarity import norm2

    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: v.cast("double") / F.sqrt(norm2(F.col("embedding"))),
        ).alias("embedding"),
    )


def _pq_dist(xref: str, cref: str) -> str:
    """4-dim subspace distance fold against micro-int centroids —
    the per-subspace mirror of _km_dist."""
    return (
        "list_reduce(list_prepend(0.0, list_transform(range(4), "
        f"i -> ({xref}[i+1] - {cref}[i+1] / 1000000.0)"
        f" * ({xref}[i+1] - {cref}[i+1] / 1000000.0))), (a, b) -> a + b)"
    )


def _pq_chain(src: str, p: str) -> str:
    """CTE chain training the 16x16 PQ codebook over ``src``(vec_id, xd)
    with CTE names prefixed ``p`` — the per-subspace mirror of _KM_CTES
    as one relational Lloyd loop keyed by (sub, j), 2 assignment
    rounds. ``{p}a2`` is the final (vec_id, sub, sx, j, dist) code
    assignment; ``{p}c1`` the micro-int codebook it was made against.
    Parametrized so the flat PQ queries (src = normalized vectors) and
    the IVF-PQ residual query (src = per-cell residuals) share one
    verified training chain."""
    return f"""
    {p}sub AS (SELECT CAST(unnest(range(16)) AS INT) AS sub),
    {p}grid AS (SELECT CAST(unnest(range(16)) AS INT) AS j),
    {p}xs AS (SELECT {src}.vec_id, {p}sub.sub,
                   list_slice({src}.xd, {p}sub.sub * 4 + 1,
                              {p}sub.sub * 4 + 4) AS sx
            FROM {src}, {p}sub),
    {p}sh AS (SELECT s.sub, g.j, x.vec_id,
                   md5(x.vec_id::VARCHAR || '#' || s.sub::VARCHAR
                       || '#' || g.j::VARCHAR) AS h
            FROM {src} x, {p}sub s, {p}grid g),
    {p}seeds AS (SELECT sub, j, arg_min(vec_id, h) AS vec_id
               FROM {p}sh GROUP BY sub, j),
    {p}c0 AS (SELECT s.sub, s.j,
                   list_transform(xs.sx,
                                  v -> CAST(round(v * 1000000) AS BIGINT)) AS cm
            FROM {p}seeds s
            JOIN {p}xs xs ON xs.vec_id = s.vec_id AND xs.sub = s.sub),
    {p}d1 AS (SELECT xs.vec_id, xs.sub, xs.sx, c.j,
                   {_pq_dist('xs.sx', 'c.cm')} AS dist
            FROM {p}xs xs JOIN {p}c0 c ON c.sub = xs.sub),
    {p}a1 AS (SELECT vec_id, sub, sx, j, dist FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                           ORDER BY dist, j) AS rn
              FROM {p}d1) WHERE rn = 1),
    {p}m1 AS (SELECT a.sub, a.j, u.i AS dim,
                   sum(CAST(round(a.sx[u.i+1] * 1000000) AS BIGINT)) AS s,
                   count(*) AS n
            FROM {p}a1 a, unnest(range(4)) AS u(i)
            GROUP BY a.sub, a.j, u.i),
    {p}c1 AS (SELECT sub, j, list(s // n ORDER BY dim) AS cm
            FROM {p}m1 GROUP BY sub, j),
    {p}d2 AS (SELECT xs.vec_id, xs.sub, xs.sx, c.j,
                   {_pq_dist('xs.sx', 'c.cm')} AS dist
            FROM {p}xs xs JOIN {p}c1 c ON c.sub = xs.sub),
    {p}a2 AS (SELECT vec_id, sub, sx, j, dist FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                           ORDER BY dist, j) AS rn
              FROM {p}d2) WHERE rn = 1)
"""


# Flat PQ over unit-normalized vectors (m=16 subspaces x ksub=16 codes).
_PQ_CTES = (
    f"""
    px AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(v AS DOUBLE)
                    / sqrt({_dot('embedding', 'embedding')})) AS xd
      FROM embeddings),"""
    + _pq_chain("px", "p")
)


@register(
    "similarity_pq_codes",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT vec_id,
           array_to_string(list(j ORDER BY sub), ',') AS codes_csv,
           CAST(sum(CASE
                 WHEN sub < 15 THEN CAST(j AS BIGINT)
                                    * (CAST(1 AS BIGINT) << (4 * sub))
                 WHEN j >= 8 THEN -9223372036854775808
                                  + CAST(j - 8 AS BIGINT) * 1152921504606846976
                 ELSE CAST(j AS BIGINT) * 1152921504606846976
               END) AS BIGINT) AS codes_packed,
           CAST(sum(CAST(floor(dist * 1000000) AS BIGINT)) AS BIGINT)
             AS recon_micro
    FROM pa2 GROUP BY vec_id
    """,
    tags=("similarity", "pq", "quantization", "extension", "scale-path"),
)
def similarity_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization encoder (Jegou et al. 2011): every vector
    compressed to 16 4-bit codes (8 bytes packed vs 256 raw) — the 32x
    compression that makes billion-vector similarity search hold in
    cluster memory. The per-subspace Lloyd training loop follows the
    same determinism discipline as similarity_kmeans_cells (md5 seeds,
    micro-int centroids, div-truncation parity, (dist, j) tie-breaks),
    so the TRAINED codes and the summed micro reconstruction error are
    hash-checked against DuckDB — the quantizer itself is the verified
    artifact, not just its downstream search. recon_micro is floored
    per (vec_id, sub) BEFORE the sum so float fold order never reaches
    a cross-row aggregate.

    Vectors are unit-normalized before encoding so the quantizer's L2
    geometry is exactly the cosine geometry the rest of the similarity
    family ranks by (||a-b||^2 = 2 - 2cos on the sphere).

    codes_packed is the STORED form (operators/similarity.pack_pq_codes):
    all 16 4-bit codes bit-packed into one bigint — 8 bytes per vector,
    the 32x compression made material, and hash-checked in BOTH engines
    (the oracle reproduces Spark's two's-complement wrap of the top
    nibble in offset form, since DuckDB's << overflow-checks)."""
    from etl_8million_data__spark.operators.similarity import pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    assign, _ = pq_fit(_unit_normalized(emb), m=16, ksub=16, iters=2)
    return assign.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "j"))),
                lambda t: t["j"].cast("string"),
            ),
            ",",
        ).alias("codes_csv"),
        F.expr("bit_or(shiftleft(CAST(j AS BIGINT), 4 * sub))").alias(
            "codes_packed"
        ),
        F.sum(F.floor(F.col("dist") * 1_000_000).cast("bigint")).alias("recon_micro"),
    )


@register(
    "similarity_knn_pq_adc",
    oracle=f"""
    WITH {_PQ_CTES},
    pq AS (SELECT vec_id AS query_id, sub, sx AS qx
           FROM pxs WHERE vec_id % 100 = 0),
    plut AS (SELECT q.query_id, c.sub, c.j,
                    CAST(floor({_pq_dist('q.qx', 'c.cm')} * 1000000) AS BIGINT)
                      AS dmic
             FROM pq q JOIN pc1 c ON c.sub = q.sub),
    pscore AS (SELECT l.query_id, a.vec_id,
                      CAST(sum(l.dmic) AS BIGINT) AS adc_micro
               FROM pa2 a JOIN plut l ON l.sub = a.sub AND l.j = a.j
               WHERE a.vec_id <> l.query_id
               GROUP BY l.query_id, a.vec_id)
    SELECT query_id, vec_id, adc_micro, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_micro, vec_id) AS rn
          FROM pscore)
    WHERE rn <= 10
    """,
    tags=("similarity", "knn", "pq", "approx", "extension", "scale-path"),
)
def similarity_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance kNN over the PQ codes (similarity_pq_codes):
    documents are searched compressed (16 4-bit codes each), queries
    stay raw and precompute a 16x16 integer-micro lookup table; a
    document's distance is the bigint sum of its 16 LUT entries — so even the
    APPROXIMATE search result hash-matches DuckDB. Recall vs the exact
    baseline is additionally gated in tests/test_similarity.py.

    Scale shape: codebook broadcasts (128 rows); the LUT join streams
    the (vec_id, sub, code) column — 8 packed bytes per document, 32x
    less I/O than raw vectors, which is the entire point of PQ at
    100 TB — into one (query_id, vec_id) aggregate and a per-query
    top-k window. Size-guarded like every exact-scan baseline; the
    scale path is the REGISTERED similarity_knn_ivf_pq, which puts the
    IVF cell router in front so only probed cells' codes stream
    through the LUT join."""
    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        knn_pq_adc,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb,
        200_000,
        "similarity_knn_pq_adc",
        "similarity_knn_ivf_pq (IVF-routed residual PQ)",
    )
    return knn_pq_adc(_unit_normalized(emb), m=16, ksub=16, iters=2, k=10)


# IVF-PQ residual search: coarse k-means cells over UNIT-NORMALIZED
# vectors (so cell geometry = cosine geometry), one global PQ codebook
# over the residual stream, per-(query, cell) residual LUTs.
_IVFPQ_CTES = (
    f"""
    nx AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(v AS DOUBLE)
                    / sqrt({_dot('embedding', 'embedding')})) AS x
      FROM embeddings),"""
    + _km_chain("nx", "v")
    + f""",
    vres AS (SELECT a.vec_id, a.j AS cell,
                    list_transform(range(64),
                      i -> a.x[i+1] - c.cm[i+1] / 1000000.0) AS xd
             FROM va2 a JOIN vc1 c ON c.j = a.j),"""
    + _pq_chain("vres", "r")
)


# Query-time chain of the IVF-PQ search (routing -> per-cell residual
# LUTs -> probed-cell ADC scoring), shared by the search query and its
# recall audit.
_IVFPQ_QUERY_CTES = f"""
    vq AS (SELECT vec_id AS query_id, x FROM nx WHERE vec_id % 100 = 0),
    vqd AS (SELECT q.query_id, q.x, c.j AS cell, c.cm,
                   {_km_dist('q.x', 'c.cm')} AS qd
            FROM vq q, vc1 c),
    vprobes AS (SELECT query_id, x, cell, cm FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY qd, cell) AS rn
                  FROM vqd) WHERE rn <= 2),
    vqxs AS (SELECT p.query_id, p.cell, s.sub,
                    list_slice(
                      list_transform(range(64),
                        i -> p.x[i+1] - p.cm[i+1] / 1000000.0),
                      s.sub * 4 + 1, s.sub * 4 + 4) AS qx
             FROM vprobes p, rsub s),
    vlut AS (SELECT q.query_id, q.cell, c.sub, c.j,
                    CAST(floor({_pq_dist('q.qx', 'c.cm')} * 1000000) AS BIGINT)
                      AS dmic
             FROM vqxs q JOIN rc1 c ON c.sub = q.sub),
    vcand AS (SELECT a.vec_id, r.cell, a.sub, a.j
              FROM ra2 a JOIN vres r ON r.vec_id = a.vec_id),
    vscore AS (SELECT l.query_id, vcand.vec_id,
                      CAST(sum(l.dmic) AS BIGINT) AS adc_micro
               FROM vcand JOIN vlut l
                 ON l.cell = vcand.cell AND l.sub = vcand.sub
                    AND l.j = vcand.j
               WHERE vcand.vec_id <> l.query_id
               GROUP BY l.query_id, vcand.vec_id)
"""


@register(
    "similarity_knn_ivf_pq",
    oracle=f"""
    WITH {_IVFPQ_CTES},
    {_IVFPQ_QUERY_CTES}
    SELECT query_id, vec_id, adc_micro, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_micro, vec_id) AS rn
          FROM vscore)
    WHERE rn <= 10
    """,
    tags=("similarity", "knn", "ivf", "pq", "approx", "extension", "scale-path"),
)
def similarity_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ residual kNN (the IVFADC layout, Jegou et al. 2011 —
    FAISS's billion-scale default): coarse k-means cells route each
    query to its 2 nearest centroids, and ONLY the probed cells' PQ
    codes stream through the ADC lookup join — the composition
    similarity_knn_pq_adc documents is here a registered, hash-checked
    plan. Codes are trained on RESIDUALS (x - centroid), so one 16x16
    codebook serves all cells: residuals from every cell center near
    zero and quantization error drops versus flat PQ at the same code
    budget.

    The whole path — coarse training, residual codebook training,
    routing, per-cell query LUTs, bigint ADC sums — inherits the
    determinism discipline (md5 seeds, micro-int centroids, shared
    folds, (dist, j) tie-breaks), so even this doubly-approximate
    search hash-matches DuckDB exactly; recall vs brute force is gated
    in tests/test_similarity.py.

    Scale shape: UNLIKE the guarded flat-PQ scan there is no
    full-corpus stage at query time — centroids (8 rows), codebook
    (256 rows), and the probed-cell id set (≤ 8 rows) broadcast; the
    candidate stream is |probed cells|/|cells| of the codes at 8 packed
    bytes per vector, the LUT join carries no hint (|Q|-proportional —
    AQE decides), and the only data-sized exchanges are the training
    argmins and the (query_id, vec_id) hash aggregate with map-side
    partials. At 100 TB the codes table is cell-partitioned parquet and
    the probe pushes its bounded probed-cell set as a literal
    partition filter so only those cells' files are listed
    (operators/incremental_ann.probe_index_ivfpq, asserted on scan
    metrics)."""
    from etl_8million_data__spark.operators.similarity import knn_ivf_pq

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_ivf_pq(
        _unit_normalized(emb),
        k_cells=8,
        km_iters=2,
        m=16,
        ksub=16,
        pq_iters=2,
        k=10,
        nprobe=2,
    )


@register(
    "similarity_knn_ivf_pq_recall",
    oracle=f"""
    WITH {_IVFPQ_CTES},
    {_IVFPQ_QUERY_CTES},
    adc AS (
      SELECT query_id, vec_id
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY adc_micro, vec_id) AS rn
            FROM vscore)
      WHERE rn <= 10),
    be AS (
      SELECT vec_id, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    bq AS (SELECT vec_id AS query_id, embedding AS qvec, n2 AS qn2
           FROM be WHERE vec_id % 100 = 0),
    bf_scored AS (
      SELECT bq.query_id, be.vec_id,
             {_dot('bq.qvec', 'be.embedding')} / (sqrt(bq.qn2) * sqrt(be.n2))
               AS cosine
      FROM bq JOIN be ON be.vec_id <> bq.query_id),
    bf AS (
      SELECT query_id, vec_id
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
            FROM bf_scored)
      WHERE rn <= 10)
    SELECT CAST(10 AS BIGINT) AS k,
           CAST(count(DISTINCT bf.query_id) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN adc.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST(sum(CASE WHEN adc.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / (count(DISTINCT bf.query_id) * 10) AS avg_recall
    FROM bf LEFT JOIN adc ON adc.query_id = bf.query_id AND adc.vec_id = bf.vec_id
    """,
    tags=("similarity", "knn", "ivf", "pq", "recall", "extension"),
)
def similarity_knn_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible quality gate for the IVF-PQ scale path: recall@10
    of the doubly-approximate search (cell pruning x residual
    quantization) against the exact brute-force top-10, computed
    engine-side in one row. Both inputs are deterministic, so the
    recall NUMBER itself is oracle-checked exactly; the pytest floor
    (0.28, just under the 0.32/0.36 measured on the uniform-random
    fixtures) rides in tests/test_similarity.py. Cosine ranking on raw
    vectors equals L2 ranking on the unit sphere, so the two branches
    need no re-normalization to be comparable."""
    bf = similarity_knn_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    ivfpq = similarity_knn_ivf_pq(spark, sf_dir).select(
        F.col("query_id").alias("i_qid"), F.col("vec_id").alias("i_vid")
    )
    joined = bf.join(
        ivfpq,
        (F.col("query_id") == F.col("i_qid")) & (F.col("vec_id") == F.col("i_vid")),
        "left",
    )
    return joined.agg(
        F.lit(10).cast("bigint").alias("k"),
        F.countDistinct("query_id").alias("n_queries"),
        F.sum(F.when(F.col("i_vid").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
        (
            F.sum(F.when(F.col("i_vid").isNotNull(), 1).otherwise(0)).cast("double")
            / (F.countDistinct("query_id") * 10)
        ).alias("avg_recall"),
    )


@register(
    "similarity_knn_ivf_pq_rerank",
    oracle=f"""
    WITH {_IVFPQ_CTES},
    {_IVFPQ_QUERY_CTES},
    shortlist AS (
      SELECT query_id, vec_id
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY adc_micro, vec_id) AS rn
            FROM vscore)
      WHERE rn <= 50),
    re AS (
      SELECT vec_id, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    rescored AS (
      SELECT s.query_id, s.vec_id,
             {_dot('q.embedding', 'e.embedding')} / (sqrt(q.n2) * sqrt(e.n2))
               AS cosine
      FROM shortlist s
      JOIN re e ON e.vec_id = s.vec_id
      JOIN re q ON q.vec_id = s.query_id)
    SELECT query_id, vec_id, cosine, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM rescored)
    WHERE rn <= 10
    """,
    tags=("similarity", "knn", "ivf", "pq", "rerank", "approx", "extension",
          "scale-path"),
)
def similarity_knn_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ search — the production layout of every
    billion-vector system: the compressed RECALL stage (IVF-PQ ADC)
    pulls a 50-deep shortlist per query reading only packed codes in
    probed cells, then the exact PRECISION stage re-ranks just those
    |Q| x 50 candidates against their raw vectors. Quantization error
    decides shortlist membership but never the final order, so the
    re-rank recovers the QUANTIZATION share of the recall gap —
    measured 0.40/0.50 vs 0.32/0.36 unreranked on the fixtures; the
    remainder is cell-routing loss (neighbors in unprobed cells that no
    depth of shortlist can reach — raise nprobe for that axis) —
    while fetching raw vectors for 50 rows per query instead of the
    corpus.

    Scale shape: stage 1 is the registered IVF-PQ plan (no full-corpus
    stage); stage 2 is an equi-join of the |Q|*50 shortlist against the
    vector store by id — at 100 TB a point-lookup-friendly join that
    touches 400 bytes per candidate, with no broadcast hint (both sides
    corpus-derived, AQE decides). Exact cosine on raw (un-normalized)
    vectors: ranking is scale-invariant, so no re-normalization stage
    is needed and the fold matches the brute-force baseline
    bit-for-bit."""
    from pyspark.sql import Window

    from etl_8million_data__spark.operators.similarity import dot, knn_ivf_pq, norm2

    emb = load_table(spark, sf_dir, "embeddings")
    shortlist = knn_ivf_pq(
        _unit_normalized(emb), k_cells=8, km_iters=2, m=16, ksub=16,
        pq_iters=2, k=50, nprobe=2, query_mod=100,
    ).select("query_id", "vec_id")
    e = emb.select(
        "vec_id",
        F.col("embedding").alias("_x"),
        norm2(F.col("embedding")).alias("_n2"),
    )
    q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("_x").alias("_qx"),
        F.col("_n2").alias("_qn2"),
    )
    rescored = (
        shortlist.join(e, "vec_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "vec_id",
            (
                dot(F.col("_qx"), F.col("_x")) / (F.sqrt("_qn2") * F.sqrt("_n2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id", "cosine", "rn")
    )


def _sign_word_sql(off: int, bits: int = 32) -> str:
    """DuckDB mirror of operators.similarity.sign_words: ascending
    acc*2 + bit fold over dims [off, off+bits) — 32-bit words because
    DuckDB's shift/add overflow-check at bit 63."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range({off}, {off + bits}), "
        "i -> CASE WHEN embedding[i+1] > 0 THEN CAST(1 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)), (a, x) -> a * 2 + x)"
    )


@register(
    "embedding_binary_quantize",
    oracle=f"""
    SELECT vec_id, label,
           {_sign_word_sql(0)} AS sig0,
           {_sign_word_sql(32)} AS sig1
    FROM embeddings
    """,
    tags=("similarity", "embedding", "quantization", "extension", "scale-path"),
)
def embedding_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit) embedding quantization: each 64-dim float vector
    collapses to its 64 sign bits, stored as two 32-bit words — 8
    signature bytes per vector, a 32x compression (the 1-bit analogue
    of similarity_pq_codes' 8-byte PQ codes). Word packing is an
    ascending integer fold (operators/similarity.sign_words), kept
    below bit 63 because DuckDB overflow-checks shifts there, so the
    signatures hash-check bit-for-bit cross-engine.

    Pure narrow map over the scan — no shuffle, no float math; at
    100 TB this is the signature-build pass whose output feeds the
    Hamming pre-filter (similarity_knn_hamming_rerank) and costs one
    scan of the corpus."""
    from etl_8million_data__spark.operators.similarity import sign_words

    emb = load_table(spark, sf_dir, "embeddings")
    s0, s1 = sign_words(F.col("embedding"))
    return emb.select("vec_id", "label", s0.alias("sig0"), s1.alias("sig1"))


@register(
    "similarity_knn_hamming_rerank",
    oracle=f"""
    WITH s AS (
      SELECT vec_id,
             {_sign_word_sql(0)} AS sig0,
             {_sign_word_sql(32)} AS sig1,
             embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, sig0 AS q0, sig1 AS q1,
                 embedding AS qv, n2 AS qn2
          FROM s WHERE vec_id % 100 = 0),
    h AS (
      SELECT q.query_id, s.vec_id,
             CAST(bit_count(xor(q.q0, s.sig0))
                  + bit_count(xor(q.q1, s.sig1)) AS INTEGER) AS hamming
      FROM q JOIN s ON s.vec_id <> q.query_id),
    short AS (
      SELECT query_id, vec_id, hamming FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY hamming, vec_id) AS rh
        FROM h) WHERE rh <= 50),
    r AS (
      SELECT sh.query_id, sh.vec_id, sh.hamming,
             {_dot('q.qv', 's.embedding')} / (sqrt(q.qn2) * sqrt(s.n2))
               AS cosine
      FROM short sh
      JOIN q ON q.query_id = sh.query_id
      JOIN s ON s.vec_id = sh.vec_id)
    SELECT query_id, vec_id, hamming, cosine, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM r)
    WHERE rn <= 10
    """,
    tags=("similarity", "knn", "hamming", "extension", "scale-path"),
)
def similarity_knn_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary-signature ANN: XOR+popcount Hamming scan over
    the 8-byte sign signatures shortlists 50 candidates per query; exact
    fold-order cosine re-ranks only the shortlist to the top-10 — the
    1-bit mirror of similarity_knn_ivf_pq_rerank's ADC+rerank layout.

    Scale story: the scan stage reads 3 bigints per corpus row (not the
    256-byte float vector) and its distance is pure ALU work inside
    whole-stage codegen; float vectors are touched only via an equi-join
    for |Q|*50 shortlist rows. Recall vs the exact baseline is gated in
    tests/test_similarity.py. Both stages carry total-order tie-breaks
    ((hamming, vec_id), then (cosine desc, vec_id)), so even the
    intermediate shortlist is deterministic and the result hash-checks
    against DuckDB.

    Still O(|Q|·N) comparisons: the signature scan is ~32x cheaper per
    pair than the float fold (hence the 2.5x-higher guard vs the
    bruteforce baseline), but the per-query shortlist window ingests
    the full candidate stream, so beyond the guard the routed
    compressed path (similarity_knn_ivf_pq) is the scale answer —
    same two-stage shape with only probed cells' codes scanned."""
    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        knn_hamming_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 500_000, "similarity_knn_hamming_rerank", "similarity_knn_ivf_pq"
    )
    return knn_hamming_rerank(emb, shortlist=50, k=10).select(
        "query_id", "vec_id", "hamming", "cosine", "rn"
    )


@register(
    "similarity_knn_gemm",
    oracle=f"""
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd,
             sqrt({_dot('embedding', 'embedding')}) AS n
      FROM embeddings),
    m AS (
      SELECT vec_id,
             list_transform(xd, v ->
               CAST(sign(v) AS BIGINT)
               * CAST(floor(abs(v) / n * 1000000 + 0.5) AS BIGINT)) AS qm
      FROM x),
    q AS (SELECT vec_id AS query_id, qm AS qq FROM m WHERE vec_id % 100 = 0),
    sc AS (
      SELECT q.query_id, m.vec_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(64), i -> q.qq[i+1] * m.qm[i+1])),
               (a, b) -> a + b) AS dot_micro12
      FROM q JOIN m ON m.vec_id <> q.query_id)
    SELECT query_id, vec_id, dot_micro12, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY dot_micro12 DESC, vec_id) AS rn
          FROM sc)
    WHERE rn <= 10
    """,
    tags=("similarity", "knn", "extension", "vectorized", "correctness-baseline"),
)
def similarity_knn_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN as Arrow-batched block matrix multiply
    (operators/similarity.knn_block_gemm): bounded corpus/query blocks,
    one numpy int64 GEMM per block pair, per-block top-k partials, one
    global per-query window — identical semantics to
    similarity_knn_bruteforce at matmul throughput instead of a codegen
    fold per pair.

    The cross-engine contract is INTEGER, not fold-order: components
    are micro-normalized int64 (sign*floor(|v|/||x||*1e6+0.5)), so the
    blocked GEMM summation is bit-identical to DuckDB's sequential
    list_reduce no matter the accumulation order — the one similarity
    query whose hot loop is free to use vectorized math because its
    scores are exact integers. Still O(|corpus|*|Q|) arithmetic: guarded
    at the same 200k bound as the bruteforce baseline, with the IVF
    family as the named sub-quadratic twin."""
    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        knn_block_gemm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(emb, 200_000, "similarity_knn_gemm", "similarity_knn_ivf_pq")
    return knn_block_gemm(emb, k=10).select("query_id", "vec_id", "dot_micro12", "rn")


def _probe_iter_sql(k: int) -> str:
    """One unrolled fixed-point GD step: w{k} from w{k-1} against the
    MATERIALIZED abar/bbar stats (materialization is load-bearing —
    w{k-1} is referenced twice per step, so default CTE inlining would
    expand 2^iters-fold, the dedup_graph_kcore lesson). Every sum is
    cast back to BIGINT (DuckDB widens integer sums to HUGEINT, which
    Arrow-fails at the driver compare and would otherwise propagate
    through all later steps)."""
    p = f"pw{k - 1}"
    return f"""
    pw{k} AS MATERIALIZED (
      SELECT w.i, w.wmu + b.bmu - CAST(aw.s // 1000000 AS BIGINT) AS wmu
      FROM (SELECT a.i, CAST(sum(a.a * w.wmu) AS BIGINT) AS s
            FROM pabar a JOIN {p} w ON w.i = a.j GROUP BY a.i) aw
      JOIN {p} w ON w.i = aw.i
      JOIN pbbar b ON b.i = aw.i)"""


_PROBE_CTES = (
    """
    pxm AS MATERIALIZED (
      SELECT vec_id,
             CAST(CASE WHEN label < 5 THEN 1 ELSE -1 END AS BIGINT) AS y,
             list_transform(embedding, v ->
               CAST(sign(CAST(v AS DOUBLE)) AS BIGINT)
               * CAST(floor(abs(CAST(v AS DOUBLE)) * 1000 + 0.5) AS BIGINT))
               AS xm
      FROM embeddings),
    pn AS (SELECT count(*) AS cnt FROM pxm),
    pdims AS (SELECT CAST(unnest(range(64)) AS INT) AS i),
    pg AS MATERIALIZED (
      SELECT ti.i, tj.i AS j,
             CAST(sum(x.xm[ti.i + 1] * x.xm[tj.i + 1]) AS BIGINT) AS s
      FROM pxm x, pdims ti, pdims tj
      GROUP BY ti.i, tj.i),
    pabar AS MATERIALIZED (
      SELECT i, j, CAST(s // cnt AS BIGINT) AS a FROM pg, pn),
    pbv AS (
      SELECT t.i, CAST(sum(x.y * x.xm[t.i + 1]) AS BIGINT) AS sb
      FROM pxm x, pdims t GROUP BY t.i),
    pbbar AS MATERIALIZED (
      SELECT i, CAST(sb // cnt AS BIGINT) * 1000 AS bmu FROM pbv, pn),
    pw0 AS (SELECT i, CAST(0 AS BIGINT) AS wmu FROM pdims),"""
    + ",".join(_probe_iter_sql(k) for k in range(1, 9))
)


@register(
    "embedding_linear_probe",
    oracle=f"""
    WITH {_PROBE_CTES}
    SELECT x.vec_id, x.y,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(64), i -> x.xm[i+1] * w.warr[i+1])),
             (a, b) -> a + b) // 1000 AS BIGINT) AS score_micro
    FROM pxm x, (SELECT list(wmu ORDER BY i) AS warr FROM pw8) w
    """,
    tags=("similarity", "embedding", "training", "extension", "scale-path"),
)
def embedding_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering's core primitive, trained INSIDE
    the engine: a linear probe (score = w·x) fit against a weak ±1
    label (label < 5) by 8 fixed gradient steps on the count-normalized
    normal equations — the CCNet / FineWeb-Edu pattern where a small
    trained scorer ranks the whole corpus (operators/probe.py).

    Everything is exact int64 fixed-point: milli-int features, one
    Arrow-batched GEMM pass for XᵀX / Xᵀy partials (map-side combined —
    the shuffle carries ~4160 rows per batch, never the corpus), `div`
    truncation parity, and a 64-row weight frame stepped through 8
    broadcast-joined GD iterations — so the TRAINED weights and every
    corpus score hash-match DuckDB's unrolled-CTE mirror of the same
    loop. Train accuracy vs the 0.5 chance floor is gated in
    tests/test_similarity.py. Count normalization makes the fixed-point
    magnitudes corpus-size-free, so the identical plan trains at any n:
    two corpus scans (stats + scoring) and a k-bounded loop."""
    from etl_8million_data__spark.operators.probe import linear_probe_fit

    emb = load_table(spark, sf_dir, "embeddings")
    scored, _ = linear_probe_fit(
        emb, F.when(F.col("label") < 5, 1).otherwise(-1), iters=8
    )
    return scored


@register(
    "similarity_matryoshka_recall",
    oracle=f"""
    WITH mdims AS (SELECT CAST(unnest([8, 16, 32, 64]) AS INT) AS d),
    ms AS (
      SELECT d.d, e.vec_id, e.embedding[1:d.d] AS v
      FROM embeddings e, mdims d),
    mn AS (
      SELECT d, vec_id, v, {_dot('v', 'v')} AS n2 FROM ms),
    mq AS (SELECT d, vec_id AS query_id, v AS qv, n2 AS qn2
           FROM mn WHERE vec_id % 100 = 0),
    msc AS (
      SELECT q.d, q.query_id, s.vec_id,
             {_dot('q.qv', 's.v')} / (sqrt(q.qn2) * sqrt(s.n2)) AS c
      FROM mq q JOIN mn s ON s.d = q.d AND s.vec_id <> q.query_id),
    mtop AS (
      SELECT d, query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY d, query_id ORDER BY c DESC, vec_id) AS rn
        FROM msc) WHERE rn <= 10),
    mbase AS (SELECT query_id, vec_id FROM mtop WHERE d = 64),
    mh AS (
      SELECT t.d, CAST(count(*) AS BIGINT) AS hits
      FROM mtop t JOIN mbase b
        ON b.query_id = t.query_id AND b.vec_id = t.vec_id
      GROUP BY t.d),
    mnq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
            FROM mq WHERE d = 64)
    SELECT h.d AS dims, mnq.n_queries, h.hits,
           h.hits / (mnq.n_queries * 10.0) AS recall
    FROM mh h, mnq
    """,
    tags=("similarity", "embedding", "audit", "extension"),
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation recall audit (the Matryoshka / MRL sizing
    question): for each prefix width d in {8, 16, 32, 64}, exact cosine
    top-10 over only the FIRST d components, scored as recall@10
    against the full-width truth — one hash-checked row per width. This
    is the measurement that decides how much of a 100 TB vector corpus
    an index actually has to store (d=16 at acceptable recall = 4x less
    index memory and bandwidth than d=64).

    The per-width searches reuse the guarded brute-force operator on a
    sliced view (same fold-order cosine, same (cos desc, vec_id)
    tie-break), so the audit itself is exact; recall is an integer hit
    count over n_queries*10 — the only float in the output is the final
    division, identical on both engines. Corpus-sized inputs run the
    audit on a sampled query set via the same % mod selector."""
    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        knn_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 50_000, "similarity_matryoshka_recall", "similarity_knn_ivf_pq_recall"
    )

    def topk(d: int) -> DataFrame:
        sliced = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        q = sliced.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return knn_bruteforce(sliced, q, k=10).select(
            F.lit(d).alias("dims"), "query_id", "vec_id"
        )

    tops = topk(8).unionAll(topk(16)).unionAll(topk(32)).unionAll(topk(64))
    base = (
        topk(64)
        .select("query_id", "vec_id")
        .withColumnRenamed("vec_id", "b_vec")
        .localCheckpoint(eager=True)
    )
    hits = (
        tops.join(
            base,
            (tops["query_id"] == base["query_id"])
            & (tops["vec_id"] == base["b_vec"]),
        )
        .groupBy("dims")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    nq = emb.filter(F.col("vec_id") % 100 == 0).groupBy().agg(
        F.count(F.lit(1)).alias("n_queries")
    )
    return hits.crossJoin(F.broadcast(nq)).select(
        "dims",
        "n_queries",
        "hits",
        (F.col("hits") / (F.col("n_queries") * 10.0)).alias("recall"),
    )


@register(
    "similarity_ivf_cell_balance",
    oracle=f"""
    WITH {_KM_CTES},
    cb_n AS (SELECT CAST(j AS INT) AS cell, CAST(count(*) AS BIGINT) AS n_vectors
             FROM a2 GROUP BY j),
    cb_t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
                    CAST(count(*) AS BIGINT) AS n_cells
             FROM cb_n)
    SELECT n.cell, n.n_vectors,
           CAST((n.n_vectors * 1000000) // t.total AS BIGINT) AS share_micro,
           CAST((n.n_vectors * t.n_cells * 1000000) // t.total AS BIGINT)
             AS load_factor_micro
    FROM cb_n n, cb_t t
    """,
    tags=("similarity", "ivf", "observability", "extension"),
)
def similarity_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit: per-cell occupancy of the learned
    k-means inverted file, each cell's corpus share and its load factor
    vs the ideal 1/k split (micro-int, `div` truncation parity). At
    100 TB a hot cell IS the ANN straggler — every probe routed there
    scans its whole posting list — so this is the measurement that
    drives re-training cadence, k selection, and whether a cell needs
    splitting. Plan shape: the training loop's k-bounded frames plus
    ONE k-row aggregate over the assignment stream — the audit adds a
    single map-side-combined count to the index build."""
    from etl_8million_data__spark.operators.similarity import kmeans_cells

    emb = load_table(spark, sf_dir, "embeddings")
    cells = kmeans_cells(emb, k=8, iters=2)
    n = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    t = n.groupBy().agg(
        F.sum("n_vectors").alias("total"), F.count(F.lit(1)).alias("n_cells")
    )
    return n.crossJoin(F.broadcast(t)).select(
        "cell",
        "n_vectors",
        F.expr("(n_vectors * 1000000) div total").cast("bigint").alias("share_micro"),
        F.expr("(n_vectors * n_cells * 1000000) div total")
        .cast("bigint")
        .alias("load_factor_micro"),
    )


# 16 JL projection planes (integer weights, shared generator with the
# LSH family — deterministic on both engines).
_JLW = hyperplane_weights(16, 64)
_JLW_SQL = (
    "[" + ", ".join("[" + ", ".join(str(x) for x in row) + "]" for row in _JLW) + "]"
)
_JL_PROJ = (
    "list_transform(range(16), p -> list_reduce(list_prepend(0.0, "
    "list_transform(range(64), i -> W[p+1][i+1] * {src}[i+1]::DOUBLE)), "
    "(a, b) -> a + b))"
)
_JL_D2 = (
    "list_reduce(list_prepend(0.0, list_transform(range({n}), "
    "i -> ({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1]))), (x, y) -> x + y)"
)


@register(
    "embedding_jl_distortion",
    oracle=f"""
    WITH jw(W) AS (SELECT {_JLW_SQL}),
    js AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd,
             {_JL_PROJ.format(src='embedding')} AS y
      FROM embeddings, jw WHERE vec_id % 5 = 0),
    jp AS (
      SELECT CAST(floor(
               {_JL_D2.format(n=16, a='a.y', b='b.y')}
               / {_JL_D2.format(n=64, a='a.xd', b='b.xd')}) AS BIGINT) AS r
      FROM js a JOIN js b ON a.vec_id < b.vec_id
      WHERE {_JL_D2.format(n=64, a='a.xd', b='b.xd')} > 0),
    jm AS (SELECT CAST(sum(r) AS BIGINT) // count(*) AS mr FROM jp),
    jd AS (SELECT CAST(r * 1000000 // mr AS BIGINT) AS dm FROM jp, jm)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           min(dm) AS min_distortion_micro,
           max(dm) AS max_distortion_micro,
           CAST(sum(CASE WHEN abs(dm - 1000000) <= 300000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_30pct
    FROM jd
    """,
    tags=("similarity", "embedding", "projection", "audit", "extension"),
)
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection audit: project 64-dim
    vectors to 16 dims through the deterministic integer hyperplanes
    the LSH family already shares, then measure pairwise
    squared-distance distortion over a sampled pair set — the
    measurement that licenses running ANN/dedup preprocessing on a
    4x-smaller projected corpus (the unstructured counterpart of
    similarity_matryoshka_recall's prefix truncation).

    Determinism: per-pair distance RATIOS floor to integers (the raw
    ratio scale carries the weights' magnitude), the mean normalizes
    them scale-free via `div` truncation, and the summary min/max/count
    are pure integer aggregates — the audit hash-matches DuckDB despite
    every distance being a float fold. Pairs come from a vec_id % 5
    sample; the sampled all-pairs stage is guarded (the audit's
    precision is sample-size-free — resample sparser at scale)."""
    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        projections,
        sqdist_arrow_seqfold,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # lazy checkpoint: the baseline-scale guard's count materializes
    # the sampled+projected frame once, so the self-join's two sides
    # read the 16 interpreted hyperplane projections from the
    # checkpoint instead of recomputing them per side. (An unrolled
    # 64-term element_at distance was tried and measured ~3x SLOWER
    # end-to-end: the optimizer pays seconds constant-folding the
    # 128-element_at tree on every fresh plan — compact interpreted
    # lambdas win at this pair count.)
    s = emb.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("xd"),
        projections(F.col("embedding"), _JLW, 16).alias("y"),
    ).localCheckpoint(eager=False)
    assert_baseline_scale(
        s, 5_000, "embedding_jl_distortion", "a sparser vec_id % sample"
    )
    a = s.select(F.col("vec_id").alias("ia"), F.col("xd").alias("xa"), F.col("y").alias("ya"))
    b = s.select(F.col("vec_id").alias("ib"), F.col("xd").alias("xb"), F.col("y").alias("yb"))

    # Arrow-vectorized sequential fold (r15, guide §4.2): the 64+16-dim
    # per-pair squared distances were interpreted HOF folds over the
    # sampled all-pairs set — the dominant cost; bit-identical replay,
    # see sqdist_arrow_seqfold.
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        sqdist_arrow_seqfold(F.col("xa"), F.col("xb")).alias("dx2"),
        sqdist_arrow_seqfold(F.col("ya"), F.col("yb")).alias("dy2"),
    )
    # the ratio frame is consumed twice (global mean, then per-pair
    # distortion) — checkpoint it once so the sampled all-pairs join
    # and the 64+16-dim interpreted distance folds run once, not twice
    p = pairs.filter(F.col("dx2") > 0).select(
        F.floor(F.col("dy2") / F.col("dx2")).cast("bigint").alias("r")
    ).localCheckpoint(eager=False)
    m = p.groupBy().agg(F.expr("sum(r) div count(1)").alias("mr"))
    d = p.crossJoin(F.broadcast(m)).select(
        F.expr("r * 1000000 div mr").cast("bigint").alias("dm")
    )
    return d.groupBy().agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("dm").alias("min_distortion_micro"),
        F.max("dm").alias("max_distortion_micro"),
        F.sum(
            F.when(F.abs(F.col("dm") - 1_000_000) <= 300_000, 1).otherwise(0)
        ).alias("n_within_30pct"),
    )


@register(
    "embedding_probe_select",
    oracle=f"""
    WITH {_PROBE_CTES},
    psc AS (
      SELECT x.vec_id,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(64), i -> x.xm[i+1] * w.warr[i+1])),
               (a, b) -> a + b) // 1000 AS BIGINT) AS score_micro
      FROM pxm x, (SELECT list(wmu ORDER BY i) AS warr FROM pw8) w),
    pk AS (
      SELECT vec_id,
             CASE WHEN ntile(2) OVER (
                    ORDER BY score_micro DESC, vec_id) = 1
                  THEN 1 ELSE 0 END AS kept
      FROM psc)
    SELECT e.label,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(pk.kept) AS BIGINT) AS n_kept,
           CAST(sum(pk.kept) * 1000000 // count(*) AS BIGINT)
             AS keep_rate_micro
    FROM pk JOIN embeddings e ON e.vec_id = pk.vec_id
    GROUP BY e.label
    """,
    tags=("similarity", "embedding", "curation", "audit", "extension"),
)
def embedding_probe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter selection-bias audit: keep the top HALF of the
    corpus by trained-probe score (ntile(2) over (score desc, vec_id) —
    the thresholding step of model-based filtering) and report each
    label's keep rate. This is the audit every production filtering run
    needs: a probe trained on a weak label WILL skew the selected
    distribution toward what it predicts, and the per-label keep rates
    are where that shows (gated in tests: labels the probe favors keep
    at higher rates than the rest — the bias is real and measured).

    The global rank deliberately goes through the engine's
    boundary-table global_ntile (operators/partitioning.py) — monotone
    score buckets, broadcast cumulative offsets, per-bucket windows —
    so there is NO data-sized single-partition window anywhere in the
    plan (the same rewrite moving_avg_and_ntile carries, asserted by
    its CI invariant). All outputs are integer counts and
    `div`-truncated micro rates — hash-exact."""
    from etl_8million_data__spark.operators.partitioning import global_ntile
    from etl_8million_data__spark.operators.probe import linear_probe_fit

    emb = load_table(spark, sf_dir, "embeddings")
    scored, _ = linear_probe_fit(
        emb, F.when(F.col("label") < 5, 1).otherwise(-1), iters=8
    )
    tiled = global_ntile(
        scored,
        k=2,
        order_col="score_micro",
        tiebreak_col="vec_id",
        bucket_expr=F.floor(F.col("score_micro") / 1000),
        descending=True,
        out_col="_tile",
    )
    kept = tiled.select(
        "vec_id", F.when(F.col("_tile") == 1, 1).otherwise(0).alias("kept")
    )
    return (
        kept.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.expr("(sum(kept) * 1000000) div count(1)")
            .cast("bigint")
            .alias("keep_rate_micro"),
        )
    )


@register(
    "embedding_probe_calibration",
    oracle=f"""
    WITH {_PROBE_CTES},
    csc AS (
      SELECT x.vec_id, x.y,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(64), i -> x.xm[i+1] * w.warr[i+1])),
               (a, b) -> a + b) // 1000 AS BIGINT) AS score_micro
      FROM pxm x, (SELECT list(wmu ORDER BY i) AS warr FROM pw8) w),
    ct AS (
      SELECT y,
             CAST(ntile(10) OVER (ORDER BY score_micro DESC, vec_id)
                  AS INT) AS decile
      FROM csc)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS positive_rate_micro
    FROM ct GROUP BY decile
    """,
    tags=("similarity", "embedding", "calibration", "audit", "extension"),
)
def embedding_probe_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe reliability curve: score deciles (highest scores = decile
    1) vs the actual positive rate of the training label in each — the
    standard is-the-scorer-calibrated audit that decides whether a
    filtering threshold can be trusted between the deciles you
    validated. A probe that learned real signal shows a monotone-ish
    falling curve; a collapsed probe shows a flat one (gated in tests:
    top-3 deciles' positive rate must clear the bottom-3 by a measured
    margin).

    Ranking goes through the boundary-table global_ntile — monotone
    score buckets, broadcast offsets, per-bucket windows, NO
    data-sized single-partition window — and every output is an
    integer count or a `div`-truncated micro rate, so the curve
    hash-matches DuckDB's ntile exactly (both engines give the first
    n%k tiles the extra row under the same (score desc, vec_id)
    total order)."""
    from etl_8million_data__spark.operators.partitioning import global_ntile
    from etl_8million_data__spark.operators.probe import linear_probe_fit

    emb = load_table(spark, sf_dir, "embeddings")
    scored, _ = linear_probe_fit(
        emb, F.when(F.col("label") < 5, 1).otherwise(-1), iters=8
    )
    tiled = global_ntile(
        scored,
        k=10,
        order_col="score_micro",
        tiebreak_col="vec_id",
        bucket_expr=F.floor(F.col("score_micro") / 1000),
        descending=True,
        out_col="decile",
    )
    return tiled.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("n_positive"),
        F.expr("(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000) div count(1)")
        .cast("bigint")
        .alias("positive_rate_micro"),
    )


# Shared SRP-IVF chain for the nprobe sweep — same definitions as
# _IVF_CELLS but with the corpus-wide cell frame MATERIALIZED (three
# nprobe branches consume it; default inlining would triple the
# projection work) and the probes CTE factored per nprobe value.
_IVF_SWEEP_SHARED = f"""
    w(W) AS (SELECT {_W_SQL}),
    {_PARAMS},
    e AS (
      SELECT vec_id, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    ce AS MATERIALIZED (
      SELECT vec_id, embedding, n2, nb, projs,
             list_reduce(list_prepend(0, list_transform(range(nb), j ->
               CASE WHEN projs[j+1] > 0 THEN 1 << j ELSE 0 END)), (a, x) -> a + x
             ) AS cell
      FROM (
        SELECT vec_id, embedding, n2, pr.nb AS nb,
               list_transform(range(pr.nb), j ->
                 list_reduce(list_prepend(0.0, list_transform(range(64),
                   i -> W[j+1][i+1] * embedding[i+1]::DOUBLE)), (a, x) -> a + x)
               ) AS projs
        FROM e, w, pr)),
    q AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding AS qvec, n2 AS qn2, nb,
             projs AS qprojs, cell AS qcell
      FROM ce WHERE vec_id % 100 = 0),
    bf AS MATERIALIZED (
      SELECT query_id, vec_id
      FROM (SELECT q.query_id, e2.vec_id, row_number() OVER (
              PARTITION BY q.query_id
              ORDER BY {_dot('q.qvec', 'e2.embedding')}
                       / (sqrt(q.qn2) * sqrt(e2.n2)) DESC, e2.vec_id) AS rn
            FROM q JOIN e e2 ON e2.vec_id <> q.query_id)
      WHERE rn <= 10)
"""


def _ivf_sweep_branch(np: int) -> str:
    """probes/ivf/recall-row CTEs for one nprobe value (own cell +
    np-1 lowest-|projection| bit flips — identical multiprobe order to
    operators/similarity.srp_probe_cells)."""
    flips = (
        "list_transform(list_slice(list_sort(list_transform(range(nb), j -> "
        "{'a': abs(qprojs[j+1]), 'j': j})), 1, " + str(np - 1) + "), "
        "s -> xor(qcell, 1 << struct_extract(s, 'j')))"
    )
    return f"""
    probes{np} AS (
      SELECT query_id, qvec, qn2,
             unnest(list_prepend(qcell, {flips})) AS cell
      FROM q),
    ivf{np} AS (
      SELECT query_id, vec_id
      FROM (SELECT p.query_id, c.vec_id, row_number() OVER (
              PARTITION BY p.query_id
              ORDER BY {_dot('p.qvec', 'c.embedding')}
                       / (sqrt(p.qn2) * sqrt(c.n2)) DESC, c.vec_id) AS rn
            FROM probes{np} p
            JOIN ce c ON c.cell = p.cell AND c.vec_id <> p.query_id)
      WHERE rn <= 10),
    row{np} AS (
      SELECT CAST({np} AS INT) AS nprobe,
             CAST(count(DISTINCT bf.query_id) AS BIGINT) AS n_queries,
             CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits,
             CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / (count(DISTINCT bf.query_id) * 10) AS avg_recall
      FROM bf LEFT JOIN ivf{np} i
        ON i.query_id = bf.query_id AND i.vec_id = bf.vec_id)
"""


@register(
    "similarity_ivf_nprobe_curve",
    oracle=(
        "WITH "
        + _IVF_SWEEP_SHARED
        + ","
        + ",".join(_ivf_sweep_branch(np) for np in (1, 3, 5))
        + """
    SELECT * FROM row1
    UNION ALL SELECT * FROM row3
    UNION ALL SELECT * FROM row5
    """
    ),
    tags=("similarity", "knn", "ivf", "recall", "tuning", "extension"),
)
def similarity_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning curve: recall@10 of the SRP inverted file at
    nprobe ∈ {1, 3, 5} against the exact brute-force truth, one
    hash-checked row per operating point — the cost/recall tradeoff
    that picks production nprobe (candidate fraction is nprobe/2^nb,
    so the three rows cost ~6%/19%/31% of the corpus per query at the
    fixtures' nb=4). Monotonicity (more probes ⇒ recall never falls)
    is gated in tests — measured 0.20→0.30→0.44 at sf0.001.

    Everything is deterministic (shared integer hyperplanes, identical
    multiprobe flip order, (cosine desc, vec_id) tie-breaks), so all
    three operating points hash-match DuckDB; the corpus cell frame and
    the brute-force truth compute ONCE (checkpointed / MATERIALIZED on
    both engines) and the three searches reuse them."""
    from etl_8million_data__spark.operators.similarity import (
        adaptive_n_bits,
        assert_baseline_scale,
        knn_bruteforce,
        knn_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 200_000, "similarity_ivf_nprobe_curve", "similarity_knn_ivf_recall"
    )
    nb = adaptive_n_bits(emb.count(), _TARGET_BUCKET, _MIN_BITS, _MAX_BITS)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = (
        knn_bruteforce(emb, queries, k=10)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )

    def recall_row(np: int) -> DataFrame:
        ivf = knn_ivf(emb, queries, _W, k=10, nprobe=np, n_bits=nb).select(
            F.col("query_id").alias("i_qid"), F.col("vec_id").alias("i_vid")
        )
        joined = bf.join(
            ivf,
            (F.col("query_id") == F.col("i_qid"))
            & (F.col("vec_id") == F.col("i_vid")),
            "left",
        )
        return joined.agg(
            F.lit(np).cast("int").alias("nprobe"),
            F.countDistinct("query_id").alias("n_queries"),
            F.sum(F.when(F.col("i_vid").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
            (
                F.sum(F.when(F.col("i_vid").isNotNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / (F.countDistinct("query_id") * 10)
            ).alias("avg_recall"),
        )

    return recall_row(1).unionAll(recall_row(3)).unionAll(recall_row(5))


@register(
    "similarity_index_staleness",
    oracle=f"""
    WITH sx AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings),
    sxh AS MATERIALIZED (SELECT vec_id, x FROM sx WHERE vec_id % 2 = 0),
    {_km_chain("sxh", "h")},
    {_km_chain("sx", "f")},
    sod AS (SELECT x.vec_id, c.j, {_km_dist('x.x', 'c.cm')} AS dist
            FROM sx x, hc1 c),
    soa AS (SELECT vec_id, j FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist, j) AS rn
              FROM sod) WHERE rn = 1)
    SELECT CAST(soa.j AS INT) AS cell_old,
           CAST(fa2.j AS INT) AS cell_new,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM soa JOIN fa2 ON fa2.vec_id = soa.vec_id
    GROUP BY 1, 2
    """,
    tags=("similarity", "ivf", "observability", "staleness", "extension"),
)
def similarity_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-staleness audit: the cell-transition matrix between a
    coarse quantizer trained on HALF the corpus (the 'stale' codebook —
    what your index was built with before the corpus grew) and one
    trained on all of it. Off-diagonal mass IS the re-encode cost of a
    retrain: at 100 TB this matrix — together with
    similarity_ivf_cell_balance's skew — is what decides retraining
    cadence vs probing more cells. Both trainings inherit kmeans_fit's
    full determinism (md5 seeds, micro-int centroids, div parity,
    (dist, j) tie-breaks) and the old-codebook re-assignment is the
    same argmin fold, so the entire transition matrix hash-matches
    DuckDB's twin unrolled chains.

    Scale shape: two k-bounded training loops (each one broadcast +
    one narrow argmin per round), ONE extra narrow argmin pass of the
    corpus against the 8-row stale codebook, one (8x8)-key aggregate.
    Nothing quadratic anywhere."""
    from etl_8million_data__spark.operators.similarity import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    assign_new, _ = kmeans_fit(emb, k=8, iters=2)
    _, cents_old = kmeans_fit(emb.filter(F.col("vec_id") % 2 == 0), k=8, iters=2)
    co = cents_old.select(
        F.col("j").alias("j_old"),
        F.transform("cm", lambda v: v / 1_000_000).alias("c"),
    )
    dist = F.aggregate(
        F.zip_with(F.col("x"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("dist", "j_old")
    oa = (
        assign_new.select("vec_id", "x", F.col("j").alias("cell_new"))
        .crossJoin(F.broadcast(co))
        .select("vec_id", "cell_new", "j_old", dist.alias("dist"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return oa.groupBy(
        F.col("j_old").cast("int").alias("cell_old"),
        F.col("cell_new").cast("int").alias("cell_new"),
    ).agg(F.count(F.lit(1)).alias("n_vectors"))


@register(
    "embedding_isotropy_audit",
    oracle=f"""
    WITH ix AS (
      SELECT label,
             list_transform(embedding, v ->
               CAST(sign(CAST(v AS DOUBLE)) AS BIGINT)
               * CAST(floor(abs(CAST(v AS DOUBLE)) * 1000 + 0.5) AS BIGINT))
               AS xm
      FROM embeddings),
    isums AS (
      SELECT label, u.i AS dim,
             CAST(sum(xm[u.i + 1]) AS BIGINT) AS s,
             CAST(sum(xm[u.i + 1] * xm[u.i + 1]) AS BIGINT) AS s2,
             CAST(count(*) AS BIGINT) AS n
      FROM ix, unnest(range(64)) AS u(i)
      GROUP BY label, u.i),
    iper AS (
      SELECT label, n, s // n AS m, s2 // n AS a2 FROM isums),
    iagg AS (
      SELECT label, max(n) AS n_vectors,
             CAST(sum(m * m) AS BIGINT) AS mean_vec_norm2_micro,
             CAST(sum(a2) AS BIGINT) AS avg_norm2_micro
      FROM iper GROUP BY label)
    SELECT label, n_vectors, mean_vec_norm2_micro, avg_norm2_micro,
           CAST(mean_vec_norm2_micro * 1000000 // avg_norm2_micro AS BIGINT)
             AS anisotropy_micro
    FROM iagg
    """,
    tags=("similarity", "embedding", "audit", "isotropy", "extension"),
)
def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health isotropy audit: per label, the anisotropy ratio
    ||mean x||^2 / E[||x||^2] — near 0 for a centered isotropic cloud,
    near 1 for a collapsed one (every vector ≈ one direction).
    Representation collapse is the classic silent failure of embedding
    pipelines; this one-aggregate check catches it before a 100 TB
    similarity job runs on degenerate vectors.

    Exactness AND n-free integer bounds: components quantize to MILLI
    ints (|xm| ≲ 200 on these fixtures), per-(label, dim) sums divide
    by n BEFORE the outer aggregate, so every intermediate is bounded
    by the dimension count times milli² — independent of corpus size —
    and the ratio hash-matches DuckDB under `div` truncation. Plan
    shape: one posexplode (64 rows/vector) into a map-side-combined
    (label, dim) aggregate, then a label-keyed reduction of 64-row
    groups; nothing else touches the corpus.

    Fixture vectors are sign-balanced uniform noise, so the measured
    anisotropy is a HEALTHY 0.015-0.030 across labels and scales — the
    test pins that range; a collapsed representation would push it
    toward 1 and fail loudly."""
    from etl_8million_data__spark.operators.probe import milli_components

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(milli_components(F.col("embedding"))).alias("dim", "v")
    )
    sums = ex.groupBy("label", "dim").agg(
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    per = sums.select(
        "label",
        "n",
        F.expr("s div n").alias("m"),
        F.expr("s2 div n").alias("a2"),
    )
    agg = per.groupBy("label").agg(
        F.max("n").alias("n_vectors"),
        F.sum(F.col("m") * F.col("m")).alias("mean_vec_norm2_micro"),
        F.sum("a2").alias("avg_norm2_micro"),
    )
    return agg.select(
        "label",
        "n_vectors",
        "mean_vec_norm2_micro",
        "avg_norm2_micro",
        F.expr("(mean_vec_norm2_micro * 1000000) div avg_norm2_micro")
        .cast("bigint")
        .alias("anisotropy_micro"),
    )


# --- Persisted-index twins: the same searches, but probing an index on
# DISK through the frozen-model load path (centroids / codebooks read
# from parquet, cell-partitioned vector/code files pruned by the probe's
# literal partition filter). The in-memory variants above prove the
# math; these prove the LAYOUT — train -> freeze -> persist -> load ->
# probe — which is the shape a 100 TB corpus actually runs (the fit
# amortizes into the stored index; a query touches nprobe/k_cells of
# the files, asserted on scan metrics in tests/test_incremental_ann.py).
# Probing the persisted index returns exactly what the in-memory
# composition computes, so each twin shares its sibling's oracle
# verbatim — the hash match IS the proof that persistence stayed a pure
# I/O optimization.


def _persisted_index_root(sf_dir: str, family: str) -> str:
    """Deterministic per-process scratch root for a query-built index:
    keyed by pid (concurrent test/driver processes never collide) and by
    the scale directory (the threaded parity sweep runs both scales at
    once). Rebuilt whole on every call (one commit) — idempotent."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"etl8m_idx_{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)),
        family,
    )


def _mmr_inputs(spark: SparkSession, sf_dir: str, guard_name: str):
    """The MMR family's shared inputs: per-query exact top-20 cosine
    shortlist (size-guarded brute force — the correctness baseline; at
    scale any probe_index_* shortlist slots in) and the pairwise
    similarities WITHIN each shortlist, both materialized once."""
    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        dot,
        knn_bruteforce,
        norm2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 200_000, guard_name,
        "feed mmr_select from a probe_index_* ANN shortlist",
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cands = knn_bruteforce(emb, queries, k=20).select(
        "query_id", "vec_id", F.col("cosine").alias("rel")
    ).localCheckpoint(eager=True)
    e = emb.select("vec_id", "embedding", norm2(F.col("embedding")).alias("n2"))
    ce = cands.select("query_id", "vec_id").join(e, "vec_id")
    a = ce.select(
        "query_id",
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("_va"),
        F.col("n2").alias("_na"),
    )
    b = ce.select(
        "query_id",
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("_vb"),
        F.col("n2").alias("_nb"),
    )
    sims = (
        a.join(b, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            (
                dot(F.col("_va"), F.col("_vb"))
                / (F.sqrt("_na") * F.sqrt("_nb"))
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    return cands, sims


_KM_IVF_ORACLE = f"""
    WITH {_KM_CTES},
    cor AS (SELECT a2.vec_id, a2.j AS cell, a2.x,
                   {_dot('a2.x', 'a2.x')} AS n2
            FROM a2),
    cq AS (SELECT c1.j AS cell,
                  list_transform(c1.cm, m -> m / 1000000.0) AS c
           FROM c1),
    q AS (SELECT vec_id AS query_id, x AS qx, n2 AS qn2
          FROM cor WHERE vec_id % 100 = 0),
    qd AS (SELECT q.query_id, q.qx, q.qn2, cq.cell,
                  list_reduce(list_prepend(0.0, list_transform(range(64),
                    i -> (q.qx[i+1] - cq.c[i+1]) * (q.qx[i+1] - cq.c[i+1]))),
                    (a, b) -> a + b) AS qd
           FROM q, cq),
    probes AS (SELECT query_id, qx, qn2, cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                                              ORDER BY qd, cell) AS rn
                 FROM qd) WHERE rn <= 2),
    scored AS (SELECT p.query_id, cor.vec_id,
                      {_dot('p.qx', 'cor.x')} / (sqrt(p.qn2) * sqrt(cor.n2))
                        AS cosine
               FROM probes p JOIN cor
                 ON cor.cell = p.cell AND cor.vec_id <> p.query_id)
    SELECT query_id, vec_id, cosine, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 10
"""


@register(
    "similarity_knn_ivf_kmeans_persisted",
    oracle=_KM_IVF_ORACLE,
    tags=("similarity", "knn", "ivf", "kmeans", "persisted-index", "extension",
          "approx", "scale-path"),
)
def similarity_knn_ivf_kmeans_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity_knn_ivf_kmeans through the persisted-index path:
    kmeans_fit trains once and freezes ``centroids/`` + cell-partitioned
    ``vectors/`` on disk (operators/incremental_ann.build_index_kmeans);
    the probe then LOADS the frozen centroids, routes each query to its
    2 nearest cells, and pushes the bounded probed-cell set as a literal
    partition filter so only those cells' files are listed — the I/O
    shape the in-memory variant's docstring promises, here actually
    executed and hash-checked against the SAME oracle as the in-memory
    query. Appends against the frozen centroids (no retrain) are the
    incremental path, tested in tests/test_incremental_ann.py."""
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_kmeans,
        probe_index_kmeans,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    root = _persisted_index_root(sf_dir, "ivf_kmeans")
    build_index_kmeans(emb, root, k_cells=8, iters=2)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return probe_index_kmeans(spark, root, q, k=10, nprobe=2).select(
        "query_id", "vec_id", "cosine", "rn"
    )


@register(
    "similarity_knn_ivf_pq_persisted",
    oracle=f"""
    WITH {_IVFPQ_CTES},
    {_IVFPQ_QUERY_CTES}
    SELECT query_id, vec_id, adc_micro, rn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_micro, vec_id) AS rn
          FROM vscore)
    WHERE rn <= 10
    """,
    tags=("similarity", "knn", "ivf", "pq", "persisted-index", "extension",
          "approx", "scale-path"),
)
def similarity_knn_ivf_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity_knn_ivf_pq through the persisted-index path — the PQ
    CODEBOOK LOAD path a production store runs: coarse centroids and the
    16x16 residual codebook are read back from ``centroids/`` and
    ``codebook/`` parquet (trained + frozen by build_index_ivfpq), the
    query LUTs are built against the LOADED codebook, and only the
    probed cells' packed codes stream through the ADC join (routed
    literal partition filter on ``codes/cell=``). Hash-checked against
    the same oracle as the in-memory query — the proof that train ->
    freeze -> load -> probe loses nothing."""
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_ivfpq,
        probe_index_ivfpq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    root = _persisted_index_root(sf_dir, "ivfpq")
    build_index_ivfpq(emb, root, k_cells=8, km_iters=2, m=16, ksub=16, pq_iters=2)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return probe_index_ivfpq(spark, root, q, k=10, nprobe=2).select(
        "query_id", "vec_id", "adc_micro", "rn"
    )


def _mmr_ctes(k: int, p: str = "", lam: float = 0.5) -> str:
    """Unrolled greedy-MMR rounds over CTEs ``cand``(query_id, vec_id,
    rel) and ``sims``(query_id, a, b, sim) — the SQL mirror of
    operators/similarity.mmr_select's fixed-round driver loop, same
    (score desc, vec_id) tie-break. ``lam`` must be an exactly-
    representable double (the Spark side multiplies by the same
    literal, so scores stay bitwise-equal); ``p`` prefixes CTE names so
    several chains (the λ tuning grid) can coexist in one query.
    ``{p}mmr_out`` is the final (query_id, rank, vec_id, mmr_score)
    union."""
    score = f"rel * {lam!r} - ms * {1.0 - lam!r}"
    parts = [
        f"""{p}sel1 AS MATERIALIZED (
      SELECT query_id, 1 AS rank, vec_id, rel AS mmr_score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, vec_id) AS rn
        FROM cand) WHERE rn = 1),
    {p}selall1 AS MATERIALIZED (SELECT query_id, vec_id FROM {p}sel1),
    {p}rem1 AS MATERIALIZED (SELECT c.* FROM cand c LEFT JOIN {p}selall1 s
             ON s.query_id = c.query_id AND s.vec_id = c.vec_id
             WHERE s.vec_id IS NULL)"""
    ]
    for j in range(2, k + 1):
        parts.append(
            f"""{p}ms{j} AS MATERIALIZED (
      SELECT r.query_id, r.vec_id, r.rel, max(s.sim) AS ms
      FROM {p}rem{j - 1} r
      JOIN sims s ON s.query_id = r.query_id AND s.a = r.vec_id
      JOIN {p}selall{j - 1} t ON t.query_id = s.query_id AND t.vec_id = s.b
      GROUP BY r.query_id, r.vec_id, r.rel),
    {p}sel{j} AS MATERIALIZED (
      SELECT query_id, {j} AS rank, vec_id,
             {score} AS mmr_score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY {score} DESC, vec_id) AS rn
        FROM {p}ms{j}) WHERE rn = 1),
    {p}selall{j} AS MATERIALIZED (SELECT query_id, vec_id FROM {p}selall{j - 1}
                  UNION ALL SELECT query_id, vec_id FROM {p}sel{j}),
    {p}rem{j} AS MATERIALIZED (SELECT c.* FROM {p}rem{j - 1} c LEFT JOIN {p}sel{j} s
               ON s.query_id = c.query_id AND s.vec_id = c.vec_id
               WHERE s.vec_id IS NULL)"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT query_id, rank, vec_id, mmr_score FROM {p}sel{j}"
        for j in range(1, k + 1)
    )
    parts.append(f"{p}mmr_out AS MATERIALIZED (\n      {union})")
    return ",\n    ".join(parts)


@register(
    "search_mmr_diversified",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, n2 AS qn2
          FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, e.vec_id, e.embedding, e.n2,
             {_dot('q.qvec', 'e.embedding')} / (sqrt(q.qn2) * sqrt(e.n2)) AS rel
      FROM q JOIN e ON e.vec_id <> q.query_id),
    cand AS (
      SELECT query_id, vec_id, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 20),
    ce AS (SELECT c.query_id, c.vec_id, e.embedding, e.n2
           FROM cand c JOIN e ON e.vec_id = c.vec_id),
    sims AS (
      SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
             {_dot('a.embedding', 'b.embedding')} / (sqrt(a.n2) * sqrt(b.n2)) AS sim
      FROM ce a JOIN ce b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
    {_mmr_ctes(5)}
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, mmr_score
    FROM mmr_out
    """,
    tags=("search", "mmr", "diversity", "extension", "selection"),
)
def search_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversified top-5 per query
    (Carbonell & Goldstein 1998): from each query's exact top-20 cosine
    shortlist, greedily select 5 results maximizing
    ``rel/2 - max_sim_to_already_selected/2`` — the retrieval/data-
    selection primitive that stops a result set (or a sampled training
    batch) from collapsing onto near-duplicates of one neighbor. The
    greedy loop is a FIXED 5 rounds of bounded relational steps
    (operators/similarity.mmr_select), so the entire iterative
    selection hash-matches the unrolled-CTE DuckDB mirror exactly.

    Scale shape: MMR's cost is independent of corpus size — it consumes
    a per-query SHORTLIST (here the guarded exact top-20; at 100 TB the
    same operator is fed from probe_index_* ANN shortlists) and every
    round's frames are |Q| x 20 keyed by query_id; the pairwise sims
    table is |Q| x 20 x 19 rows, built once."""
    from etl_8million_data__spark.operators.similarity import mmr_select

    cands, sims = _mmr_inputs(spark, sf_dir, "search_mmr_diversified")
    return mmr_select(cands, sims, k=5).select(
        "query_id", "rank", "vec_id", "mmr_score"
    )


_MMR_BASE_CTES = f"""
    e AS (
      SELECT vec_id, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, n2 AS qn2
          FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, e.vec_id, e.embedding, e.n2,
             {_dot('q.qvec', 'e.embedding')} / (sqrt(q.qn2) * sqrt(e.n2)) AS rel
      FROM q JOIN e ON e.vec_id <> q.query_id),
    cand AS (
      SELECT query_id, vec_id, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 20),
    ce AS (SELECT c.query_id, c.vec_id, e.embedding, e.n2
           FROM cand c JOIN e ON e.vec_id = c.vec_id),
    sims AS (
      SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
             {_dot('a.embedding', 'b.embedding')} / (sqrt(a.n2) * sqrt(b.n2)) AS sim
      FROM ce a JOIN ce b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id)"""

_LAM_GRID = ((0, 0.0, "la"), (25, 0.25, "lb"), (50, 0.5, "lc"),
             (75, 0.75, "ld"), (100, 1.0, "le"))


def _mmr_curve_oracle() -> str:
    chains = ",\n    ".join(_mmr_ctes(5, p=p, lam=lam) for _, lam, p in _LAM_GRID)
    per_lam = "\n      UNION ALL ".join(
        f"""SELECT {pct} AS lam_pct,
             (SELECT CAST(count(*) AS BIGINT)
              FROM {p}mmr_out) AS n_selected,
             (SELECT CAST(sum(CAST(floor(c.rel * 1000000) AS BIGINT)) AS BIGINT)
              FROM {p}mmr_out m JOIN cand c
                ON c.query_id = m.query_id AND c.vec_id = m.vec_id)
               AS sum_rel_micro,
             (SELECT CAST(coalesce(sum(CAST(floor(s.sim * 1000000) AS BIGINT)), 0) AS BIGINT)
              FROM {p}mmr_out x JOIN {p}mmr_out y
                ON y.query_id = x.query_id AND x.vec_id < y.vec_id
              JOIN sims s ON s.query_id = x.query_id
                AND s.a = x.vec_id AND s.b = y.vec_id)
               AS sum_pairsim_micro"""
        for pct, _, p in _LAM_GRID
    )
    return f"""
    WITH {_MMR_BASE_CTES},
    {chains}
    SELECT * FROM ({per_lam})
    ORDER BY lam_pct
    """


@register(
    "search_mmr_lambda_curve",
    oracle=_mmr_curve_oracle(),
    tags=("search", "mmr", "diversity", "tuning-curve", "extension"),
)
def search_mmr_lambda_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MMR tuning curve — the nprobe-curve analog for diversified
    selection: run the greedy top-5 at λ ∈ {0, ¼, ½, ¾, 1} over one
    shared shortlist+sims build and report, per λ, the selected set's
    total relevance and total pairwise similarity (both as exact
    integer micros, so the whole curve hash-matches the 5-chain
    unrolled oracle). Reading the curve picks production λ: relevance
    rises monotonically with λ while pairwise similarity jumps ~7-18×
    from λ=½ to λ=1 on these fixtures — the measured cost of dropping
    diversity. Every λ is an exactly-representable double and the
    shared inputs are computed once; each chain's rounds are the same
    bounded relational steps as search_mmr_diversified."""
    from etl_8million_data__spark.operators.similarity import mmr_select

    cands, sims = _mmr_inputs(spark, sf_dir, "search_mmr_lambda_curve")
    out = None
    for pct, lam, _ in _LAM_GRID:
        sel = mmr_select(cands, sims, k=5, lam=lam).select(
            F.lit(pct).cast("int").alias("lam_pct"), "query_id", "vec_id"
        )
        out = sel if out is None else out.unionByName(sel)
    rel_sum = (
        out.join(cands, ["query_id", "vec_id"])
        .groupBy("lam_pct")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(F.floor(F.col("rel") * 1_000_000).cast("bigint"))
            .cast("bigint")
            .alias("sum_rel_micro"),
        )
    )
    sa = out.select("lam_pct", "query_id", F.col("vec_id").alias("a"))
    sb = out.select("lam_pct", "query_id", F.col("vec_id").alias("b"))
    pair_sum = (
        sa.join(sb, ["lam_pct", "query_id"])
        .filter(F.col("a") < F.col("b"))
        .join(sims, ["query_id", "a", "b"])
        .groupBy("lam_pct")
        .agg(
            F.coalesce(
                F.sum(F.floor(F.col("sim") * 1_000_000).cast("bigint")), F.lit(0)
            )
            .cast("bigint")
            .alias("sum_pairsim_micro")
        )
    )
    return (
        rel_sum.join(pair_sum, "lam_pct")
        .select("lam_pct", "n_selected", "sum_rel_micro", "sum_pairsim_micro")
        .orderBy("lam_pct")
    )


# Ranked-retrieval EVALUATION (round 9): the metric layer every search
# stack needs next to its operators — given a ranking and relevance
# judgments, score it. Relevance here is label agreement (qrels derived
# deterministically from the embeddings fixture's label column: a doc
# is relevant to a query iff it shares the query's label — 10 classes
# x 50 docs, so every query has 49 relevant docs and ideal@10 is
# always 10 deep). The log2 rank discounts are PRE-FLOORED integer
# micro LITERALS shared verbatim by both engines, so nDCG reduces to
# integer arithmetic — no cross-engine libm last-ulp risk.
_DISC_MICRO = (1000000, 630929, 500000, 430676, 386852,
               356207, 333333, 315464, 301029, 289064)
_DISC_SQL = "(VALUES " + ", ".join(
    f"({r + 1}, {d})" for r, d in enumerate(_DISC_MICRO)
) + ") AS d(rn, d_micro)"
_IDCG10 = sum(_DISC_MICRO)


@register(
    "search_eval_ndcg_mrr",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qvec, n2 AS qn2
          FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, q.qlabel, e.vec_id, e.label,
             {_dot('q.qvec', 'e.embedding')} / (sqrt(q.qn2) * sqrt(e.n2)) AS cosine
      FROM q JOIN e ON e.vec_id <> q.query_id),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
      FROM scored),
    top AS (
      SELECT query_id,
             rn,
             CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
      FROM ranked WHERE rn <= 10)
    SELECT t.query_id,
           CAST(sum(t.rel) AS BIGINT) AS n_rel_top10,
           CAST(sum(t.rel * d.d_micro) AS BIGINT) AS dcg_micro,
           CAST((1000000 * sum(t.rel * d.d_micro)) // {_IDCG10} AS BIGINT)
             AS ndcg_micro,
           CAST(coalesce(1000000 // min(CASE WHEN t.rel = 1 THEN t.rn END), 0)
             AS BIGINT) AS rr_micro,
           CAST(sum(t.rel) * 100000 AS BIGINT) AS p10_micro
    FROM top t JOIN {_DISC_SQL} ON d.rn = t.rn
    GROUP BY t.query_id
    """,
    tags=("search", "evaluation", "extension"),
)
def search_eval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 / MRR / P@10 of the exact cosine ranking against
    label-match qrels — one row per query with every metric in exact
    integer micro units.

    Scale shape: the ranking reuses knn_bruteforce's plan (queries
    broadcast, one corpus scan — or swap in any ANN ranking: the
    metric layer only consumes (query_id, vec_id, rn)); qrels is a
    broadcast (query_id, qlabel) column pinned onto the top-k rows
    (|Q| x 10, trivially small); the discount join is against a
    10-row literal table. Every judged corpus label has >= 10
    relevant docs for any query (10 classes x 50 docs), so ideal@10
    is the full 10-term discount sum — a constant — and nDCG is
    1e6*DCG div IDCG in exact integers. MRR uses 1e6 div first-hit
    rank; ties and the no-hit case (rr = 0) are total on both
    engines."""
    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        knn_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 200_000, "search_eval_ndcg_mrr", "similarity_knn_ivf + the same metrics"
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ranked = knn_bruteforce(emb, queries, k=10).select("query_id", "vec_id", "rn")
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    disc = spark.createDataFrame(
        [(r + 1, d) for r, d in enumerate(_DISC_MICRO)], "rn int, d_micro bigint"
    )
    top = (
        ranked.join(labels, "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .select(
            "query_id",
            "rn",
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
        )
        .join(F.broadcast(disc), "rn")
    )
    return top.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel_top10"),
        F.sum(F.col("rel") * F.col("d_micro")).cast("bigint").alias("dcg_micro"),
        F.expr(f"(1000000 * sum(rel * d_micro)) div {_IDCG10}")
        .cast("bigint")
        .alias("ndcg_micro"),
        F.coalesce(
            F.expr("1000000 div min(CASE WHEN rel = 1 THEN rn END)"), F.lit(0)
        )
        .cast("bigint")
        .alias("rr_micro"),
        (F.sum("rel") * 100000).cast("bigint").alias("p10_micro"),
    )


@register(
    "search_eval_ndcg_ann",
    oracle=f"""
    WITH {_IVF_CELLS},
    lab AS (SELECT vec_id, label FROM embeddings),
    qlab AS (SELECT vec_id AS query_id, label AS qlabel
             FROM embeddings WHERE vec_id % 100 = 0),
    bf_scored AS (
      SELECT q.query_id, e2.vec_id,
             {_dot('q.qvec', 'e2.embedding')} / (sqrt(q.qn2) * sqrt(e2.n2)) AS cosine
      FROM q JOIN e e2 ON e2.vec_id <> q.query_id),
    bf AS (
      SELECT query_id, vec_id, rn
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
            FROM bf_scored)
      WHERE rn <= 10),
    two AS (
      SELECT 'ann' AS src, query_id, vec_id, rn FROM ivf
      UNION ALL
      SELECT 'exact' AS src, query_id, vec_id, rn FROM bf),
    t AS (
      SELECT b.src, b.query_id, b.rn,
             CASE WHEN lab.label = ql.qlabel THEN 1 ELSE 0 END AS rel
      FROM two b
      JOIN lab ON lab.vec_id = b.vec_id
      JOIN qlab ql ON ql.query_id = b.query_id),
    m AS (
      SELECT t.src, t.query_id,
             CAST((1000000 * sum(t.rel * d.d_micro)) // {_IDCG10} AS BIGINT)
               AS ndcg_micro,
             CAST(coalesce(1000000 // min(CASE WHEN t.rel = 1 THEN t.rn END), 0)
               AS BIGINT) AS rr_micro,
             CAST(sum(t.rel) AS BIGINT) AS n_rel
      FROM t JOIN {_DISC_SQL} ON d.rn = t.rn
      GROUP BY t.src, t.query_id)
    SELECT query_id,
           max(CASE WHEN src = 'ann' THEN ndcg_micro END) AS ndcg_micro_ann,
           max(CASE WHEN src = 'exact' THEN ndcg_micro END) AS ndcg_micro_exact,
           max(CASE WHEN src = 'exact' THEN ndcg_micro END)
             - max(CASE WHEN src = 'ann' THEN ndcg_micro END) AS ndcg_loss_micro,
           max(CASE WHEN src = 'ann' THEN rr_micro END) AS rr_micro_ann,
           max(CASE WHEN src = 'ann' THEN n_rel END) AS n_rel_top10_ann
    FROM m GROUP BY query_id
    """,
    tags=("search", "evaluation", "ivf", "extension", "approx"),
)
def search_eval_ndcg_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TASK cost of ANN routing, measured: nDCG@10 / MRR of the
    SRP-IVF ranking vs the exact ranking on identical label-match
    qrels, per query, in exact integer micro. A recall@k gate
    (similarity_knn_ivf_recall) asks 'did ANN return the same docs';
    this asks the question a retrieval product owner asks — 'how much
    ranking QUALITY did the approximation cost' (ndcg_loss_micro can
    be 0 even when recall < 1, when the swapped-in docs are equally
    relevant). The metric layer is ranking-agnostic: both rankings
    flow through one union-tagged frame, a broadcast 10-row literal
    discount table, and one (src, query) aggregate — swapping in any
    other retrieval channel costs nothing. Deterministic end to end
    (both rankings and all metrics are oracle-hash-matched)."""
    from etl_8million_data__spark.operators.similarity import adaptive_n_bits

    emb = load_table(spark, sf_dir, "embeddings")
    nb = adaptive_n_bits(emb.count(), _TARGET_BUCKET, _MIN_BITS, _MAX_BITS)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = knn_ivf(emb, queries, _W, k=10, nprobe=_NPROBE, n_bits=nb).select(
        F.lit("ann").alias("src"), "query_id", "vec_id", "rn"
    )
    from etl_8million_data__spark.operators.similarity import knn_bruteforce

    exact = knn_bruteforce(emb, queries, k=10).select(
        F.lit("exact").alias("src"), "query_id", "vec_id", "rn"
    )
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    disc = spark.createDataFrame(
        [(r + 1, d) for r, d in enumerate(_DISC_MICRO)], "rn int, d_micro bigint"
    )
    t = (
        ann.unionByName(exact)
        .join(labels, "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .select(
            "src",
            "query_id",
            "rn",
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
        )
        .join(F.broadcast(disc), "rn")
    )
    m = t.groupBy("src", "query_id").agg(
        F.expr(f"(1000000 * sum(rel * d_micro)) div {_IDCG10}")
        .cast("bigint")
        .alias("ndcg_micro"),
        F.coalesce(
            F.expr("1000000 div min(CASE WHEN rel = 1 THEN rn END)"), F.lit(0)
        )
        .cast("bigint")
        .alias("rr_micro"),
        F.sum("rel").cast("bigint").alias("n_rel"),
    )
    ann_case = F.when(F.col("src") == "ann", F.col("ndcg_micro"))
    exact_case = F.when(F.col("src") == "exact", F.col("ndcg_micro"))
    return m.groupBy("query_id").agg(
        F.max(ann_case).alias("ndcg_micro_ann"),
        F.max(exact_case).alias("ndcg_micro_exact"),
        (F.max(exact_case) - F.max(ann_case)).alias("ndcg_loss_micro"),
        F.max(F.when(F.col("src") == "ann", F.col("rr_micro"))).alias("rr_micro_ann"),
        F.max(F.when(F.col("src") == "ann", F.col("n_rel"))).alias(
            "n_rel_top10_ann"
        ),
    )


def _pca2_oracle(iters: int = 3) -> str:
    """Two-component PCA oracle: chain 1 on the raw corpus, a deflation
    CTE (x2 = x - proj_u(x), u = v_iters/1e6 — scale-invariant Gram-
    Schmidt projection with the shared left-fold dot order), chain 2 on
    the deflated corpus, both components unioned."""
    parts = [
        "e AS (SELECT list_transform(embedding, v -> v::DOUBLE) AS x FROM embeddings)",
    ]
    parts += _power_iter_chain("e", "", iters)
    parts.append(f"""uvec AS (
      SELECT list_transform(v{iters}.vm, m -> m / 1000000.0) AS u,
             list_reduce(list_prepend(0.0, list_transform(v{iters}.vm,
               m -> (m / 1000000.0) * (m / 1000000.0))), (a, b) -> a + b) AS uu
      FROM v{iters})""")
    parts.append("""e2 AS (
      SELECT list_transform(range(64), j ->
               x[j+1] - (list_reduce(list_prepend(0.0, list_transform(range(64),
                 k -> x[k+1] * u[k+1])), (a, b) -> a + b) / uu) * u[j+1]) AS x
      FROM e, uvec)""")
    parts += _power_iter_chain("e2", "q", iters)
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT * FROM (
      SELECT 1 AS component, CAST(u.j AS INT) AS dim, v{iters}.vm[u.j+1] AS v_micro
      FROM v{iters}, unnest(range(64)) AS u(j)
      UNION ALL
      SELECT 2 AS component, CAST(u.j AS INT) AS dim, qv{iters}.vm[u.j+1] AS v_micro
      FROM qv{iters}, unnest(range(64)) AS u(j))
    """
    )


@register(
    "embedding_pca_two_components",
    oracle=_pca2_oracle(3),
    tags=("similarity", "embedding", "spectral", "iterative", "extension"),
)
def embedding_pca_two_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TWO principal directions by power iteration + DEFLATION —
    the step from anisotropy diagnosis (embedding_top_component) to an
    actual low-rank basis (2-D whitening / visualization / spectral
    hashing with 2 bits): component 1 is the standard fixed-point
    power iteration; the corpus is then deflated by the scale-
    invariant Gram-Schmidt projection x - (x·u / u·u)·u (u = the
    micro vector re-scaled — invariant to its max-normalization, and
    every dot uses the one shared left-fold order so the doubles are
    bit-identical cross-engine); component 2 is the same iteration on
    the deflated corpus.  Both 64-dim micro vectors — the ENTIRE
    iterative result — hash-match the DuckDB replay.

    Scale shape: deflation is one broadcast of the 1-row direction +
    a narrow map (no shuffle); each iteration is the top-component
    shape (posexplode → 64 partial sums with map-side combine), so
    2 components cost exactly 2x one, and k components cost k·iters
    bounded passes — never a d x d Gram materialization, which at
    d = 4096 embedding dims would be the memory cliff."""
    from etl_8million_data__spark.operators.similarity import (
        power_iteration_top_component,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v1 = power_iteration_top_component(emb, iters=3)
    u = v1.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "v_micro"))),
            lambda e: e["v_micro"] / 1_000_000.0,
        ).alias("u")
    ).select(
        "u",
        F.aggregate(
            F.transform("u", lambda m: m * m), F.lit(0.0), lambda a, b: a + b
        ).alias("uu"),
    )
    x = emb.select(
        F.transform("embedding", lambda v: v.cast("double")).alias("x")
    )
    r = (
        F.aggregate(
            F.zip_with("x", "u", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        / F.col("uu")
    )
    deflated = (
        x.crossJoin(F.broadcast(u))
        .select(F.zip_with("x", F.transform("u", lambda m: m * r), lambda a, b: a - b).alias("embedding"))
    )
    v2 = power_iteration_top_component(deflated, iters=3)
    return v1.select(
        F.lit(1).cast("int").alias("component"), "dim", "v_micro"
    ).unionByName(
        v2.select(F.lit(2).cast("int").alias("component"), "dim", "v_micro")
    )


@register(
    "search_eval_map_recall",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             {_dot('embedding', 'embedding')} AS n2
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qvec, n2 AS qn2
          FROM e WHERE vec_id % 100 = 0),
    nrel AS (
      SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_relevant
      FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.query_id
      GROUP BY 1),
    scored AS (
      SELECT q.query_id, q.qlabel, e.vec_id, e.label,
             {_dot('q.qvec', 'e.embedding')} / (sqrt(q.qn2) * sqrt(e.n2)) AS cosine
      FROM q JOIN e ON e.vec_id <> q.query_id),
    top AS (
      SELECT query_id, rn,
             CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
            FROM scored)
      WHERE rn <= 10),
    cum AS (
      SELECT query_id, rn, rel,
             CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rn) AS BIGINT)
               AS hits_at_k
      FROM top)
    SELECT c.query_id,
           CAST(sum(CASE WHEN c.rn <= 5 THEN c.rel ELSE 0 END) AS BIGINT)
             AS hits_at_5,
           CAST(sum(c.rel) AS BIGINT) AS hits_at_10,
           CAST((1000000 * sum(CASE WHEN c.rn <= 5 THEN c.rel ELSE 0 END))
                // least(r.n_relevant, 5) AS BIGINT) AS recall5_micro,
           CAST((1000000 * sum(c.rel)) // least(r.n_relevant, 10) AS BIGINT)
             AS recall10_micro,
           CAST(sum(CASE WHEN c.rel = 1
                         THEN (1000000 * c.hits_at_k) // c.rn ELSE 0 END)
                // least(r.n_relevant, 10) AS BIGINT) AS ap10_micro
    FROM cum c JOIN nrel r ON r.query_id = c.query_id
    GROUP BY c.query_id, r.n_relevant
    """,
    tags=("search", "evaluation", "extension"),
)
def search_eval_map_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AP@10 and recall@{5,10} per query against label-match qrels —
    completing the retrieval-eval layer next to nDCG/MRR: precision at
    each hit is the truncating-integer-micro ratio hits_at_k div k
    (exact on both engines), AP is their sum div min(R, 10), recall
    divides by the TRUE per-query relevant count (computed in-frame,
    not assumed). The cumulative-hit window partitions by query over
    <= 10 rows — bounded state; everything else is the broadcast
    metric-layer shape of search_eval_ndcg_mrr."""
    from pyspark.sql import Window

    from etl_8million_data__spark.operators.similarity import (
        assert_baseline_scale,
        knn_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assert_baseline_scale(
        emb, 200_000, "search_eval_map_recall", "similarity_knn_ivf + the same metrics"
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    nrel = (
        qlab.join(labels, F.col("label") == F.col("qlabel"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_relevant"))
    )
    ranked = knn_bruteforce(emb, queries, k=10).select("query_id", "vec_id", "rn")
    top = (
        ranked.join(labels, "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .select(
            "query_id",
            "rn",
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("rn")
    cum = top.withColumn(
        "hits_at_k", F.sum("rel").over(w).cast("bigint")
    )
    return (
        cum.join(F.broadcast(nrel), "query_id")
        .groupBy("query_id", "n_relevant")
        .agg(
            F.sum(F.when(F.col("rn") <= 5, F.col("rel")).otherwise(0))
            .cast("bigint")
            .alias("hits_at_5"),
            F.sum("rel").cast("bigint").alias("hits_at_10"),
            F.expr(
                "(1000000 * sum(CASE WHEN rn <= 5 THEN rel ELSE 0 END))"
                " div least(n_relevant, 5)"
            )
            .cast("bigint")
            .alias("recall5_micro"),
            F.expr("(1000000 * sum(rel)) div least(n_relevant, 10)")
            .cast("bigint")
            .alias("recall10_micro"),
            F.expr(
                "sum(CASE WHEN rel = 1 THEN (1000000 * hits_at_k) div rn"
                " ELSE 0 END) div least(n_relevant, 10)"
            )
            .cast("bigint")
            .alias("ap10_micro"),
        )
        .drop("n_relevant")
    )
