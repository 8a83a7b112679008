"""Similarity search over embedding columns (SURVEY.md §7.2(4)).

Cosine arithmetic is an explicit left-fold over the array so results
are bit-identical to the DuckDB oracle (same cast-to-double, same
accumulation order). Brute-force top-k is the correctness baseline;
the scale path is an SRP inverted file (sign-bit cells from
deterministic integer hyperplanes + multiprobe bit-flipping): at
100 TB the candidate set per query shrinks from |N| to
|N| * nprobe / 2^n_bits, cell assignment is a narrow map over the
scan, and the probe table is broadcast.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)


def hyperplane_weights(n_planes: int = 32, dim: int = 64) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes: integer weights derived
    from md5(plane,dim), centered on 0. Integers (not floats) so the
    projection arithmetic is reproducible in any engine."""
    return [
        [
            int(hashlib.md5(f"{p},{d}".encode()).hexdigest()[:4], 16) - 32768
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


class CorrectnessBaselineScaleError(RuntimeError):
    """An all-pairs / full-broadcast correctness baseline was invoked on
    an input too large for its quadratic plan."""


def assert_baseline_scale(df: DataFrame, max_rows: int, what: str, twin: str) -> None:
    """Size-guard for correctness-baseline queries whose plans are
    deliberately quadratic (all-pairs join / full-table broadcast).
    They exist to validate the sub-quadratic scale paths on small
    fixtures; on a large input the broadcast alone OOMs long after the
    plan was submitted — this fails FAST with a pointer to the twin
    instead. The count is one cheap metadata-friendly job before the
    quadratic stage is ever scheduled."""
    n = df.count()
    if n > max_rows:
        raise CorrectnessBaselineScaleError(
            f"{what} is a correctness baseline with O(n^2) cost, guarded at "
            f"{max_rows} rows; input has {n}. Use its sub-quadratic twin "
            f"{twin} at this scale."
        )


def adaptive_n_bits(
    n: int, target_bucket: int = 32, min_bits: int = 4, max_bits: int = 16
) -> int:
    """Scale-adaptive SRP bit-width: the smallest ``b`` in
    [min_bits, max_bits] with ``n <= target_bucket * 2^b`` — i.e.
    planes grow ~log2(n / target_bucket) so expected bucket size stays
    ~target_bucket as the corpus grows, keeping LSH candidate volume
    sub-quadratic instead of degenerating toward n²/2^b at fixed b.

    Pure integer comparisons (no float log2), so the DuckDB oracle can
    embed the identical CASE chain and both engines agree bit-for-bit
    at any corpus size. At max_bits=16 a table has 65,536 cells; for
    corpora beyond ~2M vectors raise max_bits (cells should hold
    roughly one shuffle partition each)."""
    b = min_bits
    while b < max_bits and n > target_bucket * (1 << b):
        b += 1
    return b


# Vector kernels: ONE contract in TWO forms.
#
# - HOF fold — :func:`dot`, :func:`norm2`, :func:`cosine`: an
#   ``aggregate`` over ``zip_with``/``transform`` of the double casts,
#   the expression the DuckDB oracle runs as ``list_reduce``. Use it on
#   small frames (per-row norms, shortlist re-ranks, routing against a
#   few centroids): it needs no Python worker, but higher-order
#   functions are CodegenFallback — interpreted per element per row.
# - Arrow sequential fold — :func:`dot_arrow_seqfold`,
#   :func:`sqdist_arrow_seqfold`, :func:`cosine_arrow` and the codebook
#   argmin/encode UDFs: numpy replays the SAME left-to-right float64
#   fold ((0 + t0) + t1) + ... vectorized ACROSS the rows of an Arrow
#   batch, so every value is bit-identical to the HOF form. Use it for
#   high-volume pair scoring and corpus-sized codebook passes, where
#   the interpreted fold dominates.
#
# Inputs, for both forms: a NULL vector yields NULL (the codebook UDFs,
# whose output struct is non-nullable, raise a ValueError naming the
# kernel instead). Vectors must have one length: the Arrow form raises
# a ValueError naming both lengths (within a batch, between ``a`` and
# ``b``, or against the codebook); the HOF fold yields NULL instead
# (zip_with pads the shorter side with NULLs). Neither form returns a
# truncated sum. :func:`_stack` owns the Arrow side of this contract.


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def dot(a: Column, b: Column) -> Column:
    """HOF-fold dot product ((0.0 + a0*b0) + a1*b1) + ... over the
    double casts."""
    return _fold_sum(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    )


def norm2(a: Column) -> Column:
    """HOF-fold squared norm, the fold of :func:`dot` with itself."""
    return _fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double")))


def cosine(
    a: Column,
    b: Column,
    na: Column | None = None,
    nb: Column | None = None,
) -> Column:
    """dot/(sqrt(|a|)*sqrt(|b|)); pass precomputed squared norms to
    avoid recomputation in joins."""
    na = norm2(a) if na is None else na
    nb = norm2(b) if nb is None else nb
    return dot(a, b) / (F.sqrt(na) * F.sqrt(nb))


def _stack(
    kernel: str, *cols: pd.Series, width: int | None = None
) -> tuple[np.ndarray, list[np.ndarray]]:
    """The Arrow form's input contract. Returns the mask of rows where
    every column is non-NULL and, per column, those rows stacked into a
    float64 (rows x length) matrix. With a codebook ``width`` a NULL
    vector raises instead (the codebook UDFs' output is non-nullable).
    Raises a ValueError naming ``kernel`` and both lengths when vectors
    differ in length within a column, between columns, or from
    ``width``."""
    keep = np.ones(len(cols[0]), dtype=bool)
    for c in cols:
        keep &= c.notna().to_numpy()
    full = keep.all()
    if width is not None and not full:
        raise ValueError(f"{kernel}: NULL vector")
    mats = []
    for c in cols:
        v = c.to_numpy() if full else c.to_numpy()[keep]
        if len(v) == 0:
            mats.append(np.empty((0, width or 0)))
            continue
        try:
            mats.append(np.stack(v).astype(np.float64, copy=False))
        except ValueError:
            lens = sorted({len(x) for x in v})
            raise ValueError(
                f"{kernel}: vector lengths {lens[0]} and {lens[-1]} in one batch"
            ) from None
    want = width if width is not None else mats[0].shape[1]
    for m in mats:
        if len(m) and m.shape[1] != want:
            raise ValueError(f"{kernel}: vector length {m.shape[1]} != {want}")
    return keep, mats


def _seqfold(x: np.ndarray, y: np.ndarray, term) -> np.ndarray:
    """Per row of ``x``: ((0 + t0) + t1) + ... with t_i =
    term(x[:, i], y[..., i]) — ``y`` is a matching matrix or one
    vector broadcast to every row."""
    acc = np.zeros(x.shape[0], dtype=np.float64)
    for i in range(x.shape[1]):
        acc = acc + term(x[:, i], y[..., i])
    return acc


def _sqdiff(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    d = p - q
    return d * d


def _codebooks(cb) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Collected (sub, j, cm) codebook rows -> {sub: (j, cm / 1e6)},
    j ascending — the argmin's tie-break order — with the same
    bigint -> double divide the HOF fold runs."""
    rows: dict[int, list] = {}
    for s, j, c in sorted(cb, key=lambda r: r[:2]):
        rows.setdefault(s, []).append((j, c))
    return {
        s: (
            np.asarray([j for j, _ in r], dtype=np.int64),
            np.asarray([list(c) for _, c in r], dtype=np.float64) / 1_000_000.0,
        )
        for s, r in rows.items()
    }


def _nearest(x: np.ndarray, mu: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index and squared distance of each row's nearest centroid row of
    ``mu``, every distance the sequential fold; ``np.argmin`` takes the
    FIRST minimum, so over a j-ascending codebook ties break to the
    smallest j — array_min's (dist, j) order."""
    dists = np.empty((x.shape[0], len(mu)), dtype=np.float64)
    for kk in range(len(mu)):
        dists[:, kk] = _seqfold(x, mu[kk], _sqdiff)
    pick = np.argmin(dists, axis=1)
    return pick, dists[np.arange(len(pick)), pick]


def _pair_fold(kernel: str, a: pd.Series, b: pd.Series, term) -> pd.Series:
    keep, (x, y) = _stack(kernel, a, b)
    out = np.full(len(keep), np.nan)
    out[keep] = _seqfold(x, y, term)
    # NaN leaves the UDF as NULL (Arrow conversion masks it)
    return pd.Series(out)


# DataType instance, NOT a DDL string: the string form is parsed via
# the ACTIVE SparkContext at decoration time, which would make this
# module un-importable before a session exists (driver compile checks,
# session-less tooling).
@F.pandas_udf(DoubleType())
def dot_arrow_seqfold(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow form of :func:`dot`: per pair, precisely
    ((((0 + p0) + p1) + …) + p63), bit-identical to the interpreted
    fold and to DuckDB's list_reduce. Measured on the
    dedup_semantic_keepers verify (252k candidate pairs at sf0.1):
    1.29 -> 0.98 s best-of-5, identical keep set. Lives at module level
    so reused Python workers keep it cached across tasks."""
    return _pair_fold("dot_arrow_seqfold", a, b, np.multiply)


@F.pandas_udf(DoubleType())
def sqdist_arrow_seqfold(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow form of ``aggregate(zip_with(u, v, (p-q)*(p-q)))``: per
    pair ((0 + d0^2) + d1^2) + ..., bit-identical on both engines."""
    return _pair_fold("sqdist_arrow_seqfold", a, b, _sqdiff)


def cosine_arrow(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with the dot computed by the Arrow form — same
    values bit-for-bit; use on HIGH-VOLUME candidate-pair verifies
    (requires precomputed squared norms)."""
    return dot_arrow_seqfold(a, b) / (F.sqrt(na) * F.sqrt(nb))


def knn_bruteforce(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (queries ≪ corpus); the corpus is
    scanned once; ranking is a per-query window over |Q|·k rows after
    a cheap per-partition candidate cut is handled by the window itself.
    The |Q| x |corpus| pair dot — the dominant cost — runs in the Arrow
    form (:func:`dot_arrow_seqfold`), so every vector must have the
    query vectors' length (a mismatch raises); a NULL vector scores
    NULL and ranks last."""
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_vec"),
        norm2(F.col(vec_col)).alias("_n2"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qvec"),
        norm2(F.col(query_vec_col)).alias("_qn2"),
    )
    pair_dot = dot_arrow_seqfold(F.col("_qvec"), F.col("_vec"))
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        (pair_dot / (F.sqrt("_qn2") * F.sqrt("_n2"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def lsh_bucket_array(
    vec: Column,
    weights: list[list[int]],
    tables: int = 8,
    planes_per_table: int = 4,
    stride: int | None = None,
) -> Column:
    """Signed-random-projection LSH: per table, an integer bucket whose
    bits are the signs of ``planes_per_table`` hyperplane projections.
    Vectors within cos θ share a table-bucket with prob (1-θ/π)^planes;
    multiple tables trade candidate volume for recall. Returns an array
    of ``tables`` bucket ints (a narrow map stage — only (id, table,
    bucket) ever reaches the shuffle).

    ``stride`` is the weight-row stride between tables: plane j of
    table t reads ``weights[t*stride + j]``. Pass the MAXIMUM bit-width
    (and size ``weights`` for it) when ``planes_per_table`` is
    count-adaptive — then growing the corpus widens each table with NEW
    planes instead of shifting which hyperplane every (table, plane)
    index denotes, so persisted buckets stay comparable across corpus
    growth. Defaults to ``planes_per_table`` (densely packed weights)."""
    stride = planes_per_table if stride is None else stride
    if stride < planes_per_table:
        raise ValueError(f"stride={stride} < planes_per_table={planes_per_table}")

    def proj(p: int) -> Column:
        # NOTE(r14): an unrolled 64-term form was tried here and REVERTED
        # — with tables x planes projections per row the duplicated
        # expression trees blew past the JIT method budget (driver heap
        # OOM compiling dedup_semantic_keepers). The HOF fold stays.
        w = F.array(*[F.lit(x) for x in weights[p]])
        return F.aggregate(
            F.zip_with(w, vec, lambda wi, xi: wi * xi.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    buckets = []
    for t in range(tables):
        b: Column = F.lit(0)
        for j in range(planes_per_table):
            b = b + F.when(proj(t * stride + j) > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
        buckets.append(b)
    return F.array(*buckets)


def lsh_candidate_pairs(
    emb: DataFrame,
    weights: list[list[int]],
    tables: int = 8,
    planes_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stride: int | None = None,
) -> DataFrame:
    """Distinct (vec_a < vec_b) pairs sharing any table-bucket."""
    sig = emb.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(
            lsh_bucket_array(F.col(vec_col), weights, tables, planes_per_table, stride)
        ).alias("tbl", "bucket"),
    ).localCheckpoint(eager=True)
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )


def projections(vec: Column, weights: list[list[int]], n_planes: int) -> Column:
    """Array of the first ``n_planes`` hyperplane projections of ``vec``
    — the same deterministic fold the LSH bucketer uses, exposed so the
    IVF quantizer and its DuckDB oracle share one definition."""

    def proj(p: int) -> Column:
        # NOTE(r14): an unrolled 64-term form was tried here and REVERTED
        # — with tables x planes projections per row the duplicated
        # expression trees blew past the JIT method budget (driver heap
        # OOM compiling dedup_semantic_keepers). The HOF fold stays.
        w = F.array(*[F.lit(x) for x in weights[p]])
        return F.aggregate(
            F.zip_with(w, vec, lambda wi, xi: wi * xi.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return F.array(*[proj(p) for p in range(n_planes)])


def srp_cell(projs: Column, n_bits: int) -> Column:
    """Signed-random-projection cell id: bit j set iff projection j is
    positive. The cells PARTITION the corpus (each vector lives in
    exactly one cell) — a true inverted file, data-driven and fully
    deterministic (integer hyperplanes, fixed fold order), so the whole
    quantizer is reproducible in any engine."""
    b: Column = F.lit(0)
    for j in range(n_bits):
        b = b + F.when(F.element_at(projs, j + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return b


def srp_probe_cells(projs: Column, n_bits: int, nprobe: int) -> Column:
    """Multiprobe sequence for a query: its own cell first, then the
    cells at Hamming distance 1 obtained by flipping the bits whose
    projection magnitude is smallest (the sign decisions most likely to
    differ for a true near neighbor — standard multiprobe LSH). Ties
    break on bit index, so the sequence is total-ordered and
    engine-portable. ``nprobe`` <= n_bits + 1."""
    if nprobe > n_bits + 1:
        raise ValueError(f"nprobe={nprobe} exceeds n_bits+1={n_bits + 1} (hamming-1 probing)")
    primary = srp_cell(projs, n_bits)
    flip_order = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(F.element_at(projs, j + 1)).alias("a"),
                    F.lit(j).alias("j"),
                )
                for j in range(n_bits)
            ]
        )
    )
    bitvals = F.array(*[F.lit(1 << j) for j in range(n_bits)])
    flipped = F.transform(
        F.slice(flip_order, 1, nprobe - 1),
        lambda s: primary.bitwiseXOR(F.element_at(bitvals, s["j"] + 1)),
    )
    return F.concat(F.array(primary), flipped)


def knn_ivf(
    emb: DataFrame,
    queries: DataFrame,
    weights: list[list[int]],
    k: int = 10,
    nprobe: int = 5,
    n_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    by_cols: list[str] | None = None,
) -> DataFrame:
    """Approximate top-k over an SRP inverted file: assign every corpus
    vector to one of 2^n_bits sign-bit cells (narrow map, no shuffle),
    route each query to ``nprobe`` cells by multiprobe bit-flipping,
    then score exactly only inside the probed cells.

    Scale shape: the candidate cut is nprobe / 2^n_bits of the corpus;
    at 100 TB raise n_bits so cells hold ~1 shuffle partition each —
    cell assignment stays a narrow map over the scan, and the only join
    is an UNHINTED equi-join on the cell id: AQE broadcasts the probe
    table (|Q| x nprobe rows) when it is genuinely small and falls back
    to a skew-splittable shuffle when |Q| grows with the corpus, so
    there is no broadcast memory cliff either way. Entirely
    deterministic (integer hyperplanes, fixed fold order), so the whole
    approximate result — not just its recall — is oracle-checkable.

    ``by_cols``: extra equi-join keys (present on BOTH inputs) ANDed
    with the cell key — this is FILTERED ANN done right: a metadata
    constraint (label, language, tenant) becomes part of the inverted
    file's routing key, so each probe scans only the constrained
    cells and k always fills, instead of post-filtering a global
    top-k."""
    by_cols = list(by_cols or [])
    e = emb.select(
        *by_cols,
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_vec"),
        norm2(F.col(vec_col)).alias("_n2"),
        srp_cell(projections(F.col(vec_col), weights, n_bits), n_bits).alias("cell"),
    )
    qp = queries.select(
        *by_cols,
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qvec"),
        norm2(F.col(query_vec_col)).alias("_qn2"),
        F.explode(
            srp_probe_cells(
                projections(F.col(query_vec_col), weights, n_bits), n_bits, nprobe
            )
        ).alias("cell"),
    )
    scored = (
        # NO broadcast hint on qp: the query side can grow with the
        # corpus (callers often derive it from the corpus itself), and a
        # hinted broadcast of a corpus-proportional frame is a driver/
        # executor memory cliff at scale. The equi-join on cell lets AQE
        # pick broadcast when |Q| is genuinely small and shuffle
        # (skew-splittable) otherwise.
        e.join(qp, [*by_cols, "cell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            *by_cols,
            "query_id",
            "vec_id",
            (
                dot(F.col("_qvec"), F.col("_vec")) / (F.sqrt("_qn2") * F.sqrt("_n2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _centroid_carr(c: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Collapse a (keys..., j, cm) centroid frame into one sorted
    struct-array row per keys-group — the broadcastable in-row-argmin
    form shared by BOTH Lloyd loops (kmeans_fit: no keys, one row;
    pq_fit: keys=('sub',), m rows). Hoisted (ADVICE r14) so the two
    loops cannot drift apart."""
    return c.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("j", "cm"))).alias("_cs")
    )


def _centroid_rows(ca: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Inverse of :func:`_centroid_carr`: explode the array form back to
    (keys..., j, cm) centroid rows."""
    return ca.select(*keys, F.explode("_cs").alias("_t")).select(
        *keys, F.col("_t.j").alias("j"), F.col("_t.cm").alias("cm")
    )


# Fields declared NON-nullable (the UDF always fills both): downstream
# joins on j infer IsNotNull(j), and with a nullable field Catalyst
# pushes that filter BELOW the projection, splitting every argmin into
# TWO ArrowEvalPython evaluations (filter pass + project pass).
# Non-nullable output makes the inferred filter trivially true.
_ARGMIN_STRUCT = StructType(
    [
        StructField("j", IntegerType(), nullable=False),
        StructField("dist", DoubleType(), nullable=False),
    ]
)


def _argmin_assign_udf(cb: list[tuple[int, list[int]]]):
    """Arrow-vectorized Lloyd assignment against a COLLECTED codebook:
    the in-row HOF argmin (``array_min`` over ``transform``/
    ``aggregate``/``zip_with``) is CodegenFallback — interpreted per
    element per centroid, measured as a 1.7 s single-task CPU whale in
    similarity_knn_ivf_pq's timed region at sf0.1. :func:`_nearest`
    replays the IDENTICAL float64 operation order, vectorized ACROSS
    rows, so every (j, dist) is bit-identical to the HOF fold. The
    codebook itself is an O(model) driver collect (k or m*ksub rows —
    the 'literal' strategy incremental_ann already uses, inside the
    profile.time_query timed-boundary contract), so assignment becomes ONE narrow
    ArrowEvalPython pass: zero exchange, zero broadcast join, no
    per-row codebook duplication through Arrow."""
    jv, mu = _codebooks((0, j, c) for j, c in cb)[0]

    @F.pandas_udf(_ARGMIN_STRUCT)
    def argmin(xs: pd.Series) -> pd.DataFrame:
        _, (x,) = _stack("codebook argmin", xs, width=mu.shape[1])
        pick, dist = _nearest(x, mu)
        return pd.DataFrame({"j": jv[pick].astype("int32"), "dist": dist})

    return argmin


def _pq_argmin_assign_udf(cb: list[tuple[int, int, list[int]]]):
    """Per-subspace variant of :func:`_argmin_assign_udf` for pq_fit:
    ``cb`` rows are (sub, j, cm); each (vec_id, sub) row's argmin runs
    against its own subspace codebook, same bit-identical fold replay
    and first-min/ascending-j tie-break."""
    books = _codebooks(cb)
    width = next(iter(books.values()))[1].shape[1]

    @F.pandas_udf(_ARGMIN_STRUCT)
    def argmin(sub: pd.Series, sxs: pd.Series) -> pd.DataFrame:
        _, (x,) = _stack("pq codebook argmin", sxs, width=width)
        sv = sub.to_numpy()
        out_j = np.empty(len(sv), dtype="int32")
        out_d = np.empty(len(sv), dtype=np.float64)
        for s in np.unique(sv):
            jv, mu = books[int(s)]
            mask = sv == s
            pick, dist = _nearest(x[mask], mu)
            out_j[mask] = jv[pick]
            out_d[mask] = dist
        return pd.DataFrame({"j": out_j, "dist": out_d})

    return argmin


def kmeans_cells(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Deterministic relational k-means assignment — the learned coarse
    quantizer for a data-driven IVF (the SRP cells' complement: SRP is
    data-independent; k-means cells adapt to the corpus density).

    Everything is engine-portable and reproducible:
    - seeds: for each j < k, the vector whose md5(vec_id || '#' || j)
      is smallest — k independent deterministic pseudo-random picks,
      no rand();
    - centroids are stored as integer MICRO components (mean = integer
      division of micro sums), so cross-row aggregation order never
      changes a centroid bit;
    - distances are the shared-fold sum of squared differences against
      micro/1e6 doubles — bit-identical in any engine replaying the
      same fold;
    - ties (equal distance) break on centroid id.

    ``iters`` assignment rounds (Lloyd iterations with the FIXED
    iteration count that keeps the result oracle-checkable). Returns
    (vec_id, cell, dist_micro). Scale shape per round: one broadcast of
    k micro-centroid arrays, one narrow argmin pass, one (j, dim)
    aggregate — no all-pairs stage; at 100 TB raise k and sample the
    training pass, exactly like a production IVF build."""
    assign, _ = kmeans_fit(emb, k, iters, id_col, vec_col, dim=dim)
    return assign.select(
        "vec_id",
        F.col("j").alias("cell"),
        F.floor(F.col("dist") * 1_000_000).cast("bigint").alias("dist_micro"),
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Run the deterministic k-means loop (see :func:`kmeans_cells`)
    and return BOTH the final assignment frame (vec_id, x, j, dist) and
    the centroid frame the assignment was made against (j, cm micro
    ints) — the pieces an IVF search needs (route queries by centroid,
    scan only the routed cells).

    Plan shape (r14 removed the per-iteration window shuffle; r15 the
    interpreted argmin, guide §2.4/§4.2): assignment is ONE narrow
    ArrowEvalPython pass — the codebook is an O(k) driver collect
    closed over by :func:`_argmin_assign_udf`, which replays the HOF
    fold bit-for-bit in numpy (the old in-row ``array_min`` over
    ``transform``/``aggregate``/``zip_with`` against a crossJoined
    broadcast array was CodegenFallback, interpreted per
    row x centroid x dim — the measured 1.7 s single-task whale in
    knn_ivf_pq's timed region). The refit stays ONE wide aggregate
    (per-dim micro sums + count, map-side partials) with a k-keyed
    exchange. ``dim`` is the vector length (all in-tree embeddings are
    64-dim); the per-dim sums `s div n` keep the truncating-division
    parity with DuckDB `//`."""
    if iters < 1:
        raise ValueError(f"kmeans_fit requires iters >= 1, got {iters}")
    spark = emb.sparkSession
    x = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("x"),
    )
    grid = spark.range(k).select(F.col("id").cast("int").alias("j"))
    seeds = (
        x.select("vec_id")
        .crossJoin(F.broadcast(grid))
        .select(
            "j",
            "vec_id",
            F.md5(
                F.concat(
                    F.col("vec_id").cast("string"), F.lit("#"), F.col("j").cast("string")
                )
            ).alias("h"),
        )
        .groupBy("j")
        .agg(F.min_by("vec_id", "h").alias("vec_id"))
    )
    cents = seeds.join(x, "vec_id").select(
        "j",
        F.transform("x", lambda v: F.round(v * 1_000_000).cast("bigint")).alias("cm"),
    )

    assign = None
    fit_cents = cents
    # O(k) driver collect of the live codebook (r15, guide §4.2): the
    # old in-row argmin against a crossJoined broadcast array was an
    # interpreted HOF per (row x centroid x dim) — see
    # _argmin_assign_udf. iter 0 runs the seed chain once at build;
    # later iterations read the eagerly checkpointed refit row, so the
    # collect is always O(k) rows within the profile.time_query timed-boundary
    # contract.
    cb = [(r["j"], list(r["cm"])) for r in cents.collect()]
    for it in range(iters):
        fit_cents = cents
        assign = x.select(
            "vec_id", "x", _argmin_assign_udf(cb)(F.col("x")).alias("_b")
        ).select(
            "vec_id",
            "x",
            # coalesce makes j provably non-null (the UDF always fills
            # it; -1 would match no centroid, same drop as a null join
            # key): without it, joins on j infer IsNotNull(j) and
            # Catalyst pushes that filter below the projection,
            # re-evaluating the argmin in a SECOND ArrowEvalPython.
            F.coalesce(F.col("_b.j"), F.lit(-1)).alias("j"),
            F.col("_b.dist").alias("dist"),
        )
        if it < iters - 1:
            # Per-dim micro sums in ONE aggregate; `s div n` truncates
            # toward zero — and so does DuckDB's INTEGER `//` (verified
            # empirically on negative micro sums: -109999//70 = -1571,
            # not floor's -1572), so the mean centroids agree
            # bit-for-bit on both engines.
            sums = assign.groupBy("j").agg(
                F.count(F.lit(1)).alias("n"),
                # dim guard rides the same aggregate for free: the refit
                # sums index x[0..dim) statically, so a vector whose
                # actual length differs from ``dim`` would silently
                # yield NULL (too short) or truncated (too long)
                # centroid components. min/max of size(x) cost nothing
                # extra (map-side partials) and the CASE below fails
                # LOUDLY at the first refit instead.
                F.min(F.size("x")).alias("_mn"),
                F.max(F.size("x")).alias("_mx"),
                # F.get (not x[i]): out-of-range reads NULL instead of
                # an ANSI INVALID_ARRAY_INDEX mid-aggregate, so the
                # guard below owns the failure message in every session
                *[
                    F.sum(
                        F.round(F.get(F.col("x"), i) * 1_000_000).cast("bigint")
                    ).alias(f"_s{i}")
                    for i in range(dim)
                ],
            )
            # The refit is materialized AS the 1-row array form (same
            # checkpoint placement as before — the refit always fed the
            # next round and the returned codebook), so the next
            # round's O(k) collect and every downstream consumer read
            # an already-computed row, not a re-run of the k-row
            # aggregate per consumer.
            carr = _centroid_carr(
                sums.select(
                    "j",
                    F.when(
                        (F.col("_mn") == dim) & (F.col("_mx") == dim),
                        F.array(*[F.expr(f"_s{i} div n") for i in range(dim)]),
                    )
                    .otherwise(
                        F.raise_error(
                            F.lit(
                                f"kmeans_fit: vector length != dim={dim};"
                                " pass the true dim= through the caller"
                            )
                        )
                    )
                    .alias("cm"),
                )
            ).localCheckpoint(eager=True)
            cents = _centroid_rows(carr)
            cb = [(t["j"], list(t["cm"])) for t in carr.first()["_cs"]]
    return assign, fit_cents


def knn_ivf_kmeans(
    emb: DataFrame,
    k_cells: int = 8,
    iters: int = 2,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 100,
    dim: int = 64,
) -> DataFrame:
    """ANN over the LEARNED inverted file: kmeans_fit partitions the
    corpus into k_cells density-adapted cells; each query (vec_id %
    query_mod == 0) routes to its ``nprobe`` nearest centroids and
    exact cosine runs only inside those cells. Everything inherits
    kmeans_fit's determinism, so the approximate result itself is
    oracle-checkable; recall vs brute force is asserted in tests.

    Scale shape: centroids broadcast twice (assignment + routing); the
    only data-sized exchanges are the argmin window keyed by vec_id and
    the cell-keyed scoring join that AQE can skew-split."""
    assign, cents = kmeans_fit(emb, k_cells, iters, id_col, vec_col, dim=dim)
    corpus = assign.select(
        "vec_id", F.col("j").alias("cell"), "x", norm2(F.col("x")).alias("_n2")
    )
    c = cents.select(
        F.col("j").alias("cell"), F.transform("cm", lambda m: m / 1_000_000).alias("c")
    )
    # Raw projected vectors, not assign: same cast of the same column,
    # without dragging the assignment UDF into the query branch (r15).
    qx = emb.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("_qvec"),
    )
    q = qx.select("query_id", "_qvec", norm2(F.col("_qvec")).alias("_qn2"))
    # In-row routing (guide §2.4): centroids collapse to one broadcast
    # row; each query sorts struct(qd, cell) in-row and explodes its
    # nprobe nearest — same (qd, cell) order as the old row_number
    # window, zero query-keyed exchange.
    route = c.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cell", "c"))).alias("_rc")
    )
    probes = (
        q.crossJoin(F.broadcast(route))
        .select(
            "query_id",
            "_qvec",
            "_qn2",
            F.explode(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("_rc"),
                            lambda t: F.struct(
                                F.aggregate(
                                    F.zip_with(
                                        F.col("_qvec"),
                                        t["c"],
                                        lambda a, b: (a - b) * (a - b),
                                    ),
                                    F.lit(0.0),
                                    lambda acc, v: acc + v,
                                ).alias("qd"),
                                t["cell"].alias("cell"),
                            ),
                        )
                    ),
                    1,
                    nprobe,
                )
            ).alias("_p"),
        )
        .select("query_id", "_qvec", "_qn2", F.col("_p.cell").alias("cell"))
    )
    scored = (
        # probes grows with |Q| (corpus-derived here): no broadcast
        # hint — AQE chooses, so there is no memory cliff as |Q| grows
        corpus.join(probes, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                dot(F.col("_qvec"), F.col("x")) / (F.sqrt("_qn2") * F.sqrt("_n2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def power_iteration_top_component(
    emb: DataFrame,
    iters: int = 3,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top principal direction of the (uncentered) Gram matrix by
    POWER ITERATION — the spectral building block (PCA first component
    / dominant eigenvector) done relationally, in the same exact
    integer fixed-point discipline as kmeans_fit and
    pagerank_weighted so the whole iterative result is oracle-checkable:

    - the direction vector lives as ``scale``-unit integers (micro);
    - per row, dot(x, v) uses the shared double fold, and each
      per-dimension contribution floor(x_j * dot) is truncated to an
      INTEGER before any cross-row aggregation, so the per-dimension
      sums are order-independent and bit-identical in any engine;
    - renormalization divides by max|s_j| with truncating integer
      division (Spark ``div`` == DuckDB integer ``//``), guarded by
      greatest(.., 1) against the all-zero corpus.

    Scale shape per iteration: one broadcast of the 1-row direction,
    one narrow map computing dots + contributions, one posexplode
    aggregation to ``dim`` partial sums (map-side combine reduces each
    partition to <= dim rows before the shuffle) — never an all-pairs
    or data-sized-window stage; the driver loop is CONTROL only, like
    the other iterative operators. Fixed ``iters`` keeps the result a
    pure function of the input.

    Returns (dim int, v_micro bigint): the unit-free direction in
    micro units (canonical up to the deterministic v0 = all-ones
    start; no random restarts, no sign ambiguity)."""
    spark = emb.sparkSession
    x = emb.select(
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("x")
    )
    v = spark.range(1).select(
        F.array(*[F.lit(scale).cast("bigint") for _ in range(dim)]).alias("vm")
    )
    for _ in range(iters):
        vd = v.select(F.transform("vm", lambda m: m / scale).alias("v"))
        # Unrolled x·v (r14): static getItem per dim replays the same
        # left-to-right fold under codegen instead of an interpreted HOF.
        dot = F.lit(0.0)
        for _i in range(dim):
            dot = dot + F.col("x")[_i] * F.col("v")[_i]
        contrib = x.crossJoin(F.broadcast(vd)).select(
            F.posexplode(
                F.transform("x", lambda xv: F.floor(xv * dot).cast("bigint"))
            ).alias("dim", "c")
        )
        s = contrib.groupBy("dim").agg(F.sum("c").alias("s"))
        mx = s.agg(F.greatest(F.max(F.abs("s")), F.lit(1)).alias("mx"))
        v = (
            s.crossJoin(F.broadcast(mx))
            .select("dim", F.expr(f"(s * {scale}) div mx").alias("m"))
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda e: e["m"],
                ).alias("vm")
            )
            .localCheckpoint(eager=True)
        )
    return v.select(
        F.posexplode("vm").alias("dim", "v_micro")
    ).select(F.col("dim").cast("int").alias("dim"), F.col("v_micro"))


def pq_fit(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    keep_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Product Quantization training (Jegou et al. 2011):
    split each vector into ``m`` subvectors of dim/m dims and run the
    same oracle-checkable Lloyd loop as :func:`kmeans_fit` INDEPENDENTLY
    per subspace (one relational loop keyed by (sub, j) — not m loops):
    md5-picked seeds per (sub, j), micro-integer centroids
    (order-insensitive means, `div` truncation matching DuckDB `//`),
    shared distance folds, (dist, j) tie-breaks.

    Returns (assign, codebook): assign = (vec_id, sub, sx, j, dist) —
    the final per-subspace code assignment; codebook = (sub, j, cm) with
    micro-int centroid components — m * ksub bounded rows, always
    broadcastable. ``keep_cols`` are extra ``emb`` columns carried
    through to the assignment output unchanged (lets a caller avoid a
    corpus-sized re-join to recover, e.g., the IVF cell id).

    Scale shape per iteration (r14 removed the per-iteration corpus
    exchange; r15 the interpreted argmin, guide §2.4/§4.2): assignment
    is ONE narrow ArrowEvalPython pass per iteration — the m*ksub
    codebook is an O(model) driver collect closed over by
    :func:`_pq_argmin_assign_udf`, which replays the HOF fold
    bit-for-bit in numpy per subspace (the old in-row ``array_min``
    over ``transform``/``aggregate``/``zip_with`` against the broadcast
    m-row array form was CodegenFallback, interpreted per
    row x centroid x dim). The refit is ONE (sub, j)-keyed wide
    aggregate (per-dim micro sums + count, map-side partials). At
    100 TB you train on a key-hash sample (the corpus split hash) and
    encode the full stream with the final codebook in the closure — the
    encode pass is embarrassingly parallel."""
    if iters < 1:
        raise ValueError(f"pq_fit requires iters >= 1, got {iters}")
    if dim % m:
        raise ValueError(f"pq_fit: dim={dim} not divisible by m={m}")
    sub_dim = dim // m
    spark = emb.sparkSession
    x = emb.select(
        F.col(id_col).alias("vec_id"),
        *keep_cols,
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("xd"),
    )
    subs = spark.range(m).select(F.col("id").cast("int").alias("sub"))
    xs = x.crossJoin(F.broadcast(subs)).select(
        "vec_id",
        *keep_cols,
        "sub",
        F.expr(f"slice(xd, sub * {sub_dim} + 1, {sub_dim})").alias("sx"),
    )
    grid = spark.range(ksub).select(F.col("id").cast("int").alias("j"))
    seeds = (
        x.select("vec_id")
        .crossJoin(F.broadcast(subs))
        .crossJoin(F.broadcast(grid))
        .select(
            "sub",
            "j",
            "vec_id",
            F.md5(
                F.concat(
                    F.col("vec_id").cast("string"),
                    F.lit("#"),
                    F.col("sub").cast("string"),
                    F.lit("#"),
                    F.col("j").cast("string"),
                )
            ).alias("h"),
        )
        .groupBy("sub", "j")
        .agg(F.min_by("vec_id", "h").alias("vec_id"))
    )
    cents = seeds.join(xs, ["vec_id", "sub"]).select(
        "sub",
        "j",
        F.transform("sx", lambda v: F.round(v * 1_000_000).cast("bigint")).alias("cm"),
    )
    assign = None
    fit_cents = cents
    # O(m*ksub) driver collect of the live per-sub codebooks (r15,
    # guide §4.2) — see _pq_argmin_assign_udf; same contract note as
    # kmeans_fit's collect.
    cb = [(r["sub"], r["j"], list(r["cm"])) for r in cents.collect()]
    for it in range(iters):
        fit_cents = cents
        assign = xs.select(
            "vec_id",
            *keep_cols,
            "sub",
            "sx",
            _pq_argmin_assign_udf(cb)(F.col("sub"), F.col("sx")).alias("_b"),
        ).select(
            "vec_id",
            *keep_cols,
            "sub",
            "sx",
            # coalesce: see kmeans_fit — blocks the inferred-IsNotNull
            # double ArrowEvalPython evaluation.
            F.coalesce(F.col("_b.j"), F.lit(-1)).alias("j"),
            F.col("_b.dist").alias("dist"),
        )
        if it < iters - 1:
            # ONE (sub, j)-keyed wide aggregate; `s div n` keeps the
            # truncating-division parity with DuckDB INTEGER `//`.
            sums = assign.groupBy("sub", "j").agg(
                F.count(F.lit(1)).alias("n"),
                # same loud dim guard as kmeans_fit's refit: a subvector
                # shorter/longer than sub_dim means the caller's ``dim``
                # does not match the real vector length.
                F.min(F.size("sx")).alias("_mn"),
                F.max(F.size("sx")).alias("_mx"),
                # F.get: see kmeans_fit — the guard owns the message
                *[
                    F.sum(
                        F.round(F.get(F.col("sx"), i) * 1_000_000).cast("bigint")
                    ).alias(f"_s{i}")
                    for i in range(sub_dim)
                ],
            )
            # Materialized AS the m-row array form (same checkpoint
            # placement as before): the next round's O(m*ksub) collect
            # and every downstream consumer read the already-computed
            # rows instead of re-running the aggregate per consumer.
            carr = _centroid_carr(
                sums.select(
                    "sub",
                    "j",
                    F.when(
                        (F.col("_mn") == sub_dim) & (F.col("_mx") == sub_dim),
                        F.array(*[F.expr(f"_s{i} div n") for i in range(sub_dim)]),
                    )
                    .otherwise(
                        F.raise_error(
                            F.lit(
                                f"pq_fit: subvector length != dim/m={sub_dim};"
                                " pass the true dim= through the caller"
                            )
                        )
                    )
                    .alias("cm"),
                ),
                keys=("sub",),
            ).localCheckpoint(eager=True)
            cents = _centroid_rows(carr, keys=("sub",))
            cb = [
                (r["sub"], t["j"], list(t["cm"]))
                for r in carr.collect()
                for t in r["_cs"]
            ]
    return assign, fit_cents


def _pq_encode_udf(
    pq_cb: list[tuple[int, int, list[int]]],
    m: int,
    sub_dim: int,
    km_cb: list[tuple[int, list[int]]] | None = None,
):
    """Fused ENCODE pass: one ArrowEvalPython turns a raw vector into
    (cell, codes[m]) — the coarse argmin, the residual subtraction and
    all m subspace argmins in a single Python round trip, replacing a
    broadcast-join residual (interpreted zip_with), an m-times
    crossJoin row blowup and a second Arrow boundary on the corpus
    chain. Every step replays the relational fold bit-for-bit (see
    :func:`_nearest`); the residual is the same elementwise a - b as
    zip_with. With ``km_cb`` None the vector is encoded directly
    (knn_pq_adc's layout — no coarse stage; cell returns -1, unused)."""
    books = _codebooks(pq_cb)
    coarse = None if km_cb is None else _codebooks((0, j, c) for j, c in km_cb)[0]
    out_type = StructType(
        [
            StructField("cell", IntegerType(), nullable=False),
            StructField("codes", ArrayType(IntegerType(), False), nullable=False),
        ]
    )

    @F.pandas_udf(out_type)
    def encode(xs: pd.Series) -> pd.DataFrame:
        _, (x,) = _stack("pq encode", xs, width=m * sub_dim)
        if coarse is None:
            cell = np.full(len(x), -1, dtype="int32")
            r = x
        else:
            kj, kmu = coarse
            pick, _ = _nearest(x, kmu)
            cell = kj[pick].astype("int32")
            r = x - kmu[pick]
        codes = np.empty((len(x), m), dtype="int32")
        for s in range(m):
            jv, mu = books[s]
            codes[:, s] = jv[_nearest(r[:, s * sub_dim : (s + 1) * sub_dim], mu)[0]]
        return pd.DataFrame({"cell": cell, "codes": list(codes)})

    return encode


def knn_pq_adc(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    query_mod: int = 100,
) -> DataFrame:
    """Asymmetric-distance kNN over PQ codes: documents are searched in
    COMPRESSED form (m small codes per vector — 8 bytes instead of 256
    here, 32x; the memory story that makes billion-vector search fit a
    cluster), queries stay raw. Each query precomputes a lookup table
    of floor(1e6 * ||q_sub - c_{{sub,j}}||^2) integer-micro partial
    distances; a document's ADC distance is the bigint sum of its m
    table entries — order-insensitive, so the approximate result is
    itself hash-checkable against DuckDB.

    Scale shape: the codebook (m*ksub rows) broadcasts; the LUT is
    |Q|*m*ksub rows joined to the (vec_id, sub, code) stream on
    (sub, j) — corpus-proportional on the left only, so no broadcast
    hint on the LUT side beyond its |Q| bound; one (query_id, vec_id)
    aggregate and a per-query top-k window. The IVF-routed composition
    that prunes the scanned stream before the LUT join is
    :func:`knn_ivf_pq` (registered as similarity_knn_ivf_pq)."""
    if iters < 1:
        raise ValueError(f"knn_pq_adc requires iters >= 1, got {iters}")
    sub_dim = dim // m
    _, cents = pq_fit(emb, m, ksub, iters, id_col, vec_col, dim)
    # Fused encode (r15): one ArrowEvalPython yields all m codes per
    # vector from the collected O(model) codebook — replaces the
    # m-times crossJoin + per-(vec, sub) Arrow argmin on the stored
    # side; see _pq_encode_udf (bit-identical replay).
    pq_cb = [(r["sub"], r["j"], list(r["cm"])) for r in cents.collect()]
    enc = _pq_encode_udf(pq_cb, m, sub_dim)
    codes = (
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("xd"),
        )
        .select("vec_id", enc(F.col("xd")).alias("_e"))
        .select(
            "vec_id",
            F.posexplode(
                F.transform("_e.codes", lambda cj: F.coalesce(cj, F.lit(-1)))
            ),
        )
        .withColumnsRenamed({"pos": "sub", "col": "j"})
        .select("vec_id", F.col("sub").cast("int").alias("sub"), "j")
    )
    c = cents.select(
        "sub", "j", F.transform("cm", lambda v: v / 1_000_000).alias("c")
    )
    q = (
        emb.filter(F.col(id_col) % query_mod == 0)
        .select(
            F.col(id_col).alias("query_id"),
            F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("xd"),
        )
        .crossJoin(F.broadcast(emb.sparkSession.range(m).select(
            F.col("id").cast("int").alias("sub")
        )))
        .select(
            "query_id",
            "sub",
            F.expr(f"slice(xd, sub * {sub_dim} + 1, {sub_dim})").alias("qx"),
        )
    )
    qdist = F.aggregate(
        F.zip_with(F.col("qx"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = q.join(F.broadcast(c), "sub").select(
        "query_id",
        "sub",
        "j",
        F.floor(qdist * 1_000_000).cast("bigint").alias("dmic"),
    )
    scored = (
        # LUT grows with |Q| (corpus-derived): no broadcast hint — AQE
        # chooses, so there is no memory cliff as |Q| grows.
        codes.join(lut, ["sub", "j"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dmic").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def knn_ivf_pq(
    emb: DataFrame,
    k_cells: int = 8,
    km_iters: int = 2,
    m: int = 16,
    ksub: int = 16,
    pq_iters: int = 2,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    query_mod: int = 100,
) -> DataFrame:
    """IVF-PQ residual search (the IVFADC layout of Jegou et al. 2011,
    the billion-scale standard): :func:`kmeans_fit` partitions the
    corpus into ``k_cells`` coarse cells; each vector is stored as its
    cell id plus the PQ codes of its RESIDUAL (x - centroid), trained
    by :func:`pq_fit` on the residual stream (one global residual
    codebook — residuals from all cells are centered near zero, so one
    codebook serves them all). A query routes to its ``nprobe`` nearest
    centroids, computes a PER-CELL residual LUT (q - centroid against
    the codebook), and ONLY the probed cells' codes stream through the
    ADC join — the composition knn_pq_adc's docstring promises, now a
    real registered plan instead of prose.

    Everything inherits the training loops' determinism (md5 seeds,
    micro-int centroids, shared folds, (dist, j) tie-breaks) and the
    ADC sum is a bigint of per-sub floored micros, so the approximate
    result itself hash-checks against DuckDB.

    Scale shape: centroids broadcast (k_cells rows), codebook
    broadcasts (m*ksub rows), the probed-cell id set broadcasts
    (≤ k_cells rows, a left-semi prune of the code stream BEFORE the
    LUT join); the LUT is |Q|*nprobe*m*ksub rows — corpus-proportional
    on the code side only, so the join carries no broadcast hint and
    AQE decides. One (query_id, vec_id) aggregate (map-side partials),
    one per-query top-k window. At 100 TB the code table is
    cell-partitioned parquet and the semi-join prune becomes dynamic
    partition pruning — nprobe/k_cells of the files are read at all."""
    if km_iters < 1 or pq_iters < 1:
        raise ValueError("knn_ivf_pq requires km_iters >= 1 and pq_iters >= 1")
    sub_dim = dim // m
    spark = emb.sparkSession
    assign, km_cents = kmeans_fit(emb, k_cells, km_iters, id_col, vec_col, dim=dim)
    c = km_cents.select(
        F.col("j").alias("cell"),
        F.transform("cm", lambda v: v / 1_000_000).alias("c"),
        F.col("cm"),
    )
    # Residual stream: x - centroid, elementwise double — same fold on
    # both engines.
    res = (
        assign.select("vec_id", F.col("j").alias("cell"), "x")
        .join(F.broadcast(c.select("cell", "c")), "cell")
        .select(
            "vec_id",
            F.zip_with("x", "c", lambda a, b: a - b).alias("r"),
        )
    )
    # pq_fit TRAINS the residual codebook (its refit checkpoints run at
    # build); the stored codes are then produced by the fused encode
    # below, so the training assignment frame is never executed in the
    # timed region.
    _, codebook = pq_fit(res, m, ksub, pq_iters, id_col="vec_id", vec_col="r", dim=dim)
    # Fused encode (r15, VERDICT #9): ONE ArrowEvalPython computes
    # cell + residual + all m subspace codes per vector — the old codes
    # chain paid two Arrow boundaries with a broadcast-join residual
    # (interpreted zip_with) and an m-times crossJoin between them.
    # Codebooks are O(model) collects from the fits' checkpoints.
    km_cb = [(r["j"], list(r["cm"])) for r in km_cents.collect()]
    pq_cb = [(r["sub"], r["j"], list(r["cm"])) for r in codebook.collect()]
    enc = _pq_encode_udf(pq_cb, m, sub_dim, km_cb=km_cb)
    xall = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("x"),
    )
    codes = (
        xall.select("vec_id", enc(F.col("x")).alias("_e"))
        .select(
            "vec_id",
            # coalesce: provably non-null join keys (see kmeans_fit) —
            # blocks the inferred-IsNotNull double ArrowEvalPython.
            F.coalesce(F.col("_e.cell"), F.lit(-1)).alias("cell"),
            F.posexplode(F.transform("_e.codes", lambda cj: F.coalesce(cj, F.lit(-1)))),
        )
        .withColumnsRenamed({"pos": "sub", "col": "j"})
        .select("vec_id", "cell", F.col("sub").cast("int").alias("sub"), "j")
    )
    pc = codebook.select(
        "sub", "j", F.transform("cm", lambda v: v / 1_000_000).alias("c")
    )
    # Query routing: nprobe nearest coarse centroids, residual per cell.
    # Queries read the RAW projected vectors (identical values to
    # assign's x — the same cast of the same column): deriving from
    # ``assign`` dragged the assignment UDF into the query branch for a
    # column it never used (r15; the plan re-evaluated the argmin pass
    # once per consuming branch).
    q = emb.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("qx64"),
    )
    # In-row routing (guide §2.4): the k_cells centroids collapse into
    # one broadcast row; each query sorts struct(qd, cell, c) in-row and
    # explodes its nprobe nearest — the same (qd, cell) order the old
    # row_number window used, with zero query-keyed exchange.
    route = c.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cell", "c"))).alias("_rc")
    )
    qdist_t = lambda cc: F.aggregate(  # noqa: E731
        F.zip_with(F.col("qx64"), cc, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    probes = (
        q.crossJoin(F.broadcast(route))
        .select(
            "query_id",
            "qx64",
            F.explode(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("_rc"),
                            lambda t: F.struct(
                                qdist_t(t["c"]).alias("qd"),
                                t["cell"].alias("cell"),
                                t["c"].alias("c"),
                            ),
                        )
                    ),
                    1,
                    nprobe,
                )
            ).alias("_p"),
        )
        .select(
            "query_id",
            F.col("_p.cell").alias("cell"),
            F.zip_with("qx64", F.col("_p.c"), lambda a, b: a - b).alias("qr"),
        )
    )
    subs = spark.range(m).select(F.col("id").cast("int").alias("sub"))
    qxs = probes.crossJoin(F.broadcast(subs)).select(
        "query_id",
        "cell",
        "sub",
        F.expr(f"slice(qr, sub * {sub_dim} + 1, {sub_dim})").alias("qx"),
    )
    ldist = F.aggregate(
        F.zip_with(F.col("qx"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = qxs.join(F.broadcast(pc), "sub").select(
        "query_id",
        "cell",
        "sub",
        "j",
        F.floor(ldist * 1_000_000).cast("bigint").alias("dmic"),
    )
    # Structural prune: only probed cells' codes enter the LUT join.
    # The distinct-cell frame is an aggregate bounded by k_cells, so the
    # broadcast is k-bounded like every centroid frame.
    probed_cells = probes.select("cell").distinct()
    pruned_codes = codes.join(F.broadcast(probed_cells), "cell", "left_semi")
    scored = (
        # LUT grows with |Q| (corpus-derived): no broadcast hint — AQE
        # chooses, so there is no memory cliff as |Q| grows.
        pruned_codes.join(lut, ["cell", "sub", "j"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dmic").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def pack_pq_codes(assign: DataFrame) -> DataFrame:
    """Pack a PQ assignment (vec_id, sub, j) — 16 subspaces x 4-bit
    codes — into ONE bigint per vector: code ``j`` of subspace ``sub``
    occupies bits [4*sub, 4*sub+4). This is the STORED form that makes
    the 32x memory claim materially true: 8 bytes per vector instead of
    16 separate int rows (or 256 raw float bytes). bit_or over
    shiftleft is pure bit arithmetic — no overflow check can fire, and
    sub 15's code landing in the sign bits is well-defined two's
    complement, so the packed value is deterministic and (with an
    offset-form top nibble) DuckDB-reproducible.

    Unpack with ``shiftrightunsigned(codes_packed, 4*sub) & 15`` —
    round-tripped in tests/test_similarity.py."""
    return assign.groupBy("vec_id").agg(
        F.expr("bit_or(shiftleft(CAST(j AS BIGINT), 4 * sub))").alias("codes_packed")
    )


def sign_words(vec: Column, dim: int = 64, word_bits: int = 32) -> list[Column]:
    """Binary (1-bit) quantization: the sign bits of a float vector
    packed into 32-bit words held in bigints — bit for dim ``i`` is 1
    iff ``vec[i] > 0``, and within a word the LOWEST-index dim is the
    most significant bit (ascending fold ``acc*2 + bit``).

    32-bit words rather than one 64-bit word because DuckDB's ``<<``
    and ``+`` overflow-CHECK at bit 63 (verified: ``1::BIGINT << 63``
    raises), while Spark wraps — word values stay < 2^32 so the
    identical integer fold runs on both engines and the signature is
    hash-checkable. 64 dims -> 8 signature bytes: a 32x compression
    that makes the Hamming pre-filter scan bandwidth-trivial next to
    the float corpus (256 bytes/vector), and the XOR+popcount distance
    is a handful of ALU ops inside whole-stage codegen — no float math
    at all until the shortlist re-rank."""
    # NOTE(r14): a static 32-term unroll was tried here and REVERTED —
    # measured 2.2x slower end-to-end (plan-size/optimizer cost, the
    # same trap the jl_distortion docstring records). HOF fold stays.
    words = []
    for off in range(0, dim, word_bits):
        words.append(
            F.aggregate(
                F.sequence(F.lit(off), F.lit(off + word_bits - 1)),
                F.lit(0).cast("long"),
                lambda acc, i: acc * 2
                + F.when(F.get(vec, i) > 0, 1).otherwise(0),
            )
        )
    return words


def knn_hamming_rerank(
    emb: DataFrame,
    shortlist: int = 50,
    k: int = 10,
    query_mod: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Two-stage binary-signature search: a Hamming-distance scan over
    8-byte sign signatures shortlists ``shortlist`` candidates per
    query, then exact fold-order cosine re-ranks ONLY the shortlist to
    the final top-``k`` — the classic binary-quantization rerank layout
    (the 1-bit analogue of the IVF-PQ ADC+rerank pair).

    Scale shape: stage 1 touches only the (vec_id, sig0, sig1) stream —
    3 bigints/row vs the 64-float vector — with query signatures
    broadcast and the distance a pure XOR+popcount in codegen; stage 2
    re-reads float vectors for |Q|*shortlist rows only (an equi-join on
    vec_id, never a scan). Both Hamming ties and cosine ties carry
    total-order tie-breaks so the result hash-checks cross-engine."""
    s0, s1 = sign_words(F.col(vec_col), dim)
    sig = emb.select(F.col(id_col).alias("vec_id"), s0.alias("sig0"), s1.alias("sig1"))
    qsig = sig.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig0").alias("q0"),
        F.col("sig1").alias("q1"),
    )
    ham = (
        F.bit_count(F.col("sig0").bitwiseXOR(F.col("q0")))
        + F.bit_count(F.col("sig1").bitwiseXOR(F.col("q1")))
    ).cast("int")
    wh = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    short = (
        sig.join(F.broadcast(qsig), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", ham.alias("hamming"))
        .withColumn("_rh", F.row_number().over(wh))
        .filter(F.col("_rh") <= shortlist)
        .select("query_id", "vec_id", "hamming")
    )
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_vec"),
        norm2(F.col(vec_col)).alias("_n2"),
    )
    qv = e.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_n2").alias("_qn2"),
    )
    rer = (
        short.join(e, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            "hamming",
            (
                dot(F.col("_qvec"), F.col("_vec"))
                / (F.sqrt("_qn2") * F.sqrt("_n2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return rer.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def micro_normalized(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Unit-normalize then quantize each component to an exact int64
    micro value: ``sign(v) * floor(|v| / ||x|| * 1e6 + 0.5)``. Dot
    products over these are pure int64 sums (64 dims x |q|<=1e6 each ->
    max 64e12, far under int64), so they are order-INSENSITIVE — any
    summation order, including a BLAS-style blocked matmul, yields the
    same bits as DuckDB's sequential fold. This is what lets the GEMM
    path below vectorize freely without the fold-order contract the
    float cosine queries need."""
    vd = lambda v: v.cast("double")  # noqa: E731
    n = F.sqrt(norm2(F.col(vec_col)))
    qm = F.transform(
        F.col(vec_col),
        lambda v: F.signum(vd(v)).cast("bigint")
        * F.floor(F.abs(vd(v)) / n * 1_000_000 + F.lit(0.5)).cast("bigint"),
    )
    # zero-norm vectors have no cosine: DROP them here (same contract as
    # _unit_frame / the int8 _scale > 0 gate) instead of emitting null
    # components that crash the GEMM worker's numpy conversion with an
    # opaque TypeError
    return emb.filter(norm2(F.col(vec_col)) > 0).select(
        F.col(id_col).alias("vec_id"), qm.alias("qm")
    )


def knn_block_gemm(
    emb: DataFrame,
    k: int = 10,
    query_mod: int = 100,
    corpus_block: int = 2048,
    query_block: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact kNN as BLOCK MATRIX MULTIPLY: corpus and query vectors are
    grouped into bounded blocks, every (corpus-block x query-block)
    pair runs ONE Arrow-batched numpy int64 GEMM (C x 64 @ 64 x G), and
    each block pair emits only its per-query top-k partials — a
    (k * |Q| * n_blocks)-row stream that a final per-query window
    reduces to the global exact top-k. This is the throughput-oriented
    twin of :func:`knn_bruteforce`: identical semantics, but the score
    loop runs at matmul speed inside mapInPandas instead of one codegen
    fold per (query, vector) pair.

    Exactness: scores are int64 dots of micro-normalized components
    (:func:`micro_normalized`), so the blocked summation is
    bit-identical to any fold order — the numpy GEMM result hash-checks
    against DuckDB's sequential list_reduce. Per-block top-k uses the
    SAME (dot desc, vec_id asc) total order as the global window, so a
    row cut by a block's top-k has >= k block-mates strictly ahead of
    it globally and the composition stays exact.

    Scale shape: the query-block frame broadcasts (|Q| * 520 bytes —
    the same broadcast knn_bruteforce already carries); the corpus
    shuffles ONCE into blocks keyed by vec_id div corpus_block; the
    GEMM emits k rows per (query, corpus-block) so the final window's
    input is corpus/corpus_block * k per query, not corpus-sized.
    Still O(|corpus| * |Q|) arithmetic — this is the exact-scan path,
    guarded like every correctness baseline, with the IVF family as
    the sub-quadratic twin."""
    m = micro_normalized(emb, id_col, vec_col)
    q = m.filter(F.col("vec_id") % query_mod == 0)
    qb = q.groupBy(
        F.floor(F.col("vec_id") / (query_mod * query_block)).alias("qblk")
    ).agg(F.sort_array(F.collect_list(F.struct("vec_id", "qm"))).alias("qs"))
    cb = m.groupBy(F.floor(F.col("vec_id") / corpus_block).alias("cblk")).agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "qm"))).alias("cs")
    )
    joined = cb.crossJoin(F.broadcast(qb.select("qs")))

    def gemm(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_q, out_v, out_d = [], [], []
            for cs, qs in zip(pdf["cs"], pdf["qs"]):
                cid = np.array([r["vec_id"] for r in cs], dtype=np.int64)
                a = np.array([r["qm"] for r in cs], dtype=np.int64)
                qid = np.array([r["vec_id"] for r in qs], dtype=np.int64)
                b = np.array([r["qm"] for r in qs], dtype=np.int64)
                s = a @ b.T  # exact int64, (C x G)
                sentinel = np.int64(-(10**18))
                s = np.where(cid[:, None] == qid[None, :], sentinel, s)
                kk = min(k, s.shape[0])
                for j in range(s.shape[1]):
                    col = s[:, j]
                    top = np.lexsort((cid, -col))[:kk]
                    for i in top:
                        if col[i] == sentinel:
                            continue
                        out_q.append(int(qid[j]))
                        out_v.append(int(cid[i]))
                        out_d.append(int(col[i]))
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_v, "dot_micro12": out_d}
            )

    partials = joined.mapInPandas(
        gemm, "query_id long, vec_id long, dot_micro12 long"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot_micro12").desc(), "vec_id")
    return partials.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def mmr_select(
    cands: DataFrame,
    sims: DataFrame,
    k: int = 5,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998) — greedy diversified top-k over a per-query candidate
    shortlist, the data-selection primitive that keeps a retrieval (or
    training-data sampling) result from collapsing onto near-duplicate
    neighbors: pick the most relevant candidate first, then repeatedly
    pick argmax of ``rel·λ - max_sim_to_selected·(1-λ)``. ``lam``
    must be an exactly-representable double (default 0.5 ≡ the
    rel/2 - ms/2 form bitwise: x·0.5 and x/2 are the same IEEE
    scaling), so every λ on the tuning grid stays engine-exact.

    Inputs: ``cands`` (query_id, vec_id, rel) — the shortlist, bounded
    per query (an ANN top-N; never corpus-sized); ``sims`` (query_id,
    a, b, sim) — pairwise similarities WITHIN each query's shortlist,
    symmetric. The driver loop runs exactly ``k`` rounds of bounded
    relational steps (join to selected -> max-sim aggregate -> per-query
    argmax window), so iteration count is fixed and data-independent —
    the same discipline as kmeans_fit/power iteration, which is what
    makes the greedy result a pure function of the input and lets the
    whole selection hash-match an unrolled SQL oracle. Ties break
    (score desc, vec_id asc) everywhere.

    Scale shape: every frame is |Q| x shortlist (shortlist <= ~100 by
    construction), selected is |Q| x round; the per-round shuffles move
    shortlist-bounded rows keyed by query_id — MMR cost is independent
    of corpus size because the ANN stage already paid the corpus cost.

    Returns (query_id, rank, vec_id, mmr_score): rank 1..k; rank 1's
    score is its relevance (nothing selected yet to repel from)."""
    sel = (
        cands.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("rel").desc(), F.col("vec_id")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            F.lit(1).cast("int").alias("rank"),
            "vec_id",
            F.col("rel").alias("mmr_score"),
        )
        .localCheckpoint(eager=True)
    )
    remaining = cands.join(
        sel.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
    ).localCheckpoint(eager=True)
    for j in range(2, k + 1):
        msim = (
            sims.join(
                sel.select("query_id", F.col("vec_id").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("vec_id"))
            .agg(F.max("sim").alias("_ms"))
        )
        # left join + coalesce(0): a candidate with NO sims row to any
        # selected item (sparse/thresholded sims input) scores with
        # max-sim 0 — nothing to repel from — instead of silently
        # vanishing from later rounds and shorting the pick list.
        # Complete-pairwise callers are untouched (the join always hits).
        scored = remaining.join(msim, ["query_id", "vec_id"], "left").select(
            "query_id",
            "vec_id",
            (
                F.col("rel") * F.lit(lam)
                - F.coalesce(F.col("_ms"), F.lit(0.0)) * F.lit(1.0 - lam)
            ).alias("mmr_score"),
        )
        pick = (
            scored.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("mmr_score").desc(), F.col("vec_id")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .select(
                "query_id", F.lit(j).cast("int").alias("rank"), "vec_id", "mmr_score"
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
        remaining = remaining.join(
            sel.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
        ).localCheckpoint(eager=True)
    return sel
