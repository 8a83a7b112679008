"""Incremental near-dup filtering against a persisted LSH band index —
the operational form of corpus dedup at 100 TB: each ingest batch
computes MinHash signatures ONLY for its own documents and equi-joins
the compact (band, band_key) index of everything already accepted,
instead of re-running dedup over the whole corpus (the batch-vs-corpus
analog of the reference's anti-join skip-existing increment,
details.py:82-101).

Index layout: parquet rows (doc_id, band, band_key) — ~40 bytes per
band per accepted doc, i.e. ~4 B rows per billion docs at 4 bands —
Hive-partitioned by a 16-way md5 bucket of doc_id (the financials
stock_bucket contract), so deletion propagation (operators/forget.py)
and compaction rewrite only the buckets containing touched ids instead
of the whole index. Probes read every bucket (candidate lookup is by
band_key, not id), which costs nothing: the probe was always a full
column-pruned scan. Legacy unpartitioned indexes keep receiving
unpartitioned appends — mixing flat files with partition directories
in one root breaks partition discovery. The probe is an equi-join on
(band, band_key), so AQE can split hot buckets.
Candidate-level filtering (any shared band) is deliberately
recall-biased: a new doc is dropped on any band collision with the
accepted corpus; Jaccard verification would require keeping shingle
sets, trading index size for precision.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import append_new, read_index
from etl_8million_data__spark.operators.dedup import (
    doc_shingle_frame,
    lsh_band_frame,
    minhash_min_frame,
)
from etl_8million_data__spark.operators.maintenance import swap_in

INDEX_SCHEMA = "doc_id long, band int, band_key string, _batch string, bucket int"
N_ID_BUCKETS = 16


def _bucketed_append(df: DataFrame, index_path: str, id_col: str) -> None:
    """Append index rows into 16-way md5 id-bucket partitions (flat
    files for a legacy unpartitioned index — ``bucket_store.append_new``)."""
    from etl_8million_data__spark.operators.partitioning import id_bucket

    staged = df.withColumn("bucket", id_bucket(F.col(id_col), N_ID_BUCKETS))
    append_new(staged, index_path, part_cols=["bucket"])


def _batch_bands(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    sh = doc_shingle_frame(new_docs, text_col, id_col, k)
    return lsh_band_frame(
        minhash_min_frame(sh, id_col, num_hashes), id_col, bands, num_hashes // bands
    )


def dedup_increment(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    batch_tag: str | None = None,
) -> DataFrame:
    """Filter ``new_docs`` against the persisted band index, extend the
    index with the survivors, and return the kept documents.

    A new document is dropped when (a) any of its bands collides with
    the accepted corpus index, or (b) it collides with a smaller-id
    document inside the same batch (deterministic keep-smallest, as in
    the batch LSH pair query).  Documents with fewer than ``k`` tokens
    produce no bands and are always kept.  The index append contains
    only the survivors' bands, so re-presenting the same content later
    keeps colliding with the canonical copy.

    ``batch_tag`` makes the call REPLAY-IDEMPOTENT for at-least-once
    callers (streaming foreachBatch): the survivors' index rows are
    tagged with it, and the probe excludes rows carrying the same tag —
    so when a failed micro-batch is redelivered, its documents do not
    collide with the bands their previous attempt already appended, and
    the recomputed kept-set is identical.  A replay may append
    duplicate same-tag rows to the index; that is harmless (the probe
    is a distinct semi-join) and bounded by the number of actual
    failures.  Batch callers can leave it None.
    """
    spark = new_docs.sparkSession
    bands_new = _batch_bands(
        new_docs, text_col, id_col, k, num_hashes, bands
    ).localCheckpoint(eager=True)

    # DECLARED schema: pre-batch-tagging files without _batch surface
    # it as NULL, so the same-tag probe exclusion keeps working
    idx = read_index(spark, index_path, INDEX_SCHEMA)
    if batch_tag is not None:
        idx = idx.filter(~F.col("_batch").eqNullSafe(F.lit(batch_tag)))
    vs_corpus = (
        bands_new.join(
            idx.select("band", "band_key").distinct(), ["band", "band_key"], "left_semi"
        )
        .select(id_col)
        .distinct()
    )
    # within-batch collisions: keep the smallest id per (band, band_key)
    w_min = (
        bands_new.groupBy("band", "band_key")
        .agg(F.min(id_col).alias("_min_id"))
    )
    vs_batch = (
        bands_new.join(w_min, ["band", "band_key"])
        .filter(F.col(id_col) > F.col("_min_id"))
        .select(id_col)
        .distinct()
    )
    dropped = vs_corpus.unionByName(vs_batch).distinct().localCheckpoint(eager=True)

    kept = new_docs.join(dropped, id_col, "left_anti")
    kept_bands = bands_new.join(dropped, id_col, "left_anti").withColumn(
        "_batch", F.lit(batch_tag).cast("string")
    )
    _bucketed_append(kept_bands, index_path, id_col)
    return kept


MEDIA_INDEX_SCHEMA = (
    "media_id long, band int, band_key long, dhash long, _batch string, bucket int"
)


def media_dedup_increment(
    new_media: DataFrame,
    index_path: str,
    id_col: str = "media_id",
    bands: int = 4,
    band_bits: int = 12,
    max_hamming: int = 6,
    batch_tag: str | None = None,
) -> DataFrame:
    """Incremental PERCEPTUAL near-dup filtering for media payloads —
    the media twin of :func:`dedup_increment`: each ingest batch
    dHashes only its own payloads and probes a persisted band index of
    everything already accepted, instead of re-hashing the corpus.

    Improvement over the text index that the cheap fingerprint makes
    possible: index rows carry the full 48-bit dhash (one bigint), so
    a band collision is VERIFIED by exact hamming distance
    (bit_count(xor) <= ``max_hamming``) before a document is dropped —
    the text version must drop on raw band collision because storing
    shingle sets would blow up the index.  A new payload is dropped
    when it hamming-matches (a) any accepted payload sharing a band, or
    (b) a smaller-id payload of its own batch sharing a band
    (deterministic keep-smallest).  ``batch_tag`` gives the same
    replay-idempotence contract as the text operator: redelivered
    micro-batches exclude their own previous append from the probe.

    Index cost: bands+? rows x ~48 bytes per accepted payload; the
    probe is an equi-join on (band, band_key) with a bigint xor verify
    — AQE-splittable, partitionable by band_key prefix at scale."""
    from etl_8million_data__spark.operators.multimodal import perceptual_hash

    spark = new_media.sparkSession
    ph = perceptual_hash(new_media).select(
        F.col("media_id").alias(id_col) if id_col != "media_id" else F.col("media_id"),
        "dhash",
    )
    mask = (1 << band_bits) - 1
    band_rows = ph.select(
        id_col,
        "dhash",
        F.explode(
            F.array(*[F.lit(j) for j in range(bands)])
        ).alias("band"),
    ).select(
        id_col,
        "dhash",
        "band",
        F.expr(f"shiftright(dhash, band * {band_bits}) & {mask}")
        .cast("long")
        .alias("band_key"),
    )
    bands_new = band_rows.localCheckpoint(eager=True)

    idx = read_index(spark, index_path, MEDIA_INDEX_SCHEMA)
    if batch_tag is not None:
        idx = idx.filter(~F.col("_batch").eqNullSafe(F.lit(batch_tag)))

    ham = F.bit_count(
        F.col("dhash").bitwiseXOR(F.col("_idx_dhash"))
    )
    vs_corpus = (
        bands_new.join(
            idx.select(
                "band", "band_key", F.col("dhash").alias("_idx_dhash")
            ).distinct(),
            ["band", "band_key"],
        )
        .filter(ham <= max_hamming)
        .select(id_col)
        .distinct()
    )
    a = bands_new.select(
        F.col(id_col).alias("_ida"), "band", "band_key",
        F.col("dhash").alias("_dha"),
    )
    b = bands_new.select(
        F.col(id_col).alias("_idb"), "band", "band_key",
        F.col("dhash").alias("_dhb"),
    )
    vs_batch = (
        a.join(b, ["band", "band_key"])
        .filter(
            (F.col("_ida") < F.col("_idb"))
            & (F.bit_count(F.col("_dha").bitwiseXOR(F.col("_dhb"))) <= max_hamming)
        )
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    dropped = vs_corpus.unionByName(vs_batch).distinct().localCheckpoint(eager=True)

    kept = new_media.join(dropped, id_col, "left_anti")
    kept_bands = bands_new.join(dropped, id_col, "left_anti").withColumn(
        "_batch", F.lit(batch_tag).cast("string")
    )
    _bucketed_append(kept_bands, index_path, id_col)
    return kept


WINNOW_INDEX_SCHEMA = "doc_id long, fp long, _batch string, bucket int"


def winnowing_increment(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 5,
    min_shared: int = 3,
    df_cap: int = 20,
    batch_tag: str | None = None,
) -> DataFrame:
    """Incremental LOCAL-overlap filtering against a persisted
    winnowing-fingerprint index — the operational (batch-vs-corpus)
    form of dedup_winnowing_pairs, catching what the band index
    structurally cannot: a new document that EMBEDS a long passage of
    an accepted one (quotes, clones) while differing everywhere else
    keeps near-zero whole-set Jaccard — no shared MinHash band — but
    winnowing guarantees shared fingerprints for any common run of
    >= w+k-1 tokens.

    Rules mirror dedup_increment: a new doc is dropped when it shares
    >= ``min_shared`` rare fingerprints with any single accepted
    document, or with any smaller-id document of its own batch
    (deterministic smaller-id-wins); docs too short to fill one window
    (< k+w-1 tokens) emit no fingerprints and always pass. Fingerprints
    held by more than ``df_cap`` accepted documents are masked at probe
    time (boilerplate, the MOSS exclusion) — computed here with one
    aggregate over the index; at 100 TB keep a (fp, df) sidecar
    maintained by the same appends instead of re-aggregating.
    ``batch_tag`` gives at-least-once replay idempotence exactly as in
    dedup_increment: the probe ignores index rows carrying its own tag.

    Index layout: (doc_id, fp bigint, _batch) parquet rows, ~2/(w+1)
    of each accepted doc's grams; the probe is an equi-join on fp whose
    blocks are bounded by ``df_cap``."""
    from etl_8million_data__spark.operators.dedup import winnowing_fingerprints

    spark = new_docs.sparkSession
    fps_new = (
        winnowing_fingerprints(new_docs, k, w, text_col, id_col)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint(eager=True)
    )

    idx = read_index(spark, index_path, WINNOW_INDEX_SCHEMA)
    if batch_tag is not None:
        idx = idx.filter(~F.col("_batch").eqNullSafe(F.lit(batch_tag)))
    idx = idx.select("doc_id", "fp").distinct()
    fpdf = idx.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
    rare_idx = idx.join(fpdf.filter(F.col("_df") <= df_cap), "fp").select(
        F.col("doc_id").alias("_idx_doc"), "fp"
    )
    vs_corpus = (
        fps_new.join(rare_idx, "fp")
        .groupBy("doc_id", "_idx_doc")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_shared)
        .select("doc_id")
        .distinct()
    )
    # within-batch: drop b when some smaller-id a of the same batch
    # shares >= min_shared (batch-rare) fingerprints with it
    bdf = fps_new.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
    rare_new = fps_new.join(bdf.filter(F.col("_df") <= df_cap), "fp").select(
        "doc_id", "fp"
    )
    a = rare_new.select(F.col("doc_id").alias("_a"), "fp")
    b = rare_new.select(F.col("doc_id").alias("doc_id"), "fp")
    vs_batch = (
        a.join(b, "fp")
        .filter(F.col("_a") < F.col("doc_id"))
        .groupBy("_a", "doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_shared)
        .select("doc_id")
        .distinct()
    )
    dropped = vs_corpus.unionByName(vs_batch).distinct().localCheckpoint(eager=True)

    kept = new_docs.join(dropped, new_docs[id_col] == dropped["doc_id"], "left_anti")
    kept_fps = fps_new.join(dropped, "doc_id", "left_anti").withColumn(
        "_batch", F.lit(batch_tag).cast("string")
    )
    _bucketed_append(kept_fps, index_path, "doc_id")
    return kept


def build_benchmark_index(
    bench_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> None:
    """Persist the decontamination reference: the benchmark corpus's
    exploded distinct shingle grams plus per-doc set sizes. The index
    is FROZEN — ingested documents are checked against it but never
    extend it (benchmarks don't grow with the train stream), which is
    what makes the streaming guard's replay story trivial compared to
    the dedup index (no batch-tag machinery: the probe side has no
    state to collide with). ``grams/`` and ``sizes/`` replace any
    existing index in one commit."""
    from etl_8million_data__spark.operators.dedup import doc_shingle_frame

    sh = doc_shingle_frame(bench_docs, text_col, id_col, k)
    ex = sh.select(
        F.col(id_col).alias("bench_doc"), F.explode("shingles").alias("g")
    )
    sz = sh.select(
        F.col(id_col).alias("bench_doc"), F.size("shingles").alias("n_bench")
    )
    with swap_in(index_path) as tmp:
        ex.write.parquet(os.path.join(tmp, "grams"))
        sz.write.parquet(os.path.join(tmp, "sizes"))


def contamination_filter(
    new_docs: DataFrame,
    index_path: str,
    threshold_num: int = 1,
    threshold_den: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Drop every incoming document that CONTAINS a benchmark doc at
    >= threshold shingle containment (|new ∩ bench| / |bench|) — the
    ingest-time form of corpus_fuzzy_contamination's batch sweep, so
    contaminated training text never lands in the corpus at all.

    Scale shape: shingles are computed for THIS batch only; the join is
    batch-grams × benchmark-grams (benchmark-sized, small by
    definition), one (doc, bench_doc) count aggregate, an integer
    containment gate, and a left-anti against the flagged doc ids.
    Documents too short to shingle pass through (they cannot contain a
    benchmark doc). Everything is deterministic, so batch and streaming
    ingests agree exactly (asserted in tests)."""
    from etl_8million_data__spark.operators.dedup import doc_shingle_frame

    spark = new_docs.sparkSession
    grams = spark.read.parquet(os.path.join(index_path, "grams"))
    sizes = spark.read.parquet(os.path.join(index_path, "sizes"))
    nsh = doc_shingle_frame(new_docs, text_col, id_col, k)
    nex = nsh.select(F.col(id_col), F.explode("shingles").alias("g"))
    common = (
        nex.join(grams, "g")
        .groupBy(id_col, "bench_doc")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    flagged = (
        common.join(sizes, "bench_doc")
        .filter(F.col("common") * threshold_den >= threshold_num * F.col("n_bench"))
        .select(id_col)
        .distinct()
    )
    return new_docs.join(flagged, id_col, "left_anti")
