"""Structured Streaming twins of the batch time-series queries
(SURVEY.md §7.2(4)): readStream → event-time transforms → writeStream.

The reference has no true streaming (its closest pattern is the
skip-existing incremental ingest, details.py:277-281); these jobs are
the streaming vocabulary the rebuilt engine adds, expressed so the
*same aggregation logic* runs batch (plans/timeseries.py, oracle-
checked) and streaming (here, checked against the batch results in
tests/test_streaming.py).

Notes for a real cluster:
- watermarks bound state: tune to the real out-of-orderness, not the
  test's replay;
- ``trigger(availableNow=True)`` is the batch-replay/backfill mode;
  production uses processing-time triggers + checkpoints;
- distinct counts are not supported in streaming aggs — the streaming
  twin uses approx_count_distinct where the batch form is exact.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.functions.exact import cents
from etl_8million_data__spark.operators.upsert import upsert_parquet


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a stream. Streams need an explicit schema;
    reuse the batch reader's (post nanos->micros conversion happens
    here too, mirroring catalog.load_table)."""
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    # readStream sources must be directories; stage a symlink dir over
    # the single-file fixture (sf_dir itself holds many tables).
    stage = os.path.join(tempfile.gettempdir(), f"events_stream_{abs(hash(path))}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    stream = spark.readStream.schema(raw_schema).parquet(stage)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP (LTZ); the session tz is pinned
        # to UTC so this cast is wall-clock-preserving.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_hourly_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour aggregation (streaming twin of
    events_tumbling_hourly; n_users is approximate here — exact
    distinct is unsupported on streams)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "n_users_approx",
            "total_value",
        )
    )


def session_windows_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "0 seconds") -> DataFrame:
    """Watermarked per-user session windows (streaming twin of
    events_session_windows; append mode emits sessions the watermark
    has passed)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame, keys: list[str], watermark: str = "30 days"
) -> DataFrame:
    """Streaming dedup: first row per key within the watermark horizon
    (state is bounded by the watermark — the streaming analog of the
    batch window-dedup upsert)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def enriched_events_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch of events joins the static
    customer dim (broadcast per batch — the streaming form of the
    fact⋈dim dimension join, SURVEY §2.3)."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return events.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "ts", "event_type", "value", "c_name", "c_mktsegment"
    )


def run_available_now(
    df: DataFrame, query_name: str, output_mode: str, checkpoint_dir: str
) -> DataFrame:
    """Execute a streaming frame over all currently-available input and
    return the memory-sink result (test/backfill harness)."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.sql(f"SELECT * FROM {query_name}")


def stream_upsert_to_parquet(
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
):
    """writeStream.foreachBatch -> keyed last-writer-wins upsert into a
    Parquet snapshot: the streaming version of the reference's
    ON DUPLICATE KEY UPDATE sink."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(batch_df.sparkSession, batch_df, path, keys, order_col)

    return (
        df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def click_purchase_pairs_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join with watermarks: every (purchase,
    preceding-hour click) pair per user. Both sides are watermarked and
    the join condition bounds event-time distance, so the state store
    can evict clicks older than purchase-watermark − 1 h — bounded
    state, the canonical streaming attribution join."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") < F.col("purchase_ts")),
        "inner",
    ).select("purchase_id", "click_id", "user_id")


def stream_upsert_versioned(
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
):
    """writeStream.foreachBatch -> *versioned* keyed upsert with
    exactly-once table commits: foreachBatch is at-least-once (a batch
    is redelivered after a failure between sink write and checkpoint
    commit), so each micro-batch's id is recorded in the table manifest
    and a batch at-or-below the last committed id *for this stream* is
    skipped instead of re-applied. The skip token is scoped to the
    checkpoint location (Delta txnAppId-style): batch ids restart at 0
    for a fresh checkpoint, so a new stream with genuinely new data
    must not be dropped by another stream's high-water mark. The upsert
    itself is idempotent for identical rows, but skipping also keeps
    the version history replay-clean (no spurious snapshots), which
    vacuum/time-travel consumers see."""
    from etl_8million_data__spark.operators import versioned as V

    scope = os.path.abspath(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = V.last_committed_batch(path, query_id=scope)
        if last is not None and batch_id <= last:
            return
        V.upsert(
            batch_df.sparkSession,
            batch_df,
            path,
            keys,
            order_col,
            batch_id=batch_id,
            query_id=scope,
        )

    return (
        df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def doc_quality_profile_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming twin of corpus_quality_profile_by_source: per-source
    quality dashboard over a document stream (crawl-ingest
    observability — watch stopword/alpha drift per source as batches
    land). A global stateful aggregation (no event-time column on
    documents), so run it in complete/update mode; state is bounded by
    the number of sources. The per-doc metrics are micro-int floored
    BEFORE aggregation, so the final rows are bit-identical to the
    batch query over the same replayed data."""
    from etl_8million_data__spark.plans.text import (
        quality_profile_agg,
        quality_profile_metrics,
    )

    return quality_profile_agg(quality_profile_metrics(docs_stream))


def dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    scope: str,
) -> None:
    """One micro-batch of the streaming dedup ingest, written to be
    IDEMPOTENT under foreachBatch's at-least-once redelivery:

    - the band-index append is tagged with (scope, batch_id) and
      ``dedup_increment`` excludes same-tag rows when probing, so a
      replayed batch never collides with the bands its failed previous
      attempt appended (which would silently drop the whole batch);
    - the survivors land in a per-batch partition directory
      ``out_path/ingest_batch=<tag>/`` written with mode=overwrite, so
      a replay rewrites the same files instead of appending duplicates.
      Readers see the union via normal partition discovery
      (``spark.read.parquet(out_path)``).

    Exposed at module level (not a closure) so the redelivery path is
    directly testable."""
    import hashlib

    from etl_8million_data__spark.operators.incremental_dedup import dedup_increment

    scope_h = hashlib.md5(scope.encode()).hexdigest()[:8]
    tag = f"{scope_h}-{batch_id}"
    kept = dedup_increment(batch_df, index_path, batch_tag=f"{scope}#{batch_id}")
    kept.write.mode("overwrite").parquet(
        os.path.join(out_path, f"ingest_batch={tag}")
    )


def stream_dedup_increment(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
):
    """Streaming corpus ingest with incremental near-dup filtering:
    each micro-batch probes the persisted LSH band index
    (operators/incremental_dedup.dedup_increment — signatures computed
    for the batch only, never the corpus), writes the surviving
    documents under ``out_path``, and extends the index with their
    bands.  foreachBatch because the filter needs a batch-side parquet
    read (the index) plus two writes; foreachBatch is only
    at-least-once, so both writes are made replay-idempotent (batch-tag
    exclusion on the index probe + per-batch overwrite partition on the
    out path — see :func:`dedup_ingest_batch`), which together with the
    checkpoint's completed-batch skipping gives exactly-once output."""
    scope = os.path.abspath(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        dedup_ingest_batch(batch_df, batch_id, index_path, out_path, scope)

    return (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ann_index_increment(
    emb_stream: DataFrame,
    index_path: str,
    weights: list[list[int]],
    n_bits: int,
    checkpoint_dir: str,
):
    """Streaming vector ingest into the persisted cell-partitioned ANN
    inverted file (operators/incremental_ann.py): each micro-batch
    computes SRP cell assignments for ITS OWN vectors only (a narrow
    map — corpus-side state is never recomputed) and appends them
    skip-existing by vec_id.  Unlike the dedup twin, no batch-tag
    machinery is needed for replay idempotence: a redelivered batch's
    vec_ids are already indexed, so the skip-existing anti-join makes
    the re-append a natural no-op — at-least-once foreachBatch plus
    checkpointed batch skipping yields an exactly-once index."""
    from etl_8million_data__spark.operators.incremental_ann import append_vectors

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_vectors(batch_df, index_path, weights, n_bits, batch_tag=str(batch_id))

    return (
        emb_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ivfpq_index_increment(
    emb_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming vector ingest into the persisted IVF-PQ index
    (operators/incremental_ann.build_index_ivfpq): each micro-batch
    encodes ITS OWN vectors against the FROZEN stored codebooks —
    coarse cell + packed residual codes, two broadcast-bounded argmin
    aggregates, never a retrain — and appends them skip-existing by
    vec_id into the cell partitions. Same replay-idempotence argument
    as :func:`stream_ann_index_increment`: a redelivered batch's ids
    are already indexed, so the anti-join makes the re-append a natural
    no-op; at-least-once foreachBatch + checkpointed batch skipping
    yields an exactly-once index. The index must exist (seeded by a
    batch build) before the stream starts — the codebooks are the
    contract every stored code depends on."""
    from etl_8million_data__spark.operators.incremental_ann import (
        append_vectors_ivfpq,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_vectors_ivfpq(batch_df, index_path, batch_tag=str(batch_id))

    return (
        emb_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def media_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    scope: str,
) -> None:
    """One micro-batch of the streaming MEDIA ingest — the perceptual
    twin of :func:`dedup_ingest_batch` with the identical idempotence
    contract: batch-tagged index append + same-tag probe exclusion,
    and per-batch overwrite partitions for the survivors."""
    import hashlib

    from etl_8million_data__spark.operators.incremental_dedup import (
        media_dedup_increment,
    )

    scope_h = hashlib.md5(scope.encode()).hexdigest()[:8]
    tag = f"{scope_h}-{batch_id}"
    kept = media_dedup_increment(
        batch_df, index_path, batch_tag=f"{scope}#{batch_id}"
    )
    kept.write.mode("overwrite").parquet(
        os.path.join(out_path, f"ingest_batch={tag}")
    )


def stream_media_dedup_increment(
    media_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
):
    """Streaming media ingest with incremental PERCEPTUAL dedup: each
    micro-batch dHashes its own payloads, probes the persisted band
    index with exact hamming verification
    (operators/incremental_dedup.media_dedup_increment), writes the
    surviving payloads under ``out_path``, and extends the index.
    Exactly-once output through the same three mechanisms as the text
    twin: checkpoint completed-batch skipping + batch-tag probe
    exclusion + per-batch overwrite partitions."""
    scope = os.path.abspath(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        media_ingest_batch(batch_df, batch_id, index_path, out_path, scope)

    return (
        media_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def winnow_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    scope: str,
) -> None:
    """One micro-batch of the streaming winnowing ingest — identical
    idempotence contract to :func:`dedup_ingest_batch` (same-tag probe
    exclusion on the fingerprint index, per-batch overwrite partition
    on the out path), with the winnowing index doing LOCAL-overlap
    filtering instead of whole-document band collision."""
    import hashlib

    from etl_8million_data__spark.operators.incremental_dedup import (
        winnowing_increment,
    )

    scope_h = hashlib.md5(scope.encode()).hexdigest()[:8]
    tag = f"{scope_h}-{batch_id}"
    kept = winnowing_increment(batch_df, index_path, batch_tag=f"{scope}#{batch_id}")
    kept.write.mode("overwrite").parquet(
        os.path.join(out_path, f"ingest_batch={tag}")
    )


def stream_winnowing_increment(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
):
    """Streaming twin of the incremental winnowing filter
    (operators/incremental_dedup.winnowing_increment): each micro-batch
    winnows ITS OWN documents only, probes the persisted fingerprint
    index for embedded-passage overlap with everything accepted so
    far, writes survivors, extends the index. foreachBatch +
    replay-idempotent writes, exactly like stream_dedup_increment."""
    scope = os.path.abspath(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        winnow_ingest_batch(batch_df, batch_id, index_path, out_path, scope)

    return (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_sign_index_increment(
    emb_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming vector ingest into the persisted binary-signature
    index (operators/incremental_ann.build_index_sign): each
    micro-batch computes the two 32-bit sign words for ITS OWN vectors
    only (a narrow map — signatures are a pure per-row function, so
    unlike the IVF-PQ twin there are not even frozen codebooks to
    consult) and appends skip-existing by vec_id. Same
    replay-idempotence argument as :func:`stream_ann_index_increment`:
    a redelivered batch's ids are already indexed, so the anti-join
    makes the re-append a natural no-op; at-least-once foreachBatch +
    checkpointed batch skipping yields an exactly-once index."""
    from etl_8million_data__spark.operators.incremental_ann import (
        append_vectors_sign,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_vectors_sign(batch_df, index_path, batch_tag=str(batch_id))

    return (
        emb_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_kmeans_index_increment(
    emb_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming vector ingest into the persisted learned-IVF index
    (operators/incremental_ann.build_index_kmeans): each micro-batch
    assigns ITS OWN vectors to their nearest FROZEN centroid (one
    broadcast-bounded argmin — the centroids are never retrained, the
    same frozen-model contract as the IVF-PQ twin) and appends them
    skip-existing by vec_id into the cell partitions. Same
    replay-idempotence argument as :func:`stream_ann_index_increment`:
    a redelivered batch's ids are already indexed, so the anti-join
    makes the re-append a natural no-op; at-least-once foreachBatch +
    checkpointed batch skipping yields an exactly-once index. The
    index must exist (seeded by a batch build) before the stream
    starts — the centroids are the contract every stored assignment
    depends on."""
    from etl_8million_data__spark.operators.incremental_ann import (
        append_vectors_kmeans,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_vectors_kmeans(batch_df, index_path, batch_tag=str(batch_id))

    return (
        emb_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_int8_index_increment(
    emb_stream: DataFrame,
    index_path: str,
    weights: list[list[int]],
    n_bits: int,
    checkpoint_dir: str,
):
    """Streaming vector ingest into the persisted int8-quantized
    inverted file (operators/incremental_ann.build_index_int8): each
    micro-batch SRP-assigns and int8-quantizes ITS OWN vectors only
    (narrow maps — per-vector scale, no global statistics, so nothing
    to retrain) and appends skip-existing by vec_id into the cell
    partitions. Same replay-idempotence argument as
    :func:`stream_ann_index_increment`."""
    from etl_8million_data__spark.operators.incremental_ann import (
        append_vectors_int8,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_vectors_int8(
            batch_df, index_path, weights, n_bits, batch_tag=str(batch_id)
        )

    return (
        emb_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_probe_score_increment(
    emb_stream: DataFrame,
    weights_path: str,
    out_path: str,
    checkpoint_dir: str,
):
    """Streaming quality scoring with a FROZEN trained probe
    (operators/probe.py): each micro-batch milli-quantizes ITS OWN
    vectors and scores them against the persisted 64-row weight frame —
    one broadcast row, one narrow map, never a retrain — appending
    (vec_id, score_micro) skip-existing. This is online model-based
    quality filtering: the curation probe trains once in batch
    (embedding_linear_probe) and every newly ingested document gets its
    keep/drop score as it arrives. Replay-idempotent exactly-once by
    the standard argument (anti-join no-op + checkpointed batch
    skipping)."""
    from etl_8million_data__spark.operators.probe import score_new_vectors

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        score_new_vectors(batch_df, weights_path, out_path, batch_tag=str(batch_id))

    return (
        emb_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def contamination_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    scope: str,
) -> None:
    """One micro-batch of the streaming decontamination guard,
    idempotent under at-least-once redelivery AND full re-streams: the
    benchmark index is FROZEN (probe-only — nothing to collide with on
    replay); surviving documents land in a per-batch overwrite
    partition ``out_path/ingest_batch=<tag>/`` so a redelivered batch
    rewrites the same files; and already-ingested doc_ids are dropped
    by a column-pruned anti-join against the sink (the same
    skip-existing contract as the index ingests), so even a replay
    under a FRESH checkpoint is a no-op instead of a duplicate
    ingest."""
    import hashlib

    from etl_8million_data__spark.operators.bucket_store import store_exists
    from etl_8million_data__spark.operators.incremental_dedup import (
        contamination_filter,
    )

    scope_h = hashlib.md5(scope.encode()).hexdigest()[:8]
    tag = f"{scope_h}-{batch_id}"
    spark = batch_df.sparkSession
    # first batch decided driver-side (see bucket_store.store_exists):
    # a caught PATH_NOT_FOUND query would still land an ERROR on the
    # execution-listener bus
    if store_exists(out_path):
        existing = spark.read.parquet(out_path).select("doc_id")
        fresh = batch_df.join(existing, "doc_id", "left_anti")
    else:
        fresh = batch_df
    kept = contamination_filter(fresh, index_path).localCheckpoint(eager=True)
    if kept.count():
        kept.write.mode("overwrite").parquet(
            os.path.join(out_path, f"ingest_batch={tag}")
        )


def stream_contamination_guard(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
):
    """Streaming ingest-time benchmark decontamination: each
    micro-batch is checked against the persisted benchmark shingle
    index (operators/incremental_dedup.contamination_filter — shingles
    computed for the batch only) and only documents that do NOT contain
    a benchmark doc at >= 1/2 containment are written. This is
    corpus_fuzzy_contamination moved to where it belongs in production:
    the door, not the audit. Exactly-once by the standard argument
    (frozen index + per-batch overwrite partitions + checkpointed batch
    skipping); stream output is asserted EQUAL to the batch filter in
    tests."""
    scope = os.path.abspath(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        contamination_ingest_batch(batch_df, batch_id, index_path, out_path, scope)

    return (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_postings_increment(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming document ingest into the persisted positional text
    index (operators/search_index.py) — the text twin of
    stream_ann_index_increment: each micro-batch tokenizes ITS OWN
    documents only and appends their postings (and _doclen sidecar
    rows) skip-existing by doc_id, so a redelivered or fully replayed
    batch is a natural no-op and phrase/BM25 probes against the index
    equal a fresh batch build (asserted in tests)."""
    from etl_8million_data__spark.operators.search_index import append_documents

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_documents(batch_df, index_path)

    return (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_quantile_sketch_increment(
    rows: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    k: int = 256,
    key_col: str = "key",
    value_col: str = "cents",
):
    """Maintain the bottom-k quantile sketch (plans/approx.
    sketch_bottomk_quantiles) over a stream — the sketch's KMV
    mergeability doing its production job: each micro-batch hashes its
    OWN keys, unions with the persisted sample, re-truncates to the k
    smallest hashes, and atomically swaps the k-row sketch table. The
    maintained sketch equals the batch-computed bottom-k of everything
    seen (asserted in tests), replays are no-ops (a redelivered row
    re-merges to the same sample), and reading quantiles off it never
    touches the raw history. Per batch: O(batch) hash + a k-row
    union/truncate; the sketch table is k rows forever.

    The per-key dedupe is DETERMINISTIC — min(v) per key under a total
    order, not dropDuplicates' arbitrary pick — so a key re-arriving
    with a different value resolves identically on every replay and in
    the batch twin. The empty-sketch schema is derived from the BATCH
    frame, not hardcoded, so a non-bigint key type round-trips without
    coercion."""
    from etl_8million_data__spark.operators.bucket_store import store_exists
    from etl_8million_data__spark.operators.maintenance import swap_in
    from etl_8million_data__spark.operators.text import hex_prefix_int, md5_utf8

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = batch_df.select(
            F.col(key_col).alias("key"),
            F.col(value_col).cast("bigint").alias("v"),
            hex_prefix_int(md5_utf8(F.col(key_col).cast("string")), 8).alias("h"),
        )
        with swap_in(sketch_path) as tmp:
            # first batch decided driver-side (bucket_store.store_exists)
            if store_exists(sketch_path):
                existing = spark.read.parquet(sketch_path)
            else:
                existing = spark.createDataFrame([], b.schema)
            merged = (
                existing.unionByName(b)
                .groupBy("key")
                .agg(F.min("v").alias("v"), F.min("h").alias("h"))
                .orderBy("h", "key")
                .limit(k)
            )
            merged.coalesce(1).write.mode("overwrite").parquet(tmp)

    return (
        rows.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
