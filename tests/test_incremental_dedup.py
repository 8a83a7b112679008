"""Batch-vs-index incremental near-dup filtering
(operators/incremental_dedup.py): first batch seeds the index, later
batches drop collisions with accepted content, short docs always pass."""

from __future__ import annotations

from etl_8million_data__spark.operators.incremental_dedup import dedup_increment

_LONG_A = "the quick brown fox jumps over the lazy dog again and again"
_LONG_A_NEAR = "the quick brown fox jumps over the lazy dog again and again!"
_LONG_B = "completely different content talking about spark shuffles and joins"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_first_batch_keeps_canonical_and_drops_batch_dup(spark, tmp_path):
    idx = str(tmp_path / "band_index")
    batch1 = _docs(spark, [(1, _LONG_A), (2, _LONG_A_NEAR), (3, _LONG_B)])
    kept = dedup_increment(batch1, idx)
    # 2 is a near-dup of 1 (same leading shingles -> shared band); 1 wins
    assert _ids(kept) == [1, 3]


def test_second_batch_filtered_against_index(spark, tmp_path):
    idx = str(tmp_path / "band_index")
    dedup_increment(_docs(spark, [(1, _LONG_A), (3, _LONG_B)]), idx)
    batch2 = _docs(
        spark,
        [
            (10, _LONG_A),  # exact dup of accepted 1 -> dropped
            (11, "a brand new document with entirely novel words in it today"),
            (12, "hi"),  # < k tokens: no bands, always kept
        ],
    )
    kept = dedup_increment(batch2, idx)
    assert _ids(kept) == [11, 12]
    # replaying the same content yet again still collides with the index
    kept_again = dedup_increment(
        _docs(spark, [(20, _LONG_A), (21, _LONG_B)]), idx
    )
    assert _ids(kept_again) == []


def test_mixed_legacy_and_tagged_index_keeps_batch_column(spark, tmp_path):
    """An index directory mixing pre-batch-tagging files (no _batch
    column) with tagged appends must still read the _batch column
    (mergeSchema) — otherwise the same-tag probe exclusion silently
    becomes a no-op and a redelivered batch self-collides."""
    from pyspark.sql import functions as F

    from etl_8million_data__spark.operators.bucket_store import read_index
    from etl_8million_data__spark.operators.incremental_dedup import INDEX_SCHEMA

    idx = str(tmp_path / "band_index")
    # legacy write: untagged schema (pre-_batch layout)
    legacy = spark.createDataFrame(
        [(99, 0, "legacyband")], "doc_id long, band int, band_key string"
    )
    legacy.write.mode("append").parquet(idx)
    # tagged append from a later deploy
    dedup_increment(_docs(spark, [(1, _LONG_A)]), idx, batch_tag="b0")

    got = read_index(spark, idx, INDEX_SCHEMA)
    assert "_batch" in got.columns
    tags = {r["_batch"] for r in got.select("_batch").distinct().collect()}
    assert "b0" in tags and None in tags  # both file generations visible

    # the same-tag exclusion still works against the mixed directory:
    # replaying tag b0 with the same content must keep the doc (its own
    # bands are excluded), not self-collide
    replay = dedup_increment(_docs(spark, [(1, _LONG_A)]), idx, batch_tag="b0")
    assert _ids(replay) == [1]


def test_streaming_ingest_dedups_across_batches(spark, tmp_path):
    """File-stream ingest: batch 2's near-dup of batch 1 content is
    filtered by the persisted index; survivors accumulate in out."""
    from etl_8million_data__spark.streaming.jobs import stream_dedup_increment

    src = tmp_path / "in"
    src.mkdir()
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    _docs(spark, [(1, _LONG_A), (2, _LONG_B)]).write.mode("overwrite").parquet(
        str(src / "batch1")
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(src / "batch1")
    )
    stream_dedup_increment(stream, idx, out, ckpt).awaitTermination()

    _docs(spark, [(10, _LONG_A), (11, "fresh unseen words compose this novel document")]).write.mode(
        "overwrite"
    ).parquet(str(src / "batch2"))
    stream2 = spark.readStream.schema(schema).parquet(str(src / "batch2"))
    stream_dedup_increment(stream2, idx, out, str(tmp_path / "ckpt2")).awaitTermination()

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 11]


def test_redelivered_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a micro-batch (failure
    after the index append but before checkpoint commit) must neither
    lose the batch (self-collision with its own bands) nor duplicate it
    in the out path."""
    from etl_8million_data__spark.streaming.jobs import dedup_ingest_batch

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    scope = str(tmp_path / "ckpt")

    batch = _docs(spark, [(1, _LONG_A), (2, _LONG_B)])
    dedup_ingest_batch(batch, 0, idx, out, scope)
    # simulate redelivery of the SAME batch id: first attempt already
    # appended doc 1/2's bands to the index
    dedup_ingest_batch(batch, 0, idx, out, scope)
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2]  # not [] (lost) and not [1, 1, 2, 2] (duped)

    # a genuinely NEW batch id with duplicate content still collides
    dedup_ingest_batch(_docs(spark, [(10, _LONG_A), (11, "novel words entirely fresh here today")]), 1, idx, out, scope)
    got2 = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got2 == [1, 2, 11]


def test_prefix_filter_is_lossless_superset_of_lsh_verified(spark, sf_dir):
    """prefix filtering is EXACT: its pair set must contain every pair
    the probabilistic LSH+verify path finds at the same threshold (LSH
    can miss pairs; prefix filtering cannot), and every returned pair
    must genuinely satisfy J >= 1/2."""
    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.dedup import (
        jaccard_verified_pairs,
        prefix_filter_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): (r.common, r.union_size)
        for r in prefix_filter_pairs(d, 1, 2).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in jaccard_verified_pairs(d, threshold=0.5).collect()}
    assert lsh <= set(exact), "exact join missed pairs the LSH path found"
    for (a, b), (common, union) in exact.items():
        assert 2 * common >= union, (a, b, common, union)


def test_prefix_filter_boundary_pair(spark):
    """A pair at exactly J = 1/2 must be kept; just below must not.
    Sets: A = {g1..g4}, B shares exactly 2 of 4 (J = 2/6 < 1/2 -> out);
    C shares 4 of 4 with A plus 0 extra on a doc of equal size
    (J = 1 -> in); D shares 3 of 4, |D| = 2... constructed via texts
    whose 3-shingle sets are controlled word runs."""
    from etl_8million_data__spark.operators.dedup import prefix_filter_pairs

    # doc 1: tokens a b c d e  -> shingles {abc, bcd, cde}  (n=3)
    # doc 2: same text         -> identical set, J=1        (kept)
    # doc 3: tokens a b c x y  -> shingles {abc, bcx, cxy}: shares 1 of 3
    #        union = 5, J = 1/5 < 1/2                        (dropped)
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c x y")],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r.jaccard for r in prefix_filter_pairs(docs, 1, 2).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0


# --- media (perceptual) incremental dedup ---------------------------------

def _media(spark, rows):
    return spark.createDataFrame(rows, "media_id long, content binary")


def _mids(df):
    return sorted(r.media_id for r in df.select("media_id").collect())


def _payload(seed: int, flip: int | None = None) -> bytes:
    b = bytearray(((seed * 7 + i * 13) % 251) for i in range(256))
    if flip is not None:
        b[flip] = (b[flip] + 128) % 251
    return bytes(b)


def test_media_increment_first_batch_and_probe(spark, tmp_path):
    from etl_8million_data__spark.operators.incremental_dedup import (
        media_dedup_increment,
    )

    idx = str(tmp_path / "media_index")
    b1 = _media(spark, [(1, _payload(1)), (2, _payload(1, flip=9)), (3, _payload(99))])
    kept = media_dedup_increment(b1, idx)
    # 2 is a re-encode-style near-dup of 1 (few-bit dhash delta); 1 wins
    assert _mids(kept) == [1, 3]
    # second batch: exact re-upload dropped, novel payload kept
    b2 = _media(spark, [(10, _payload(1)), (11, _payload(500))])
    assert _mids(media_dedup_increment(b2, idx)) == [11]


def test_media_increment_replay_idempotent(spark, tmp_path):
    from etl_8million_data__spark.operators.incremental_dedup import (
        media_dedup_increment,
    )

    idx = str(tmp_path / "media_index")
    media_dedup_increment(_media(spark, [(1, _payload(1))]), idx, batch_tag="b0")
    batch = _media(spark, [(5, _payload(7)), (6, _payload(7, flip=3))])
    k1 = _mids(media_dedup_increment(batch, idx, batch_tag="b1"))
    # redelivery of the same tagged batch must not self-collide
    k2 = _mids(media_dedup_increment(batch, idx, batch_tag="b1"))
    assert k1 == k2 == [5]


def test_media_increment_band_collision_without_match_kept(spark, tmp_path):
    from etl_8million_data__spark.operators.incremental_dedup import (
        media_dedup_increment,
    )

    idx = str(tmp_path / "media_index")
    media_dedup_increment(_media(spark, [(1, _payload(1))]), idx)
    # a genuinely different payload is kept even if some 12-bit band
    # happens to collide: the hamming verify gates the drop
    kept = media_dedup_increment(_media(spark, [(2, _payload(42))]), idx)
    assert _mids(kept) == [2]


def test_streaming_media_ingest_dedups_across_batches(spark, tmp_path):
    from etl_8million_data__spark.streaming.jobs import stream_media_dedup_increment

    src = tmp_path / "min"
    src.mkdir()
    idx = str(tmp_path / "midx")
    out = str(tmp_path / "mout")
    schema = "media_id long, content binary"

    _media(spark, [(1, _payload(1)), (2, _payload(99))]).write.mode(
        "overwrite"
    ).parquet(str(src / "b1"))
    s1 = spark.readStream.schema(schema).parquet(str(src / "b1"))
    stream_media_dedup_increment(s1, idx, out, str(tmp_path / "mc1")).awaitTermination()

    # batch 2: near-dup of accepted 1 (few-bit dhash delta) + novel
    _media(spark, [(10, _payload(1, flip=9)), (11, _payload(500))]).write.mode(
        "overwrite"
    ).parquet(str(src / "b2"))
    s2 = spark.readStream.schema(schema).parquet(str(src / "b2"))
    stream_media_dedup_increment(s2, idx, out, str(tmp_path / "mc2")).awaitTermination()

    got = sorted(r.media_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 11]


_PASSAGE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
)
_HOST_A = "one two three four five six seven eight nine ten " + _PASSAGE
_HOST_B = (
    "totally unrelated prose about distributed query engines and their "
    "shuffle strategies " + _PASSAGE + " trailing words conclude this text"
)
_NOVEL = (
    "uniform umbrella victor whiskey xray yankee zulu apple banana cherry "
    "dragonfruit elderberry fig grape honeydew imbe jackfruit kiwi lemon mango"
)


def test_winnowing_increment_catches_embedded_passage(spark, tmp_path):
    """A doc embedding a 20-token passage of an accepted doc has tiny
    whole-set Jaccard (different everywhere else) but must collide via
    the winnowing index; novel and too-short docs pass."""
    from etl_8million_data__spark.operators.incremental_dedup import (
        winnowing_increment,
    )

    idx = str(tmp_path / "winnow_index")
    kept1 = winnowing_increment(_docs(spark, [(1, _HOST_A)]), idx)
    assert _ids(kept1) == [1]
    kept2 = winnowing_increment(
        _docs(spark, [(10, _HOST_B), (11, _NOVEL), (12, "too short")]), idx
    )
    # 10 quotes the accepted passage -> dropped; 11 novel; 12 short
    assert _ids(kept2) == [11, 12]
    # survivors extend the index: a doc quoting 11's content now collides
    kept3 = winnowing_increment(
        _docs(spark, [(20, "prefix words then " + _NOVEL + " and a suffix")]), idx
    )
    assert _ids(kept3) == []


def test_winnowing_increment_batch_dup_and_replay(spark, tmp_path):
    from etl_8million_data__spark.operators.incremental_dedup import (
        winnowing_increment,
    )

    idx = str(tmp_path / "winnow_index")
    batch = _docs(spark, [(1, _HOST_A), (2, _HOST_B), (3, _NOVEL)])
    kept = winnowing_increment(batch, idx, batch_tag="b1")
    # 2 shares the passage with smaller-id 1 inside the batch
    assert _ids(kept) == [1, 3]
    # replay of the same tagged batch ignores its own index rows:
    # identical kept-set, no self-collision
    kept_replay = winnowing_increment(batch, idx, batch_tag="b1")
    assert _ids(kept_replay) == [1, 3]


def test_streaming_winnowing_filters_embedded_passage(spark, tmp_path):
    """Streaming twin of winnowing_increment: batch 2's document that
    quotes a passage accepted in batch 1 is filtered; novel content
    accumulates in out."""
    from etl_8million_data__spark.streaming.jobs import stream_winnowing_increment

    src = tmp_path / "win_in"
    src.mkdir()
    idx = str(tmp_path / "win_idx")
    out = str(tmp_path / "win_out")
    schema = "doc_id long, text string"

    _docs(spark, [(1, _HOST_A)]).write.mode("overwrite").parquet(str(src / "b1"))
    s1 = spark.readStream.schema(schema).parquet(str(src / "b1"))
    stream_winnowing_increment(s1, idx, out, str(tmp_path / "wc1")).awaitTermination()

    _docs(spark, [(10, _HOST_B), (11, _NOVEL)]).write.mode("overwrite").parquet(
        str(src / "b2")
    )
    s2 = spark.readStream.schema(schema).parquet(str(src / "b2"))
    stream_winnowing_increment(s2, idx, out, str(tmp_path / "wc2")).awaitTermination()

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 11]


def test_winnowing_detection_guarantee(spark):
    """The winnowing guarantee (Schleimer et al.): any shared token run
    of length >= w+k-1 (= 8 at k=4, w=5) produces at least one shared
    fingerprint. Construct 12 doc pairs whose ONLY common content is an
    8-token run planted at varying offsets inside otherwise-disjoint
    vocabulary, and assert every pair shares a fingerprint value."""
    from pyspark.sql import functions as F

    from etl_8million_data__spark.operators.dedup import winnowing_fingerprints

    rows = []
    for i in range(12):
        run = " ".join(f"shared{i}x{j}" for j in range(8))
        left_pad = " ".join(f"la{i}y{j}" for j in range(3 + i))
        right_pad = " ".join(f"lb{i}z{j}" for j in range(15 - i))
        rows.append((2 * i, f"{left_pad} {run} {right_pad}"))
        rows.append(
            (2 * i + 1, " ".join(f"rc{i}w{j}" for j in range(i + 4)) + f" {run}")
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnowing_fingerprints(docs, k=4, w=5).select("doc_id", "fp").distinct()
    a = fp.select((F.col("doc_id") / 2).cast("long").alias("pair"), "fp").filter(
        F.col("doc_id") % 2 == 0
    )
    b = fp.select((F.col("doc_id") / 2).cast("long").alias("pair"), "fp").filter(
        F.col("doc_id") % 2 == 1
    )
    shared = a.join(b, ["pair", "fp"]).select("pair").distinct()
    got = sorted(r.pair for r in shared.collect())
    assert got == list(range(12)), f"pairs missing a shared fingerprint: {got}"


def test_contamination_filter_matches_audit_query(spark, sf_dir, tmp_path):
    """The ingest-time guard must drop EXACTLY the train docs the batch
    audit (corpus_fuzzy_contamination) flags: same shingles, same
    containment gate, two independently-written plans of one
    definition. Short (<3-token) docs must pass through."""
    from pyspark.sql import functions as F

    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.incremental_dedup import (
        build_benchmark_index,
        contamination_filter,
    )
    from etl_8million_data__spark.plans import all_queries

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    idx = str(tmp_path / "bench_index")
    build_benchmark_index(bench, idx)
    kept = contamination_filter(train, idx)
    dropped = {r.doc_id for r in train.select("doc_id").collect()} - {
        r.doc_id for r in kept.select("doc_id").collect()
    }
    audit = {
        r.train_doc
        for r in all_queries()["corpus_fuzzy_contamination"].build(spark, sf_dir).collect()
    }
    assert dropped == audit and audit, (sorted(dropped)[:5], sorted(audit)[:5])
    # short docs cannot contain a benchmark doc and must survive
    shorty = spark.createDataFrame([(10**9, "one two", "en", "srcX", 7)],
                                   "doc_id long, text string, lang string, source string, n_chars long")
    assert contamination_filter(shorty, idx).count() == 1


def test_stream_contamination_guard_equals_batch(spark, sf_dir, tmp_path):
    """Replaying the train docs as a stream must keep exactly the batch
    filter's survivors, and a second replay must not duplicate them
    (per-batch overwrite partitions)."""
    import os

    from pyspark.sql import functions as F

    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.incremental_dedup import (
        build_benchmark_index,
        contamination_filter,
    )
    from etl_8million_data__spark.streaming.jobs import stream_contamination_guard

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    idx = str(tmp_path / "bench_index")
    build_benchmark_index(bench, idx)

    src = str(tmp_path / "train_src")
    docs.filter(F.col("source") != "src0").write.parquet(src)
    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "clean")

    def run(ckpt):
        stream = spark.readStream.schema(schema).parquet(src)
        stream_contamination_guard(
            stream, idx, out, str(tmp_path / ckpt)
        ).awaitTermination()

    run("ckpt1")
    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    want = {
        r.doc_id
        for r in contamination_filter(
            load_table(spark, sf_dir, "documents").filter(F.col("source") != "src0"),
            idx,
        ).select("doc_id").collect()
    }
    assert got == want
    run("ckpt2")
    assert spark.read.parquet(out).count() == len(want)
