"""Deletion propagation (operators/forget.py): forgetting a document
must remove it from every persisted derived layout — ANN cells, dedup
bands, winnowing fingerprints — with the minimal rewrite each layout
allows, and the removal must be PROBE-visible (the id never surfaces
again) and idempotent (a re-forget is a no-op)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.operators.forget import (
    compact_cells,
    forget_auto,
    forget_cell_partitioned,
    forget_ivfpq,
    forget_unpartitioned,
)


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _queries(emb):
    return emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _file_state(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size)
    return out


def test_forget_kmeans_index_prunes_probes_and_untouched_cells(spark, sf_dir, tmp_path):
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_kmeans,
        probe_index_kmeans,
    )

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "km")
    build_index_kmeans(emb, idx, k_cells=8, iters=2)
    vec_dir = f"{idx}/vectors"

    q = _queries(emb)
    before_ids = {
        r.vec_id for r in probe_index_kmeans(spark, idx, q, k=10, nprobe=8).collect()
    }
    # forget 5 ids that provably surface in probes (non-vacuous target)
    victims = sorted(before_ids)[:5]
    assert victims
    vdf = spark.createDataFrame([(v,) for v in victims], "vec_id long")

    stored = spark.read.parquet(vec_dir).select("vec_id", "cell")
    touched_cells = {
        r.cell for r in stored.join(vdf, "vec_id").select("cell").distinct().collect()
    }
    pre = _file_state(vec_dir)

    n = forget_cell_partitioned(spark, vec_dir, vdf)
    assert n == len(victims)

    # probe-visible: the forgotten ids never surface again
    after_ids = {
        r.vec_id for r in probe_index_kmeans(spark, idx, q, k=10, nprobe=8).collect()
    }
    assert not (after_ids & set(victims))
    # and nothing else was lost
    assert spark.read.parquet(vec_dir).count() == emb.count() - len(victims)

    # blast radius: files in UNtouched cells are byte-identical
    post = _file_state(vec_dir)
    for rel, sig in pre.items():
        cell_part = rel.split(os.sep)[0]
        if cell_part.startswith("cell=") and int(cell_part[5:]) not in touched_cells:
            assert post.get(rel) == sig, rel

    # idempotent: a re-forget removes nothing and rewrites nothing
    snap = _file_state(vec_dir)
    assert forget_cell_partitioned(spark, vec_dir, vdf) == 0
    assert _file_state(vec_dir) == snap


def test_forget_entire_cell_drops_directory(spark, sf_dir, tmp_path):
    from etl_8million_data__spark.operators.incremental_ann import build_index_kmeans

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "km_full")
    build_index_kmeans(emb, idx, k_cells=8, iters=2)
    vec_dir = f"{idx}/vectors"
    stored = spark.read.parquet(vec_dir).select("vec_id", "cell")
    # pick the smallest cell and forget EVERY vector in it
    smallest = (
        stored.groupBy("cell").count().orderBy("count", "cell").first()
    )
    cell_ids = stored.filter(F.col("cell") == smallest["cell"]).select("vec_id")
    n = forget_cell_partitioned(spark, vec_dir, cell_ids)
    assert n == smallest["count"]
    assert not os.path.isdir(os.path.join(vec_dir, f"cell={smallest['cell']}"))
    left = spark.read.parquet(vec_dir)
    assert left.filter(F.col("cell") == smallest["cell"]).count() == 0
    assert left.count() == emb.count() - n


def test_forget_ivfpq_codes(spark, sf_dir, tmp_path):
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_ivfpq,
        probe_index_ivfpq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq")
    build_index_ivfpq(emb, idx)
    q = _queries(emb.select("vec_id", "embedding"))
    hit = probe_index_ivfpq(spark, idx, q, k=10, nprobe=8).select("vec_id").first()
    vdf = spark.createDataFrame([(hit["vec_id"],)], "vec_id long")
    assert forget_ivfpq(spark, idx, vdf) == 1
    survivors = {
        r.vec_id for r in probe_index_ivfpq(spark, idx, q, k=10, nprobe=8).collect()
    }
    assert hit["vec_id"] not in survivors
    # model state (centroids/codebook) is untouched aggregate state
    assert spark.read.parquet(f"{idx}/centroids").count() == 8


def test_forget_band_index_stops_suppressing_future_copies(spark, sf_dir, tmp_path):
    """The ghost-match test: after doc X is forgotten from the dedup
    band index, a NEW incoming copy of X's text must be treated as
    fresh (kept), not silently suppressed by X's leftover bands."""
    from etl_8million_data__spark.operators.incremental_dedup import dedup_increment

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "bands")
    kept0 = dedup_increment(docs, idx)
    # victim must actually be IN the index (a kept doc, not a batch-dup)
    victim_id = kept0.agg(F.min("doc_id")).first()[0]
    victim = docs.filter(F.col("doc_id") == victim_id).first()

    # sanity: before the forget, a copy of the victim is suppressed
    copy1 = spark.createDataFrame(
        [(9_000_000, victim["text"])], "doc_id long, text string"
    )
    assert dedup_increment(copy1, idx).count() == 0

    vdf = spark.createDataFrame([(victim_id,)], "doc_id long")
    assert forget_auto(spark, idx, vdf) > 0
    assert forget_auto(spark, idx, vdf) == 0  # idempotent

    reincarnated = spark.createDataFrame(
        [(9_000_001, victim["text"])], "doc_id long, text string"
    )
    kept = dedup_increment(reincarnated, idx)
    assert kept.count() == 1, "forgotten doc's ghost bands still suppress new copies"


def test_forget_sign_index_and_winnowing(spark, sf_dir, tmp_path):
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_sign,
        probe_index_sign,
    )
    from etl_8million_data__spark.operators.incremental_dedup import (
        winnowing_increment,
    )

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "sign")
    build_index_sign(emb, idx)
    q = _queries(emb)
    hit = probe_index_sign(spark, idx, q, k=5).select("vec_id").first()
    vdf = spark.createDataFrame([(hit["vec_id"],)], "vec_id long")
    assert forget_auto(spark, idx, vdf, id_col="vec_id") == 1
    survivors = {r.vec_id for r in probe_index_sign(spark, idx, q, k=5).collect()}
    assert hit["vec_id"] not in survivors

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    widx = str(tmp_path / "winnow")
    winnowing_increment(docs, widx)
    wvictim = docs.orderBy("doc_id").first()
    wdf = spark.createDataFrame([(wvictim["doc_id"],)], "doc_id long")
    n = forget_auto(spark, widx, wdf)
    assert n > 0
    assert (
        spark.read.parquet(widx).filter(F.col("doc_id") == wvictim["doc_id"]).count()
        == 0
    )


def _bucket_of(spark, n_buckets, *ids):
    from etl_8million_data__spark.operators.partitioning import id_bucket

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    return {
        r["b"] for r in df.select(id_bucket(F.col("id"), n_buckets).alias("b")).collect()
    }


def test_forget_bucketed_blast_radius(spark, sf_dir, tmp_path):
    """The round-9 bucketed layouts (sign index, LSH band index,
    winnowing fingerprints) must rewrite ONLY the md5 id-buckets their
    victims land in: untouched bucket directories stay byte-identical
    (mtime + size), mirroring test_reference_resume's no-op contract,
    and probe/suppression results are unchanged except for the
    victims."""
    from etl_8million_data__spark.operators.incremental_ann import (
        N_ID_BUCKETS,
        build_index_sign,
        probe_index_sign,
    )
    from etl_8million_data__spark.operators.incremental_dedup import dedup_increment

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "sign_b")
    build_index_sign(emb, idx)
    assert any(e.startswith("bucket=") for e in os.listdir(idx))

    q = _queries(emb)
    before = {
        (r.query_id, r.vec_id) for r in probe_index_sign(spark, idx, q, k=5).collect()
    }
    victim = sorted({v for _, v in before})[0]
    vdf = spark.createDataFrame([(victim,)], "vec_id long")
    touched = _bucket_of(spark, N_ID_BUCKETS, victim)

    pre = _file_state(idx)
    assert forget_auto(spark, idx, vdf, id_col="vec_id") == 1
    post = _file_state(idx)
    for rel, sig in pre.items():
        top = rel.split(os.sep)[0]
        if top.startswith("bucket=") and int(top[7:]) not in touched:
            assert post.get(rel) == sig, f"untouched bucket rewritten: {rel}"
    after = {
        (r.query_id, r.vec_id) for r in probe_index_sign(spark, idx, q, k=5).collect()
    }
    assert victim not in {v for _, v in after}

    # a miss never rewrites anything (not even the victim's own bucket)
    snap = _file_state(idx)
    assert forget_auto(spark, idx, vdf, id_col="vec_id") == 0
    assert _file_state(idx) == snap

    # band index: same blast-radius contract through dedup_increment's
    # bucketed appends
    from etl_8million_data__spark.operators.incremental_dedup import (
        N_ID_BUCKETS as N_DOC_BUCKETS,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bidx = str(tmp_path / "bands_b")
    kept0 = dedup_increment(docs, bidx)
    assert any(e.startswith("bucket=") for e in os.listdir(bidx))
    bvictim = kept0.agg(F.min("doc_id")).first()[0]
    btouched = _bucket_of(spark, N_DOC_BUCKETS, bvictim)
    bpre = _file_state(bidx)
    assert forget_auto(spark, bidx, spark.createDataFrame([(bvictim,)], "doc_id long")) > 0
    bpost = _file_state(bidx)
    for rel, sig in bpre.items():
        top = rel.split(os.sep)[0]
        if top.startswith("bucket=") and int(top[7:]) not in btouched:
            assert bpost.get(rel) == sig, f"untouched bucket rewritten: {rel}"


def test_legacy_unpartitioned_index_keeps_flat_appends(spark, sf_dir, tmp_path):
    """An index written before the bucketed layout existed must keep
    receiving FLAT appends (partition dirs mixed into a flat root break
    partition discovery), and forget_auto must route it to the atomic
    swap — the migration story for pre-round-9 indexes."""
    from etl_8million_data__spark.operators.incremental_dedup import dedup_increment

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)

    idx = str(tmp_path / "legacy")
    # simulate a legacy index: flat parquet rows, no bucket column
    from etl_8million_data__spark.operators.incremental_dedup import _batch_bands

    _batch_bands(half1, "text", "doc_id", 3, 16, 4).withColumn(
        "_batch", F.lit(None).cast("string")
    ).write.parquet(idx)
    assert not any(e.startswith("bucket=") for e in os.listdir(idx))

    kept2 = dedup_increment(half2, idx)
    # append stayed flat: still no partition directories
    assert not any(e.startswith("bucket=") for e in os.listdir(idx))
    # and the index is still readable + the probe worked
    assert spark.read.option("mergeSchema", "true").parquet(idx).count() > 0
    assert kept2.count() > 0

    victim = kept2.agg(F.min("doc_id")).first()[0]
    vdf = spark.createDataFrame([(victim,)], "doc_id long")
    assert forget_auto(spark, idx, vdf) > 0
    assert (
        spark.read.option("mergeSchema", "true")
        .parquet(idx)
        .filter(F.col("doc_id") == victim)
        .count()
        == 0
    )


def test_compact_cells_preserves_probes_and_cuts_files(spark, sf_dir, tmp_path):
    from etl_8million_data__spark.operators.incremental_ann import (
        append_vectors_kmeans,
        build_index_kmeans,
        probe_index_kmeans,
    )

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "km_c")
    # seed + 3 append batches -> several files per cell
    build_index_kmeans(emb.filter(F.col("vec_id") % 4 == 0), idx, k_cells=8, iters=2)
    for m in (1, 2, 3):
        append_vectors_kmeans(
            emb.filter(F.col("vec_id") % 4 == m), idx, batch_tag=f"b{m}"
        )
    vec_dir = f"{idx}/vectors"
    q = _queries(emb)
    before = sorted(
        (r.query_id, r.vec_id, round(r.cosine, 9), r.rn)
        for r in probe_index_kmeans(spark, idx, q, k=10, nprobe=3).collect()
    )
    n_before, n_after = compact_cells(spark, vec_dir)
    assert n_after < n_before, (n_before, n_after)
    after = sorted(
        (r.query_id, r.vec_id, round(r.cosine, 9), r.rn)
        for r in probe_index_kmeans(spark, idx, q, k=10, nprobe=3).collect()
    )
    assert before == after
    assert before


def test_forget_symbol_from_bucketed_fact(spark, tmp_path):
    """Right-to-be-forgotten on the reference-parity artifact: deleting
    one stock from the (statement_type, stock_bucket)-partitioned
    financials fact rewrites ONLY the <= 3 partitions its bucket lands
    in; every other directory's files are byte-identical."""
    from etl_8million_data__spark.operators.forget import forget_partitioned
    from tools.reference_scale_run import run_resume

    wd = str(tmp_path / "fact_wd")
    run_resume(spark, wd, n_symbols=120)
    fact = os.path.join(wd, "financials")
    total = spark.read.parquet(fact).count()

    victim = "SYM0007"
    vdf = spark.createDataFrame([(victim,)], "stock string")
    victim_rows = (
        spark.read.parquet(fact).filter(F.col("stock") == victim).count()
    )
    assert victim_rows > 0
    touched = {
        (r.statement_type, r.stock_bucket)
        for r in spark.read.parquet(fact)
        .filter(F.col("stock") == victim)
        .select("statement_type", "stock_bucket")
        .distinct()
        .collect()
    }
    assert len(touched) <= 3

    pre = _file_state(fact)
    n = forget_partitioned(
        spark, fact, vdf, "stock", ["statement_type", "stock_bucket"]
    )
    assert n == victim_rows
    left = spark.read.parquet(fact)
    assert left.filter(F.col("stock") == victim).count() == 0
    assert left.count() == total - victim_rows

    post = _file_state(fact)
    for rel, sig in pre.items():
        if not rel.endswith(".parquet"):
            continue
        parts = rel.split(os.sep)
        key = (parts[0].split("=", 1)[1], int(parts[1].split("=", 1)[1]))
        if key not in touched:
            assert post.get(rel) == sig, rel
    # idempotent
    assert (
        forget_partitioned(spark, fact, vdf, "stock", ["statement_type", "stock_bucket"])
        == 0
    )

    # forgetting every stock of one bucket empties its three
    # (statement_type, stock_bucket) partitions: their directories go,
    # and every other file stays as it was
    left = spark.read.parquet(fact)
    bucket = left.filter(F.col("stock") == "SYM0011").first().stock_bucket
    in_bucket = left.filter(F.col("stock_bucket") == bucket)
    stocks = in_bucket.select("stock").distinct()
    n_rows = in_bucket.count()
    dirs = [
        os.path.join(fact, st, f"stock_bucket={bucket}")
        for st in os.listdir(fact)
        if st.startswith("statement_type=")
    ]
    assert len(dirs) == 3 and all(os.path.isdir(d) for d in dirs)
    pre = _file_state(fact)
    n = forget_partitioned(
        spark, fact, stocks, "stock", ["statement_type", "stock_bucket"]
    )
    assert n == n_rows
    assert not any(os.path.exists(d) for d in dirs)
    post = _file_state(fact)
    gone = {
        rel for rel in pre if rel.split(os.sep)[1:2] == [f"stock_bucket={bucket}"]
    }
    assert gone and set(post) == set(pre) - gone
    # the commit marker at the root is rewritten by every write
    assert {r for r in post if post[r] != pre[r]} <= {"_SUCCESS"}


def test_stream_forget_requests_propagates_everywhere(spark, sf_dir, tmp_path):
    """A stream of deletion requests must erase the ids from BOTH a
    cell-partitioned ANN index and the unpartitioned band index in one
    job, and a replay under a fresh checkpoint must be a no-op (forget
    is idempotent per id)."""
    from etl_8million_data__spark.operators.forget import stream_forget_requests
    from etl_8million_data__spark.operators.incremental_ann import build_index_kmeans
    from etl_8million_data__spark.operators.incremental_dedup import dedup_increment

    emb = _emb(spark, sf_dir)
    km = str(tmp_path / "km")
    build_index_kmeans(emb, km, k_cells=8, iters=2)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bands = str(tmp_path / "bands")
    dedup_increment(docs, bands)

    victims = [0, 100, 200]
    src = str(tmp_path / "req_src")
    spark.createDataFrame([(v,) for v in victims], "id long").write.parquet(src)
    targets = [
        (f"{km}/vectors", "vec_id", ["cell"]),
        (bands, "doc_id", None),
    ]

    def run(ckpt):
        stream = spark.readStream.schema("id long").parquet(src)
        stream_forget_requests(
            stream, targets, str(tmp_path / ckpt)
        ).awaitTermination()

    run("ckpt1")
    assert (
        spark.read.parquet(f"{km}/vectors")
        .filter(F.col("vec_id").isin(victims))
        .count()
        == 0
    )
    assert (
        spark.read.parquet(bands).filter(F.col("doc_id").isin(victims)).count() == 0
    )
    n_vec = spark.read.parquet(f"{km}/vectors").count()
    n_band = spark.read.parquet(bands).count()
    run("ckpt2")  # replay: idempotent
    assert spark.read.parquet(f"{km}/vectors").count() == n_vec
    assert spark.read.parquet(bands).count() == n_band


def test_forget_bucketed_modulus_mismatch_fails_loudly(spark, tmp_path):
    """ADVICE r9: an index written with MORE buckets than the forget
    call assumes would hash victims to directories they don't live in
    and silently return 0 deletions. Observed bucket values >= the
    caller's n_buckets must raise instead of quietly missing; the
    matching modulus (plumbed through forget_auto) still works."""
    import pytest

    from etl_8million_data__spark.operators.partitioning import id_bucket

    rows = spark.createDataFrame([(i, f"t{i}") for i in range(200)], "doc_id long, payload string")
    idx = str(tmp_path / "b32")
    rows.withColumn("bucket", id_bucket(F.col("doc_id"), 32)).write.partitionBy(
        "bucket"
    ).parquet(idx)
    assert any(int(e[7:]) >= 16 for e in os.listdir(idx) if e.startswith("bucket="))

    victim = spark.createDataFrame([(7,)], "doc_id long")
    with pytest.raises(ValueError, match="n_buckets"):
        forget_auto(spark, idx, victim)  # default 16 < true 32 -> loud

    # the true modulus, plumbed through forget_auto, deletes exactly one
    assert forget_auto(spark, idx, victim, n_buckets=32) == 1
    assert (
        spark.read.option("mergeSchema", "true")
        .parquet(idx)
        .filter(F.col("doc_id") == 7)
        .count()
        == 0
    )
