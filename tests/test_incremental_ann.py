"""Persisted ANN inverted file (operators/incremental_ann.py): a probe
against the cell-partitioned index returns exactly what a fresh
in-memory knn_ivf build would; appends are skip-existing and land in
cell partitions; the probe's scan is restricted to probed cells."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.operators.incremental_ann import (
    append_vectors,
    build_index,
    probe_index,
)
from etl_8million_data__spark.operators.similarity import (
    adaptive_n_bits,
    hyperplane_weights,
    knn_ivf,
)

_DIM = 8
_W = hyperplane_weights(16, _DIM)


def _emb(spark, sf_dir):
    # project fixtures down to _DIM components so the test stays fast
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, _DIM).alias("embedding")
    )


def _queries(emb):
    return emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _rows(df):
    return sorted(
        (r.query_id, r.vec_id, round(r.cosine, 9), r.rn)
        for r in df.select("query_id", "vec_id", "cosine", "rn").collect()
    )


def test_probe_matches_fresh_ivf_build(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    n_bits = adaptive_n_bits(emb.count())
    idx = str(tmp_path / "ann_index")
    build_index(emb, idx, _W, n_bits)
    q = _queries(emb)
    got = probe_index(spark, idx, q, _W, n_bits, k=5, nprobe=3)
    want = knn_ivf(emb, q, _W, k=5, nprobe=3, n_bits=n_bits)
    assert _rows(got) == _rows(want)
    # the index is genuinely partitioned by cell (DPP-prunable layout)
    assert any(d.startswith("cell=") for d in os.listdir(idx))


def test_append_is_skip_existing_and_probe_sees_new_vectors(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    n_bits = adaptive_n_bits(emb.count())
    idx = str(tmp_path / "ann_index")
    seed = emb.filter(F.col("vec_id") < 100)
    build_index(seed, idx, _W, n_bits)

    # re-presenting already-indexed vectors appends nothing
    assert append_vectors(seed, idx, _W, n_bits, batch_tag="b1") == 0

    # a batch mixing old and new appends only the new ones
    batch = emb.filter(F.col("vec_id") < 150)
    n_new = batch.join(seed.select("vec_id"), "vec_id", "left_anti").count()
    assert append_vectors(batch, idx, _W, n_bits, batch_tag="b2") == n_new

    # after the append, a probe is identical to a fresh build over the
    # union — index persistence is an I/O optimization, not a semantic fork
    q = _queries(emb).limit(3)
    got = probe_index(spark, idx, q, _W, n_bits, k=5, nprobe=3)
    want = knn_ivf(batch, q, _W, k=5, nprobe=3, n_bits=n_bits)
    assert _rows(got) == _rows(want)


def test_probe_empty_index_returns_no_rows(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    got = probe_index(spark, str(tmp_path / "missing_index"), q, _W, 4, k=5, nprobe=2)
    assert got.count() == 0


def test_stream_ann_index_matches_batch_build(spark, sf_dir, tmp_path):
    """Replaying the embeddings as a stream must leave the index in a
    state where probes equal a fresh batch build — and a second replay
    of the same data must be a no-op (skip-existing replay idempotence,
    no batch-tag machinery needed)."""
    import os

    from etl_8million_data__spark.streaming.jobs import stream_ann_index_increment

    emb = _emb(spark, sf_dir)
    n_bits = adaptive_n_bits(emb.count())
    idx = str(tmp_path / "ann_index")
    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = spark.read.parquet(path).schema
    stage = str(tmp_path / "stage")
    os.mkdir(stage)
    os.symlink(path, os.path.join(stage, "embeddings.parquet"))

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .parquet(stage)
            .select("vec_id", F.slice("embedding", 1, _DIM).alias("embedding"))
        )
        q = stream_ann_index_increment(stream, idx, _W, n_bits, str(tmp_path / ckpt))
        q.awaitTermination()

    run("ckpt1")
    n_indexed = spark.read.parquet(idx).count()
    assert n_indexed == emb.count()
    # fresh checkpoint, same data: every vec_id already indexed -> no growth
    run("ckpt2")
    assert spark.read.parquet(idx).count() == n_indexed

    q = _queries(emb).limit(3)
    got = probe_index(spark, idx, q, _W, n_bits, k=5, nprobe=3)
    want = knn_ivf(emb, q, _W, k=5, nprobe=3, n_bits=n_bits)
    assert _rows(got) == _rows(want)


def test_int8_index_probe_matches_in_memory_composition(spark, sf_dir, tmp_path):
    """The persisted int8-coded index must be a pure I/O optimization:
    probing it returns exactly the same ranking as running the
    identical quantize -> route -> integer-score composition on an
    in-memory frame (score_int8 over _int8_cell_frame)."""
    from etl_8million_data__spark.operators.incremental_ann import (
        _int8_cell_frame,
        append_vectors_int8,
        build_index_int8,
        probe_index_int8,
        score_int8,
    )
    from etl_8million_data__spark.operators.similarity import (
        projections,
        srp_probe_cells,
    )

    emb = _emb(spark, sf_dir)
    n_bits = adaptive_n_bits(emb.count())
    idx = str(tmp_path / "int8_index")
    build_index_int8(emb, idx, _W, n_bits)

    q = _queries(emb)
    got = probe_index_int8(spark, idx, q, _W, n_bits, k=5, nprobe=3)

    mem = _int8_cell_frame(emb, _W, n_bits, "vec_id", "embedding", None).drop("_batch")
    xd = F.transform(F.col("query_vec"), lambda v: v.cast("double"))
    scale = F.array_max(F.transform(xd, lambda v: F.abs(v)))
    s = q.select("query_id", xd.alias("_xd"), scale.alias("_scale")).filter(
        F.col("_scale") > 0
    )
    qq = F.transform(
        F.col("_xd"),
        lambda v: (
            F.signum(v) * F.floor(F.abs(v) / F.col("_scale") * 127 + F.lit(0.5))
        ).cast("int"),
    )
    from etl_8million_data__spark.operators.incremental_ann import _idot

    probes = s.select(
        "query_id",
        qq.alias("qq"),
        _idot(qq, qq).alias("qnq"),
        F.explode(
            srp_probe_cells(projections(F.col("_xd"), _W, n_bits), n_bits, 3)
        ).alias("cell"),
    )
    want = score_int8(mem, probes, 5)

    def rows(df):
        return sorted(
            (r.query_id, r.vec_id, round(r.q_cosine, 9), r.rn)
            for r in df.select("query_id", "vec_id", "q_cosine", "rn").collect()
        )

    assert rows(got) == rows(want)
    assert rows(got)  # non-trivial

    # skip-existing append contract holds for the int8 layout too
    assert append_vectors_int8(emb, idx, _W, n_bits, batch_tag="b1") == 0


def test_ivfpq_index_probe_matches_in_memory_composition(spark, sf_dir, tmp_path):
    """Probing the persisted IVF-PQ index must return EXACTLY what the
    in-memory knn_ivf_pq composition computes at the same parameters —
    persistence (train -> freeze -> encode -> pack -> partition by
    cell) is a pure I/O optimization, not a semantic fork. Also pins
    the storage contract: codes/ is cell-partitioned and each stored
    row is one packed bigint, no float vectors."""
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_ivfpq,
        probe_index_ivfpq,
    )
    from etl_8million_data__spark.operators.similarity import knn_ivf_pq
    from etl_8million_data__spark.plans.similarity import _unit_normalized

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq_index")
    build_index_ivfpq(emb, idx, k_cells=8, km_iters=2, m=16, ksub=16, pq_iters=2)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = probe_index_ivfpq(spark, idx, q, k=5, nprobe=2)
    want = knn_ivf_pq(
        _unit_normalized(emb), k_cells=8, km_iters=2, m=16, ksub=16,
        pq_iters=2, k=5, nprobe=2, query_mod=100,
    )

    def rows(df):
        return sorted(
            (r.query_id, r.vec_id, r.adc_micro, r.rn)
            for r in df.select("query_id", "vec_id", "adc_micro", "rn").collect()
        )

    assert rows(got) == rows(want)
    assert rows(got)  # non-trivial
    assert any(d.startswith("cell=") for d in os.listdir(f"{idx}/codes"))
    stored = spark.read.parquet(f"{idx}/codes")
    assert dict(stored.dtypes)["codes_packed"] == "bigint"
    assert not any("array" in t for _, t in stored.dtypes)


def test_ivfpq_append_is_skip_existing_against_frozen_codebooks(
    spark, sf_dir, tmp_path
):
    """Appends encode against the STORED codebooks (no retrain) and
    skip existing ids; a re-append of the same batch adds zero rows;
    probes see appended vectors as candidates."""
    from etl_8million_data__spark.operators.incremental_ann import (
        append_vectors_ivfpq,
        build_index_ivfpq,
        probe_index_ivfpq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 5 != 0)
    idx = str(tmp_path / "ivfpq_inc")
    build_index_ivfpq(seed, idx)
    n_total = emb.count()
    n_seed = seed.count()
    added = append_vectors_ivfpq(emb, idx, batch_tag="b1")
    assert added == n_total - n_seed
    assert append_vectors_ivfpq(emb, idx, batch_tag="b2") == 0
    stored = spark.read.parquet(f"{idx}/codes")
    assert stored.count() == n_total
    # appended vectors are probe candidates
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = {
        r.vec_id for r in probe_index_ivfpq(spark, idx, q, k=10, nprobe=4).collect()
    }
    appended_ids = {r.vec_id for r in emb.filter(F.col("vec_id") % 5 == 0).collect()}
    assert hits & appended_ids, "no appended vector ever surfaced in a probe"


def test_ivfpq_probe_reads_only_probed_partitions(spark, sf_dir, tmp_path):
    """The probe must READ only the probed cells' code files — asserted
    on the executed scan's numPartitions metric (the plan-text
    dynamicpruning filter was measured degrading to `true` at runtime;
    the routed-literal partition filter is what actually prunes)."""
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_ivfpq,
        probe_index_ivfpq,
    )
    from etl_8million_data__spark.profile import scan_partition_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq_dpp")
    build_index_ivfpq(emb, idx)
    n_cells_total = (
        spark.read.parquet(f"{idx}/codes").select("cell").distinct().count()
    )
    q = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        .limit(2)
    )
    df = probe_index_ivfpq(spark, idx, q, k=3, nprobe=2)
    # match the scan by its unique output column (FileSourceScan's
    # toString truncates long tmp paths)
    metrics = scan_partition_metrics(df, "codes_packed")
    assert metrics, "no codes scan found in executed plan"
    # 2 queries x nprobe=2 -> at most 4 of the 8 cells can be probed
    for m in metrics:
        assert m["numPartitions"] <= 4, m
        assert m["numPartitions"] < n_cells_total, (m, n_cells_total)


def test_stream_ivfpq_index_matches_incremental_batch(spark, sf_dir, tmp_path):
    """Streaming vectors into a seeded IVF-PQ index must land every new
    vector exactly once (replay of the same data is a no-op) and leave
    the index identical to the same-seed batch-append path — the frozen
    codebooks make the streamed encoding deterministic."""
    import os as _os

    from etl_8million_data__spark.operators.incremental_ann import (
        append_vectors_ivfpq,
        build_index_ivfpq,
    )
    from etl_8million_data__spark.streaming.jobs import stream_ivfpq_index_increment

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 3 != 0)
    idx_stream = str(tmp_path / "ivfpq_stream")
    idx_batch = str(tmp_path / "ivfpq_batch")
    build_index_ivfpq(seed, idx_stream)
    build_index_ivfpq(seed, idx_batch)

    path = _os.path.join(sf_dir, "embeddings.parquet")
    schema = spark.read.parquet(path).schema
    stage = str(tmp_path / "stage")
    _os.mkdir(stage)
    _os.symlink(path, _os.path.join(stage, "embeddings.parquet"))

    def run(ckpt):
        stream = spark.readStream.schema(schema).parquet(stage)
        q = stream_ivfpq_index_increment(stream, idx_stream, str(tmp_path / ckpt))
        q.awaitTermination()

    run("ckpt1")
    n = spark.read.parquet(f"{idx_stream}/codes").count()
    assert n == emb.count()
    run("ckpt2")  # replay: every vec_id already indexed -> no growth
    assert spark.read.parquet(f"{idx_stream}/codes").count() == n

    append_vectors_ivfpq(emb, idx_batch, batch_tag="0")
    got = {
        (r.vec_id, r.cell, r.codes_packed)
        for r in spark.read.parquet(f"{idx_stream}/codes")
        .select("vec_id", "cell", "codes_packed")
        .collect()
    }
    want = {
        (r.vec_id, r.cell, r.codes_packed)
        for r in spark.read.parquet(f"{idx_batch}/codes")
        .select("vec_id", "cell", "codes_packed")
        .collect()
    }
    assert got == want


def _full_emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def test_sign_index_probe_matches_in_memory_rerank(spark, sf_dir, tmp_path):
    """A probe against the persisted signature index must return
    exactly what the in-memory knn_hamming_rerank computes on the same
    corpus — persistence is a layout choice, not a semantic fork."""
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_sign,
        probe_index_sign,
    )
    from etl_8million_data__spark.operators.similarity import knn_hamming_rerank

    emb = _full_emb(spark, sf_dir)
    idx = str(tmp_path / "sign_index")
    build_index_sign(emb, idx)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = probe_index_sign(spark, idx, q, shortlist=50, k=10)
    want = knn_hamming_rerank(emb, shortlist=50, k=10)
    assert _rows(got) == _rows(want)
    assert _rows(got)


def test_sign_index_append_skip_existing_and_probe_sees_new(spark, sf_dir, tmp_path):
    from etl_8million_data__spark.operators.incremental_ann import (
        append_vectors_sign,
        build_index_sign,
        probe_index_sign,
    )

    emb = _full_emb(spark, sf_dir)
    half = emb.filter(F.col("vec_id") % 2 == 0)
    idx = str(tmp_path / "sign_index")
    build_index_sign(half, idx)
    # re-appending the same half is a no-op
    assert append_vectors_sign(half, idx) == 0
    # appending everything adds only the odd half
    n_new = append_vectors_sign(emb, idx)
    assert n_new == emb.count() - half.count()
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = {r.vec_id for r in probe_index_sign(spark, idx, q, k=10).collect()}
    assert any(v % 2 == 1 for v in hits), "probe must see appended odd vectors"


def test_sign_index_shortlist_scan_is_column_pruned(spark, sf_dir, tmp_path):
    """The 32x bandwidth story must hold in the STORED form: the
    Hamming stage's parquet scan reads only (vec_id, sig0, sig1) —
    never the 64-double vector column — asserted on the probe plan's
    ReadSchema, with the vector column appearing only in the
    shortlist-restricted rerank scan."""
    import re

    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_sign,
        probe_index_sign,
    )

    emb = _full_emb(spark, sf_dir)
    idx = str(tmp_path / "sign_index")
    build_index_sign(emb, idx)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = probe_index_sign(spark, idx, q, k=10)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    sig_scans = [s for s in schemas if "sig0" in s]
    assert sig_scans, plan[:500]
    assert all("embedding" not in s for s in sig_scans), sig_scans


def test_stream_sign_index_matches_batch_build(spark, sf_dir, tmp_path):
    """Replaying the embeddings as a stream must leave the signature
    index probing identically to a fresh batch build, and a second
    replay must be a no-op (skip-existing replay idempotence)."""
    import os

    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_sign,
        probe_index_sign,
    )
    from etl_8million_data__spark.streaming.jobs import stream_sign_index_increment

    emb = _full_emb(spark, sf_dir)
    idx = str(tmp_path / "sign_stream_index")
    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = spark.read.parquet(path).schema
    stage = str(tmp_path / "stage")
    os.mkdir(stage)
    os.symlink(path, os.path.join(stage, "embeddings.parquet"))

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .parquet(stage)
            .select("vec_id", "embedding")
        )
        stream_sign_index_increment(
            stream, idx, str(tmp_path / ckpt)
        ).awaitTermination()

    run("ckpt1")
    n_indexed = spark.read.parquet(idx).count()
    assert n_indexed == emb.count()
    run("ckpt2")
    assert spark.read.parquet(idx).count() == n_indexed

    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch_idx = str(tmp_path / "sign_batch_index")
    build_index_sign(emb, batch_idx)
    got = probe_index_sign(spark, idx, q, k=10)
    want = probe_index_sign(spark, batch_idx, q, k=10)
    assert _rows(got) == _rows(want)


def test_kmeans_index_probe_matches_in_memory_ivf(spark, sf_dir, tmp_path):
    """Probing the persisted learned-IVF index must return EXACTLY what
    the in-memory knn_ivf_kmeans composition computes at the same
    parameters — the stored assignment IS the training assignment and
    query routing uses the frozen centroids, so there is no drift
    window anywhere in the path."""
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_kmeans,
        probe_index_kmeans,
    )
    from etl_8million_data__spark.operators.similarity import knn_ivf_kmeans

    emb = _full_emb(spark, sf_dir)
    idx = str(tmp_path / "km_index")
    build_index_kmeans(emb, idx, k_cells=8, iters=2)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = probe_index_kmeans(spark, idx, q, k=10, nprobe=2)
    want = knn_ivf_kmeans(emb, k_cells=8, iters=2, k=10, nprobe=2, query_mod=100)
    assert _rows(got) == _rows(want)
    assert _rows(got)  # non-trivial
    assert any(d.startswith("cell=") for d in os.listdir(f"{idx}/vectors"))


def test_kmeans_append_is_skip_existing_against_frozen_centroids(
    spark, sf_dir, tmp_path
):
    """Appends assign against the STORED centroids (no retrain) with the
    same (dist, j) argmin total order as training: re-encoding the seed
    adds zero rows AND lands every seed vector in the cell training
    chose for it; appended vectors become probe candidates."""
    from etl_8million_data__spark.operators.incremental_ann import (
        _assign_cells_kmeans,
        append_vectors_kmeans,
        build_index_kmeans,
        probe_index_kmeans,
    )

    emb = _full_emb(spark, sf_dir)
    seed = emb.filter(F.col("vec_id") % 5 != 0)
    idx = str(tmp_path / "km_inc")
    build_index_kmeans(seed, idx, k_cells=8, iters=2)

    # frozen-centroid re-encode reproduces the training assignment
    cents = spark.read.parquet(f"{idx}/centroids")
    re_assign = {
        (r.vec_id, r.cell)
        for r in _assign_cells_kmeans(seed, cents, "vec_id", "embedding", None)
        .select("vec_id", "cell")
        .collect()
    }
    stored = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{idx}/vectors")
        .select("vec_id", "cell")
        .collect()
    }
    assert re_assign == stored

    assert append_vectors_kmeans(seed, idx, batch_tag="b1") == 0
    added = append_vectors_kmeans(emb, idx, batch_tag="b2")
    assert added == emb.count() - seed.count()
    assert append_vectors_kmeans(emb, idx, batch_tag="b3") == 0

    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = {
        r.vec_id for r in probe_index_kmeans(spark, idx, q, k=10, nprobe=4).collect()
    }
    appended_ids = {r.vec_id for r in emb.filter(F.col("vec_id") % 5 == 0).collect()}
    assert hits & appended_ids, "no appended vector ever surfaced in a probe"


def test_stream_kmeans_index_matches_batch_append(spark, sf_dir, tmp_path):
    """The learned-IVF streaming twin: seeding a batch build (frozen
    centroids), then replaying the full embedding set as a stream must
    leave probes equal to the batch-append path over the same seed —
    and a second replay under a fresh checkpoint must be a no-op
    (skip-existing replay idempotence), symmetric with the text-index
    streaming ingest twin."""
    from etl_8million_data__spark.operators.incremental_ann import (
        append_vectors_kmeans,
        build_index_kmeans,
        probe_index_kmeans,
    )
    from etl_8million_data__spark.streaming.jobs import stream_kmeans_index_increment

    emb = _full_emb(spark, sf_dir)
    seed = emb.filter(F.col("vec_id") % 5 != 0)
    idx_stream = str(tmp_path / "km_stream")
    idx_batch = str(tmp_path / "km_batch")
    build_index_kmeans(seed, idx_stream, k_cells=8, iters=2)
    build_index_kmeans(seed, idx_batch, k_cells=8, iters=2)
    append_vectors_kmeans(emb, idx_batch, batch_tag="batch")

    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = spark.read.parquet(path).schema
    stage = str(tmp_path / "stage")
    os.mkdir(stage)
    os.symlink(path, os.path.join(stage, "embeddings.parquet"))

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .parquet(stage)
            .select("vec_id", "embedding")
        )
        stream_kmeans_index_increment(
            stream, idx_stream, str(tmp_path / ckpt)
        ).awaitTermination()

    run("ckpt1")
    n_indexed = spark.read.parquet(f"{idx_stream}/vectors").count()
    assert n_indexed == emb.count()
    run("ckpt2")  # replay: skip-existing no-op
    assert spark.read.parquet(f"{idx_stream}/vectors").count() == n_indexed

    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = probe_index_kmeans(spark, idx_stream, q, k=10, nprobe=4)
    want = probe_index_kmeans(spark, idx_batch, q, k=10, nprobe=4)
    assert _rows(got) == _rows(want)


def test_stream_int8_index_matches_batch_build(spark, sf_dir, tmp_path):
    """The int8 streaming twin: replaying the embeddings as a stream
    must leave probes equal to a fresh batch build (per-vector scales,
    nothing learned, so no seeding needed), with skip-existing replay
    idempotence."""
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_int8,
        probe_index_int8,
    )
    from etl_8million_data__spark.streaming.jobs import stream_int8_index_increment

    emb = _emb(spark, sf_dir)
    n_bits = adaptive_n_bits(emb.count())
    idx_stream = str(tmp_path / "i8_stream")
    idx_batch = str(tmp_path / "i8_batch")
    build_index_int8(emb, idx_batch, _W, n_bits)

    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = spark.read.parquet(path).schema
    stage = str(tmp_path / "stage")
    os.mkdir(stage)
    os.symlink(path, os.path.join(stage, "embeddings.parquet"))

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .parquet(stage)
            .select("vec_id", F.slice("embedding", 1, _DIM).alias("embedding"))
        )
        stream_int8_index_increment(
            stream, idx_stream, _W, n_bits, str(tmp_path / ckpt)
        ).awaitTermination()

    run("ckpt1")
    n_indexed = spark.read.parquet(idx_stream).count()
    assert n_indexed == emb.count()
    run("ckpt2")
    assert spark.read.parquet(idx_stream).count() == n_indexed

    q = _queries(emb).limit(3)
    got = probe_index_int8(spark, idx_stream, q, _W, n_bits, k=5, nprobe=3)
    want = probe_index_int8(spark, idx_batch, q, _W, n_bits, k=5, nprobe=3)

    def rows(df):
        return sorted(
            (r.query_id, r.vec_id, round(r.q_cosine, 9), r.rn)
            for r in df.select("query_id", "vec_id", "q_cosine", "rn").collect()
        )

    assert rows(got) == rows(want)
    assert rows(got)  # non-trivial


def test_kmeans_probe_reads_only_probed_partitions(spark, sf_dir, tmp_path):
    """The probe must READ only the probed cells' vector files —
    asserted on the executed scan's numPartitions metric, same contract
    as the IVF-PQ probe."""
    from etl_8million_data__spark.operators.incremental_ann import (
        build_index_kmeans,
        probe_index_kmeans,
    )
    from etl_8million_data__spark.profile import scan_partition_metrics

    emb = _full_emb(spark, sf_dir)
    idx = str(tmp_path / "km_dpp")
    build_index_kmeans(emb, idx, k_cells=8, iters=2)
    n_cells_total = (
        spark.read.parquet(f"{idx}/vectors").select("cell").distinct().count()
    )
    q = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        .limit(2)
    )
    df = probe_index_kmeans(spark, idx, q, k=3, nprobe=2)
    metrics = scan_partition_metrics(df, "km_dpp/vectors")
    assert metrics, "no vectors scan found in executed plan"
    # 2 queries x nprobe=2 -> at most 4 of the 8 cells can be probed
    for m in metrics:
        assert m["numPartitions"] <= 4, m
        assert m["numPartitions"] < n_cells_total, (m, n_cells_total)


def test_probe_plans_without_footer_pass_over_unprobed_cells(
    spark, sf_dir, tmp_path
):
    """The static-schema read contract: a probe must not run schema
    inference over unprobed partitions. Proven physically — a GARBAGE
    parquet file planted in a cell the probe does not touch leaves the
    probe's answer intact (the declared schema plans with zero footer
    reads and the literal cell filter skips the file), while the old
    eager mergeSchema read provably fails on the same store (it merges
    EVERY file's footer before any filter prunes)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    emb = _emb(spark, sf_dir)
    n_bits = adaptive_n_bits(emb.count())
    idx = str(tmp_path / "ann_index")
    build_index(emb, idx, _W, n_bits)

    q = _queries(emb).limit(2)
    want = _rows(probe_index(spark, idx, q, _W, n_bits, k=5, nprobe=3))

    # which cells does this probe touch?
    from etl_8million_data__spark.operators.similarity import (
        projections,
        srp_probe_cells,
    )

    probed = {
        c
        for r in q.select(
            F.explode(
                srp_probe_cells(
                    projections(F.col("query_vec"), _W, n_bits), n_bits, 3
                )
            ).alias("cell")
        ).collect()
        for c in [r["cell"]]
    }
    unprobed = [
        d
        for d in os.listdir(idx)
        if d.startswith("cell=") and int(d.split("=")[1]) not in probed
    ]
    assert unprobed, "fixture must leave at least one unprobed cell"
    victim_dir = os.path.join(idx, unprobed[0])
    with open(os.path.join(victim_dir, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet footer")
    spark.catalog.refreshByPath(idx)

    # the counterfactual: the eager footer-merge path cannot even plan
    # over this store
    with pytest.raises((Py4JJavaError, AnalysisException, Exception)):
        spark.read.option("mergeSchema", "true").parquet(idx).schema

    # the static-schema probe never opens the unprobed cell's footer
    got = _rows(probe_index(spark, idx, q, _W, n_bits, k=5, nprobe=3))
    assert got == want


def _small_emb(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1) + 1) for j in range(_DIM)]).alias(
            "embedding"
        ),
    )


def _raises_on_7(frame):
    """``frame`` with a Python UDF over vec_id that raises on id 7, so a
    write of it fails mid-job. One partition, so the failure aborts the
    job without killing sibling Python tasks mid-stream."""
    boom = F.udf(lambda i: i if i != 7 else 1 // 0, "long")
    return frame.coalesce(1).withColumn("vec_id", boom("vec_id"))


def _tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_failed_rebuild_keeps_the_old_index(spark, tmp_path):
    """A rebuild whose write job fails leaves the old index whole: the
    build commits through ``maintenance.swap_in``, so the failed job
    never touches the live directory (Spark's own overwrite emptied it
    first, and a skip-existing append then re-admitted every vector)."""
    from etl_8million_data__spark.operators.incremental_ann import INDEX_SCHEMA

    emb = _small_emb(spark)
    idx = str(tmp_path / "ann")
    build_index(emb, idx, _W, 3)
    with pytest.raises(Exception):
        build_index(_raises_on_7(emb), idx, _W, 3)
    assert spark.read.schema(INDEX_SCHEMA).parquet(idx).count() == 40


def test_failed_ivfpq_build_keeps_model_and_codes_together(
    spark, tmp_path, monkeypatch
):
    """An IVF-PQ rebuild whose codes write fails leaves ``centroids/``,
    ``codebook/`` and ``codes/`` byte-identical: the three artifacts
    commit in one block, so a new codebook is never paired with old
    codes."""
    from etl_8million_data__spark.operators import incremental_ann as ann

    emb = _small_emb(spark)
    idx = str(tmp_path / "pq")
    params = dict(k_cells=2, km_iters=1, m=4, ksub=4, pq_iters=1, dim=_DIM)
    ann.build_index_ivfpq(emb, idx, **params)
    before = _tree(idx)
    assert {p.split(os.sep)[0] for p in before} == {"centroids", "codebook", "codes"}
    encode = ann._encode_ivfpq
    monkeypatch.setattr(ann, "_encode_ivfpq", lambda *a: _raises_on_7(encode(*a)))
    with pytest.raises(Exception):
        ann.build_index_ivfpq(emb, idx, **params)
    assert _tree(idx) == before
