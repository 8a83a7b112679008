"""Persisted positional inverted index (operators/search_index.py):
build/probe semantics incl. repeated-word phrases, skip-existing
appends, and partition-pruned probe scans."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_8million_data__spark.operators.search_index import (
    append_documents,
    build_postings,
    phrase_probe,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _phrases(spark, ps):
    return spark.createDataFrame([(p,) for p in ps], "phrase string")


def test_build_and_phrase_probe(spark, tmp_path):
    idx = str(tmp_path / "pidx")
    build_postings(
        _docs(
            spark,
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "a quick brown cat naps while the quick brown fox rests"),
                (3, "nothing to see here"),
            ],
        ),
        idx,
    )
    got = {
        (r.phrase, r.doc_id): (r.n_occ, r.first_pos)
        for r in phrase_probe(
            spark, idx, _phrases(spark, ["quick brown fox", "the lazy dog"])
        ).collect()
    }
    assert got[("quick brown fox", 1)] == (1, 1)
    assert got[("quick brown fox", 2)] == (1, 7)
    assert got[("the lazy dog", 1)] == (1, 6)
    assert ("the lazy dog", 2) not in got
    assert not any(d == 3 for (_, d) in got)


def test_repeated_word_phrase_needs_distinct_offsets(spark, tmp_path):
    idx = str(tmp_path / "ridx")
    build_postings(
        _docs(spark, [(1, "buffalo buffalo buffalo"), (2, "one buffalo only")]),
        idx,
    )
    got = {
        (r.phrase, r.doc_id): (r.n_occ, r.first_pos)
        for r in phrase_probe(
            spark, idx, _phrases(spark, ["buffalo buffalo"])
        ).collect()
    }
    # overlapping occurrences at anchors 0 and 1; single-word doc absent
    assert got[("buffalo buffalo", 1)] == (2, 0)
    assert ("buffalo buffalo", 2) not in got


def test_append_skip_existing_and_searchability(spark, tmp_path):
    idx = str(tmp_path / "aidx")
    build_postings(_docs(spark, [(1, "alpha beta gamma")]), idx)
    # replaying an indexed doc appends nothing
    assert append_documents(_docs(spark, [(1, "alpha beta gamma")]), idx) == 0
    # a new doc is appended and immediately searchable
    assert append_documents(_docs(spark, [(2, "delta alpha beta")]), idx) == 1
    got = {
        r.doc_id: r.first_pos
        for r in phrase_probe(spark, idx, _phrases(spark, ["alpha beta"])).collect()
    }
    assert got == {1: 0, 2: 1}
    # replay of the append is a no-op (idempotence through skip-existing)
    assert append_documents(_docs(spark, [(2, "delta alpha beta")]), idx) == 0


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    idx = str(tmp_path / "didx")
    build_postings(
        _docs(spark, [(i, f"w{i} common filler words here") for i in range(20)]), idx
    )
    df = phrase_probe(spark, idx, _phrases(spark, ["common filler"]))
    extended = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )
    assert "dynamicpruning" in extended, "phrase probe lost partition pruning on pfx"


def _bm25_reference(spark, docs, terms, k=10):
    """In-memory BM25 with the exact expression tree of the registered
    search_bm25_rsj_topk query — the probe must equal this exactly."""
    from etl_8million_data__spark.operators.text import tokens
    from pyspark.sql import Window

    t = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 1
    )
    dl = t.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        t.select("doc_id", F.explode("toks").alias("token"))
        .join(spark.createDataFrame([(x,) for x in terms], "token string"), "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    nd, dfd = F.col("n_docs").cast("double"), F.col("df").cast("double")
    tfd, dld = F.col("tf").cast("double"), F.col("dl").cast("double")
    bm25 = ((nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))) * (
        (tfd * F.lit(2.2))
        / (tfd + (F.lit(1.2) * (F.lit(0.25) + ((F.lit(0.75) * dld) / F.col("avgdl")))))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(F.col("token").alias("term"), "doc_id", bm25.alias("bm25"))
    )
    w = Window.partitionBy("term").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _rows(df):
    return sorted(
        (r.term, r.doc_id, round(r.bm25, 12), r.rn)
        for r in df.select("term", "doc_id", "bm25", "rn").collect()
    )


def test_bm25_probe_matches_in_memory_scorer(spark, sf_dir, tmp_path):
    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.search_index import bm25_probe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "bm")
    build_postings(docs, idx)
    terms = ["table", "row", "fast"]
    tq = spark.createDataFrame([(t,) for t in terms], "term string")
    got = bm25_probe(spark, idx, tq, k=10)
    want = _bm25_reference(spark, docs, terms, k=10)
    assert _rows(got) == _rows(want)
    assert _rows(got)


def test_bm25_probe_sees_appended_docs(spark, sf_dir, tmp_path):
    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.search_index import bm25_probe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "bma")
    build_postings(seed, idx)
    assert append_documents(seed, idx) == 0  # skip-existing
    assert append_documents(docs, idx) == docs.count() - seed.count()
    tq = spark.createDataFrame([("table",), ("row",)], "term string")
    got = bm25_probe(spark, idx, tq, k=10)
    want = _bm25_reference(spark, docs, ["table", "row"], k=10)
    assert _rows(got) == _rows(want)


def test_tombstones_hide_docs_without_touching_postings(spark, sf_dir, tmp_path):
    import os

    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.search_index import (
        bm25_probe,
        tombstone_documents,
        vacuum_tombstones,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "bmt")
    build_postings(docs, idx)
    tq = spark.createDataFrame([("table",)], "term string")
    before = bm25_probe(spark, idx, tq, k=5).collect()
    victim = before[0].doc_id

    def postings_state():
        out = {}
        for dirpath, _, files in os.walk(idx):
            if "_doclen" in dirpath or "_tombstones" in dirpath:
                continue
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
        return out

    pre = postings_state()
    vdf = spark.createDataFrame([(victim,)], "doc_id long")
    assert tombstone_documents(spark, idx, vdf) == 1
    assert tombstone_documents(spark, idx, vdf) == 0  # idempotent
    assert postings_state() == pre  # postings bytes untouched

    # the tombstoned doc vanishes AND stats shrink: probe equals the
    # in-memory scorer over the corpus minus the victim
    live = docs.filter(F.col("doc_id") != victim)
    got = bm25_probe(spark, idx, tq, k=5)
    want = _bm25_reference(spark, live, ["table"], k=5)
    assert _rows(got) == _rows(want)
    assert victim not in {r.doc_id for r in got.collect()}

    # phrase probe respects tombstones too
    sample_phrase = " ".join(
        docs.filter(F.col("doc_id") == victim).first().text.split()[:3]
    )
    ph = spark.createDataFrame([(sample_phrase,)], "phrase string")
    assert victim not in {
        r.doc_id for r in phrase_probe(spark, idx, ph).collect()
    }

    # vacuum applies physically, clears tombstones, probes unchanged
    pre_vac = _rows(got)
    assert vacuum_tombstones(spark, idx) == 1
    assert not os.path.isdir(f"{idx}/_tombstones")
    assert (
        spark.read.parquet(idx).filter(F.col("doc_id") == victim).count() == 0
    )
    assert _rows(bm25_probe(spark, idx, tq, k=5)) == pre_vac
    assert vacuum_tombstones(spark, idx) == 0


def test_stream_postings_increment_matches_batch_build(spark, sf_dir, tmp_path):
    """Replaying the documents as a stream must leave the text index
    probing identically (phrase AND BM25) to a fresh batch build, and a
    second replay must be a no-op (skip-existing replay idempotence —
    same contract as every other persisted-index streaming twin)."""
    import os

    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.search_index import bm25_probe
    from etl_8million_data__spark.streaming.jobs import stream_postings_increment

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    stage = str(tmp_path / "stage")
    os.mkdir(stage)
    os.symlink(path, os.path.join(stage, "documents.parquet"))
    idx = str(tmp_path / "stream_idx")

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema).parquet(stage).select("doc_id", "text")
        )
        stream_postings_increment(stream, idx, str(tmp_path / ckpt)).awaitTermination()

    run("ckpt1")
    n_docs = spark.read.parquet(f"{idx}/_doclen").count()
    assert n_docs == docs.count()
    run("ckpt2")  # fresh checkpoint, same data -> skip-existing no-op
    assert spark.read.parquet(f"{idx}/_doclen").count() == n_docs

    batch_idx = str(tmp_path / "batch_idx")
    build_postings(docs, batch_idx)
    tq = spark.createDataFrame([("table",), ("row",)], "term string")
    assert _rows(bm25_probe(spark, idx, tq, k=10)) == _rows(
        bm25_probe(spark, batch_idx, tq, k=10)
    )
    sample = " ".join(docs.first().text.split()[:3])
    ph = spark.createDataFrame([(sample,)], "phrase string")
    got = {
        (r.phrase, r.doc_id, r.n_occ, r.first_pos)
        for r in phrase_probe(spark, idx, ph).collect()
    }
    want = {
        (r.phrase, r.doc_id, r.n_occ, r.first_pos)
        for r in phrase_probe(spark, batch_idx, ph).collect()
    }
    assert got == want and got


def test_fsck_detects_planted_corruptions(spark, sf_dir, tmp_path):
    """Index fsck: a freshly built text index and ANN index audit
    all-zero; planted corruptions (orphan doclen row, duplicated ANN
    append bypassing skip-existing) are counted, not missed."""
    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.incremental_ann import build_index_kmeans
    from etl_8million_data__spark.operators.index_fsck import (
        fsck_ann_index,
        fsck_text_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "fsck_text")
    build_postings(docs, idx)
    r = fsck_text_index(spark, idx).first()
    assert r.n_docs_postings == r.n_docs_doclen
    assert (r.n_missing_doclen, r.n_orphan_doclen, r.n_len_mismatch, r.n_dup_doclen) == (0, 0, 0, 0)

    # plant an orphan + a duplicate doclen row
    spark.createDataFrame(
        [(987654321, 5), (docs.first().doc_id, 5)], "doc_id long, dl bigint"
    ).write.mode("append").parquet(f"{idx}/_doclen")
    r2 = fsck_text_index(spark, idx).first()
    assert r2.n_orphan_doclen == 1
    assert r2.n_dup_doclen == 1
    # the duplicate's bogus dl also shows as a length mismatch
    assert r2.n_len_mismatch >= 1

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    km = str(tmp_path / "fsck_km")
    build_index_kmeans(emb, km, k_cells=8, iters=2)
    a = fsck_ann_index(spark, f"{km}/vectors", n_cells=8).first()
    assert a.n_rows == a.n_ids == emb.count()
    assert (a.n_dup_ids, a.n_bad_cell) == (0, 0)

    # plant a duplicate vector row in a valid cell and one bad cell id
    one = spark.read.parquet(f"{km}/vectors").limit(1)
    one.write.mode("append").partitionBy("cell").parquet(f"{km}/vectors")
    one.withColumn("cell", F.lit(99)).write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{km}/vectors")
    a2 = fsck_ann_index(spark, f"{km}/vectors", n_cells=8).first()
    assert a2.n_dup_ids == 1
    assert a2.n_bad_cell == 1


def test_fsck_bucket_purity_detects_misplaced_rows(spark, sf_dir, tmp_path):
    """The round-9 bucketed layouts' fsck: a fresh sign index audits
    zero misplaced rows; a row planted into the WRONG bucket directory
    — the corruption that silently survives the computed-bucket forget
    path — is counted."""
    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.forget import forget_bucketed
    from etl_8million_data__spark.operators.incremental_ann import build_index_sign
    from etl_8million_data__spark.operators.index_fsck import fsck_bucket_purity

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "fsck_sign")
    build_index_sign(emb, idx)
    r = fsck_bucket_purity(spark, idx, "vec_id").first()
    assert r.n_rows == emb.count() and r.n_misplaced == 0

    # plant one row into a provably-wrong bucket directory: compute the
    # planted id's TRUE hash bucket and store it one bucket over
    from etl_8million_data__spark.operators.partitioning import id_bucket

    victim = spark.read.parquet(idx).limit(1)
    bad_id = victim.first()["vec_id"] + 10_000_000
    true_bucket = (
        spark.createDataFrame([(bad_id,)], "id long")
        .select(id_bucket(F.col("id"), 16).alias("b"))
        .first()["b"]
    )
    vt = dict(victim.dtypes)["vec_id"]
    victim.withColumn("vec_id", F.lit(bad_id).cast(vt)).withColumn(
        "bucket", F.lit((true_bucket + 1) % 16)
    ).write.mode("append").partitionBy("bucket").parquet(idx)
    r2 = fsck_bucket_purity(spark, idx, "vec_id").first()
    assert r2.n_misplaced == 1

    # and the misplaced row indeed SURVIVES the computed-bucket forget
    # (the quiet failure the audit exists for)
    vdf = spark.createDataFrame([(bad_id,)], "vec_id long")
    assert forget_bucketed(spark, idx, vdf, id_col="vec_id") == 0
    assert (
        spark.read.parquet(idx).filter(F.col("vec_id") == bad_id).count() == 1
    )


def test_compact_postings_preserves_probes_and_cuts_files(spark, sf_dir, tmp_path):
    """Per-append small files in the pfx-partitioned postings compact
    into the minimal per-partition file set with phrase and BM25 probes
    identical before/after; the _doclen sidecar is untouched."""
    import os

    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.operators.forget import compact_partitions
    from etl_8million_data__spark.operators.search_index import bm25_probe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "cidx")
    build_postings(docs.filter(F.col("doc_id") % 4 == 0), idx)
    for m in (1, 2, 3):
        append_documents(docs.filter(F.col("doc_id") % 4 == m), idx)

    tq = spark.createDataFrame([("table",), ("row",)], "term string")
    before_bm = _rows(bm25_probe(spark, idx, tq, k=10))
    sample = " ".join(docs.first().text.split()[:3])
    ph = spark.createDataFrame([(sample,)], "phrase string")
    before_ph = {
        (r.phrase, r.doc_id, r.n_occ, r.first_pos)
        for r in phrase_probe(spark, idx, ph).collect()
    }

    def doclen_state():
        d = os.path.join(idx, "_doclen")
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)
        }

    dl_pre = doclen_state()
    n_before, n_after = compact_partitions(spark, idx, "pfx")
    assert n_after < n_before, (n_before, n_after)
    assert doclen_state() == dl_pre  # sidecar untouched

    assert _rows(bm25_probe(spark, idx, tq, k=10)) == before_bm
    after_ph = {
        (r.phrase, r.doc_id, r.n_occ, r.first_pos)
        for r in phrase_probe(spark, idx, ph).collect()
    }
    assert after_ph == before_ph and after_ph


def test_fsck_bucket_purity_stock_bucket_layout(spark, tmp_path):
    """ADVICE r9: the audit must actually run on the financials fact's
    (string-keyed, 64-way, ``stock_bucket``-named) layout, not only the
    integer-id ``bucket`` index layouts — pass the layout's column and
    hash expression explicitly."""
    from etl_8million_data__spark.operators.index_fsck import fsck_bucket_purity
    from etl_8million_data__spark.operators.partitioning import id_bucket

    rows = spark.createDataFrame(
        [(f"SYM{i}", i * 10) for i in range(100)], "stock string, value long"
    ).withColumn("stock_bucket", id_bucket(F.col("stock"), 64))
    idx = str(tmp_path / "fact")
    rows.write.partitionBy("stock_bucket").parquet(idx)

    exp = id_bucket(F.col("stock"), 64)
    r = fsck_bucket_purity(
        spark, idx, "stock", bucket_col="stock_bucket", expected=exp
    ).first()
    assert r.n_rows == 100 and r.n_misplaced == 0

    # plant a row one bucket over -> counted
    true_b = (
        spark.createDataFrame([("BAD",)], "stock string")
        .select(id_bucket(F.col("stock"), 64).alias("b"))
        .first()["b"]
    )
    spark.createDataFrame([("BAD", 1)], "stock string, value long").withColumn(
        "stock_bucket", F.lit((true_b + 1) % 64)
    ).write.mode("append").partitionBy("stock_bucket").parquet(idx)
    r2 = fsck_bucket_purity(
        spark, idx, "stock", bucket_col="stock_bucket", expected=exp
    ).first()
    assert r2.n_misplaced == 1
