"""Persisted positional inverted index — the TEXT-search analog of the
cell-partitioned ANN inverted file (``operators/incremental_ann``):
build once, append only new documents' postings (skip-existing by
doc_id), and probe phrases against the parquet index without ever
re-tokenizing the corpus.

Index layout: parquet rows (doc_id, pos, token) partitioned BY
``pfx`` = first hex char of md5(token) — 16 uniform partitions (a
hash prefix, so no hot partition for stopwords vs rare tokens at the
DIRECTORY level; within a partition, postings of a hot token are just
more rows, split by AQE).  A phrase probe joins the index on
(pfx, token) where the query-word side is a handful of broadcast
rows, so dynamic partition pruning restricts the scan to the probed
tokens' partitions — the I/O shape a persisted search index needs.

Phrase matching uses ANCHOR ALIGNMENT rather than a per-word join
chain: each (phrase, word-offset) candidate posting votes for anchor
``pos - off``; an anchor with votes from ALL offsets is a full
occurrence.  One join + one aggregate for ANY phrase length, repeated
words handled by counting DISTINCT offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import append_new, read_index
from etl_8million_data__spark.operators.maintenance import swap_in
from etl_8million_data__spark.operators.text import tokens

POSTINGS_SCHEMA = "doc_id long, pos bigint, token string, pfx string"


def _postings_frame(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    t = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= 1)
    return t.select(
        "doc_id", F.posexplode("toks").alias("pos", "token")
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        "token",
        F.substring(F.md5(F.encode(F.col("token"), "UTF-8")), 1, 1).alias("pfx"),
    )


def build_postings(
    docs: DataFrame, index_path: str, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Materialize the index: tokenize (narrow map + explode), then a
    pfx-partitioned parquet write with its ``_doclen`` sidecar. Both
    replace any existing index, tombstones included, in one commit
    (``maintenance.swap_in``)."""
    with swap_in(index_path) as tmp:
        _postings_frame(docs, text_col, id_col).write.partitionBy("pfx").parquet(tmp)
        _doclen_frame(docs, text_col, id_col).write.parquet(f"{tmp}/_doclen")


def append_documents(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Skip-existing incremental append: documents whose doc_id is
    already indexed are dropped (the id read is column-pruned — parquet
    reads only the doc_id column); the rest tokenize and append into
    their tokens' pfx partitions.  Returns documents appended.
    Idempotent under replay through skip-existing alone (same contract
    as the ANN index's append_vectors)."""
    spark = new_docs.sparkSession
    existing = (
        read_index(spark, index_path, POSTINGS_SCHEMA).select("doc_id").distinct()
    )
    fresh_docs = new_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    ).join(existing, "doc_id", "left_anti").localCheckpoint(eager=True)
    n = fresh_docs.count()
    if n:
        _postings_frame(fresh_docs, "_text", "doc_id").write.mode(
            "append"
        ).partitionBy("pfx").parquet(index_path)
        _write_sidecars(fresh_docs, index_path, "_text", "doc_id")
    return n


def phrase_probe(
    spark: SparkSession, index_path: str, phrases: DataFrame,
    phrase_col: str = "phrase",
) -> DataFrame:
    """Match every phrase against the persisted index.  Returns
    (phrase, doc_id, n_occ, first_pos).

    The query side explodes each phrase into (word, offset) rows —
    a handful of rows, broadcast — and joins the index on
    (pfx, token): the pfx equi-key is the PARTITION column, so dynamic
    partition pruning skips every unprobed token partition's files.
    Anchor alignment then finds full occurrences with one aggregate:
    a candidate posting at position p for offset o votes for anchor
    p - o, and an anchor collecting ALL n_words distinct offsets is a
    complete phrase occurrence (repeated words need the DISTINCT)."""
    q = phrases.select(
        F.col(phrase_col).alias("phrase"),
        F.split(F.col(phrase_col), " ").alias("ws"),
    ).select(
        "phrase",
        F.size("ws").alias("n_words"),
        F.posexplode("ws").alias("off", "token"),
    ).filter(
        # guard against empty tokens from stray double spaces — also a
        # selective predicate on the probe side, which is what arms
        # Spark's dynamic-partition-pruning benefit heuristic for the
        # (pfx, token) join below
        F.length("token") > 0
    ).select(
        "phrase", "n_words",
        F.col("off").cast("bigint").alias("off"),
        "token",
        F.substring(F.md5(F.encode(F.col("token"), "UTF-8")), 1, 1).alias("pfx"),
    )
    cand = phrase_candidates(spark, index_path, q)
    anchors = (
        cand.groupBy("phrase", "n_words", "doc_id", "anchor")
        .agg(F.count_distinct("off").alias("n_hit"))
        .filter((F.col("n_hit") == F.col("n_words")) & (F.col("anchor") >= 0))
    )
    return anchors.groupBy("phrase", "doc_id").agg(
        F.count(F.lit(1)).alias("n_occ"), F.min("anchor").alias("first_pos")
    )


def phrase_candidates(
    spark: SparkSession, index_path: str, q: DataFrame
) -> DataFrame:
    """The probe's candidate stage, exposed for skew/robustness tests
    (the counterpart of dedup's ``prefix_filter_frames``): ``q`` is the
    exploded (phrase, n_words, off, token, pfx) query frame. Every row
    of the result is one posting of one QUERY term — the join input is
    bounded by Σ tf-weighted df of the query's tokens, independent of
    any hot token the query does not mention, and the downstream anchor
    aggregate's key includes doc_id, so even a stopword's candidates
    spread across documents (no straggler key)."""
    idx = _minus_tombstones(
        spark, index_path, read_index(spark, index_path, POSTINGS_SCHEMA)
    )
    return idx.join(F.broadcast(q), ["pfx", "token"]).select(
        "phrase", "n_words", "doc_id", (F.col("pos") - F.col("off")).alias("anchor"),
        "off",
    )


def bm25_candidates(
    spark: SparkSession, index_path: str, terms: DataFrame, term_col: str = "term"
) -> DataFrame:
    """bm25_probe's candidate stage (postings of the probed terms only,
    minus tombstones), exposed for the same robustness tests."""
    q = terms.select(
        F.col(term_col).alias("token"),
        F.substring(F.md5(F.encode(F.col(term_col), "UTF-8")), 1, 1).alias("pfx"),
    ).distinct()
    idx = read_index(spark, index_path, POSTINGS_SCHEMA)
    return _minus_tombstones(
        spark, index_path, idx.join(F.broadcast(q), ["pfx", "token"])
    )


# --- ranked retrieval + deletion over the persisted index. Sidecar
# state lives in underscore-prefixed subdirectories (Spark's parquet
# reader skips hidden paths, so the postings scan never sees them):
# ``_doclen/`` (doc_id, dl) appended per batch — the per-document token
# counts BM25 needs, and the source of corpus stats (n_docs, avgdl) so
# they are always consistent with deletions; ``_tombstones/`` (doc_id)
# — logical deletes. Term-partitioned postings spread one document
# across every pfx partition, so a physical per-doc delete would
# rewrite the whole index; the production answer is the tombstone
# (Lucene's deleted-docs bitmap): probes anti-join it immediately,
# and vacuum applies it physically when compaction is due anyway.


def _doclen_frame(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("dl"),
    ).filter(F.col("dl") >= 1)


def _write_sidecars(docs: DataFrame, index_path: str, text_col: str, id_col: str) -> None:
    _doclen_frame(docs, text_col, id_col).write.mode("append").parquet(
        f"{index_path}/_doclen"
    )


def _live_doclen(spark: SparkSession, index_path: str) -> DataFrame:
    """(doc_id, dl) minus tombstoned docs — the live-corpus view every
    ranked probe scores against."""
    dl = spark.read.parquet(f"{index_path}/_doclen")
    return _minus_tombstones(spark, index_path, dl)


def _minus_tombstones(spark: SparkSession, index_path: str, df: DataFrame) -> DataFrame:
    import os

    t = f"{index_path}/_tombstones"
    if not os.path.isdir(t):
        return df
    return df.join(spark.read.parquet(t).select("doc_id"), "doc_id", "left_anti")


def tombstone_documents(spark: SparkSession, index_path: str, ids: DataFrame) -> int:
    """Logically delete documents: append their ids to ``_tombstones/``.
    Every probe excludes them immediately (and BM25's corpus stats
    shrink accordingly) while the postings files stay byte-identical —
    deletion cost O(ids), not O(index). Returns ids newly tombstoned
    (re-tombstoning is a no-op append of nothing)."""
    victims = ids.select(F.col(ids.columns[0]).alias("doc_id")).distinct()
    return append_new(victims, f"{index_path}/_tombstones", "doc_id")


def vacuum_tombstones(spark: SparkSession, index_path: str) -> int:
    """Apply tombstones physically: rewrite postings and _doclen minus
    the tombstoned docs (atomic tmp+swap per table — the full rewrite a
    term-partitioned layout honestly costs, scheduled with compaction),
    then clear the tombstone set. Probes return identical results
    before and after (asserted in tests). Returns docs removed."""
    import os
    import shutil

    t = f"{index_path}/_tombstones"
    if not os.path.isdir(t):
        return 0
    dead = spark.read.parquet(t).select("doc_id").distinct().localCheckpoint(eager=True)
    n = dead.count()
    if not n:
        shutil.rmtree(t)
        return 0

    # Stage BOTH rewrites (postings + _doclen sidecar) into the tmp
    # root FIRST, then swap once: until the swap, the live index is
    # completely untouched (tombstones included, so probes stay
    # correct), eliminating the former crash window where an in-place
    # _doclen rewrite landed before the postings swap — a crash there
    # would have been silent, whereas a crash between the two root
    # renames now leaves an obviously-missing index with BOTH the old
    # root and the fully-staged tmp root on disk (recoverable, and the
    # orphan state index_fsck detects).
    kept_postings = (
        spark.read.parquet(index_path)  # hidden sidecar paths skipped
        .join(dead, "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    kept_doclen = (
        spark.read.parquet(f"{index_path}/_doclen")
        .join(dead, "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    # the old root takes the old postings, sidecar and applied _tombstones
    with swap_in(index_path) as tmp:
        kept_postings.write.partitionBy("pfx").parquet(tmp)
        kept_doclen.write.parquet(f"{tmp}/_doclen")
    return n


def bm25_probe(
    spark: SparkSession,
    index_path: str,
    terms: DataFrame,
    k: int = 10,
    term_col: str = "term",
) -> DataFrame:
    """BM25 top-k per query term against the persisted index, with the
    exact scorer of the registered ``search_bm25_rsj_topk`` query
    (log-free RSJ idf, k1=1.2, b=0.75 — identical expression tree, so
    probe == in-memory is exact equality, asserted in tests): the
    postings scan joins the broadcast term list on (pfx, token) — the
    partition-pruning shape phrase_probe measures — tf and df are
    hash aggregates over ONLY the probed terms' postings, and corpus
    stats (n_docs, avgdl) + per-candidate doc lengths come from the
    live ``_doclen`` view, so tombstoned documents neither score nor
    distort idf. Returns (term, doc_id, bm25, rn)."""
    cand = bm25_candidates(spark, index_path, terms, term_col)
    tf = cand.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    dl = _live_doclen(spark, index_path)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    nd = F.col("n_docs").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
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
    from pyspark.sql import Window

    w = Window.partitionBy("term").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
