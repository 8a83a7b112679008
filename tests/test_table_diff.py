"""Merkle-style table diff (operators/diff.py): bucket checksums must
prove identical buckets equal so phase 2 reads ONLY the differing
buckets' files (executed scan metrics), identical tables short-circuit
entirely, and the classification matches a naive full-outer reference
on bucketed and legacy-unbucketed layouts alike."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.operators.diff import (
    DIFF_NB,
    diff_tables,
    write_bucketed,
)


def _versions(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_custkey").alias("cust"),
    )
    return o.localCheckpoint(eager=True)


def _naive(a, b):
    ja = a.select("k", F.struct("prio", "cust").alias("_a"))
    jb = b.select("k", F.struct("prio", "cust").alias("_b"))
    j = ja.join(jb, "k", "full_outer")
    return {
        (r["k"], r["change"])
        for r in j.select(
            "k",
            F.when(F.col("_a").isNull(), "added")
            .when(F.col("_b").isNull(), "removed")
            .when(F.col("_a") != F.col("_b"), "changed")
            .alias("change"),
        )
        .filter(F.col("change").isNotNull())
        .collect()
    }


def test_diff_prunes_to_differing_buckets(spark, sf_dir, tmp_path):
    from etl_8million_data__spark.profile import scan_partition_metrics

    o = _versions(spark, sf_dir)
    # B changes exactly ONE key -> exactly one bucket differs
    victim = o.orderBy("k").first()["k"]
    b = o.withColumn(
        "prio",
        F.when(F.col("k") == victim, F.lit("X-EDITED")).otherwise(F.col("prio")),
    )
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_bucketed(o, pa, "k")
    write_bucketed(b, pb, "k")
    df = diff_tables(spark, pa, pb, ["k"], ["prio", "cust"])
    rows = {(r["k"], r["change"]) for r in df.collect()}
    assert rows == {(victim, "changed")}
    # phase-2 scans read exactly the one differing bucket's files
    for frag in ("a", "b"):
        metrics = scan_partition_metrics(df, f"{tmp_path}/{frag}")
        assert metrics, f"no {frag} scan found"
        for m in metrics:
            assert m["numPartitions"] == 1, (frag, m)

    # identical tables short-circuit: empty diff frame
    assert diff_tables(spark, pa, pa, ["k"], ["prio", "cust"]).count() == 0


def test_diff_classification_matches_naive_and_legacy_layout(
    spark, sf_dir, tmp_path
):
    o = _versions(spark, sf_dir)
    b = (
        o.filter(F.col("k") % 13 != 0)
        .withColumn(
            "prio",
            F.when(F.col("k") % 7 == 0, F.lit("Z-MOVED")).otherwise(
                F.col("prio")
            ),
        )
        .unionByName(
            o.filter(F.col("k") % 11 == 0).select(
                (-(F.col("k") + 1)).alias("k"), "prio", "cust"
            )
        )
        .localCheckpoint(eager=True)
    )
    want = _naive(o, b)
    assert want, "fixture must produce a non-empty diff"

    # bucketed layout
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_bucketed(o, pa, "k")
    write_bucketed(b, pb, "k")
    got = {
        (r["k"], r["change"])
        for r in diff_tables(spark, pa, pb, ["k"], ["prio", "cust"]).collect()
    }
    assert got == want

    # legacy unbucketed inputs: derived buckets, same answer
    fa, fb = str(tmp_path / "fa"), str(tmp_path / "fb")
    o.write.parquet(fa)
    b.write.parquet(fb)
    got_flat = {
        (r["k"], r["change"])
        for r in diff_tables(spark, fa, fb, ["k"], ["prio", "cust"]).collect()
    }
    assert got_flat == want

    # every change class present
    assert {c for _, c in want} == {"added", "removed", "changed"}
    assert DIFF_NB == 16


def test_sync_repairs_only_differing_buckets(spark, sf_dir, tmp_path):
    """sync_tables must converge A to B (post-sync diff empty), rewrite
    ONLY the differing buckets (untouched bucket files byte-identical),
    report the applied diff size, and be idempotent (second sync = 0,
    zero rewrites)."""
    import os

    import pytest

    from etl_8million_data__spark.operators.diff import sync_tables

    o = _versions(spark, sf_dir)
    victim = o.orderBy("k").first()["k"]
    b = o.withColumn(
        "prio",
        F.when(F.col("k") == victim, F.lit("X-EDITED")).otherwise(F.col("prio")),
    )
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_bucketed(o, pa, "k")
    write_bucketed(b, pb, "k")

    def snap():
        out = {}
        for dirpath, _, files in os.walk(pa):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, pa)] = fh.read()
        return out

    before = snap()
    assert sync_tables(spark, pa, pb, ["k"], ["prio", "cust"]) == 1
    assert diff_tables(spark, pa, pb, ["k"], ["prio", "cust"]).count() == 0
    after = snap()
    changed_buckets = {
        rel.split(os.sep)[0]
        for rel in set(before) | set(after)
        if before.get(rel) != after.get(rel)
    }
    assert len(changed_buckets) == 1, changed_buckets

    # idempotent: second sync applies nothing and rewrites nothing
    files = snap()
    assert sync_tables(spark, pa, pb, ["k"], ["prio", "cust"]) == 0
    assert snap() == files

    # unbucketed A refuses loudly
    fa = str(tmp_path / "flat")
    o.write.parquet(fa)
    with pytest.raises(ValueError, match="write_bucketed"):
        sync_tables(spark, fa, pb, ["k"], ["prio", "cust"])


def test_sync_preserves_columns_outside_the_compared_set(
    spark, sf_dir, tmp_path
):
    """The repair must rewrite differing buckets from FULL rows: a
    column of A outside the compared (keys+cols) set survives the
    bucket rewrite byte-for-value, and a B missing that column refuses
    loudly instead of silently splicing a mixed-schema table."""
    import pytest

    from etl_8million_data__spark.operators.diff import sync_tables

    o = _versions(spark, sf_dir).withColumn(
        "extra", F.col("k") * 1000 + 7
    )
    victim = o.orderBy("k").first()["k"]
    b = o.withColumn(
        "prio",
        F.when(F.col("k") == victim, F.lit("X-EDITED")).otherwise(F.col("prio")),
    )
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_bucketed(o, pa, "k")
    write_bucketed(b, pb, "k")

    # diff/sync compare only (prio, cust) — 'extra' rides along
    assert sync_tables(spark, pa, pb, ["k"], ["prio", "cust"]) == 1
    got = spark.read.parquet(pa)
    assert "extra" in got.columns
    bad = got.filter(
        F.col("extra").isNull() | (F.col("extra") != F.col("k") * 1000 + 7)
    ).count()
    assert bad == 0, "sync dropped or corrupted the un-compared column"
    assert got.filter(F.col("k") == victim).first()["prio"] == "X-EDITED"

    # B lacking A's extra column: the full-row splice can't round-trip
    pb2 = str(tmp_path / "b2")
    write_bucketed(b.drop("extra").withColumn("prio", F.lit("Y")), pb2, "k")
    with pytest.raises(ValueError, match="columns must match"):
        sync_tables(spark, pa, pb2, ["k"], ["prio", "cust"])


def _versions_edits(o):
    return (
        o.filter(F.col("k") % 13 != 0)
        .withColumn(
            "prio",
            F.when(F.col("k") % 7 == 0, F.lit("Z-MOVED")).otherwise(F.col("prio")),
        )
        .unionByName(
            o.filter(F.col("k") % 11 == 0).select(
                (-(F.col("k") + 1)).alias("k"), "prio", "cust"
            )
        )
        .localCheckpoint(eager=True)
    )


def test_summary_diff_equals_full_scan_without_reading_the_tables(
    spark, sf_dir, tmp_path
):
    """With door-maintained summaries on BOTH sides, phase 1 must read
    2 x nb summary rows instead of either table. Proven physically: a
    GARBAGE parquet file planted in a NON-differing bucket of A breaks
    the full-scan phase 1 (it must read every bucket) but leaves the
    summarized diff's answer intact — phase 1 never opens the table
    and phase 2 literal-prunes to the differing buckets only."""
    import os

    import pytest

    from etl_8million_data__spark.operators.diff import checksums_fsck

    o = _versions(spark, sf_dir)
    b = _versions_edits(o)
    want = _naive(o, b)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_bucketed(o, pa, "k", checksums=True)
    write_bucketed(b, pb, "k", checksums=True)

    keys, cols = ["k"], ["prio", "cust"]
    got_full = {
        (r["k"], r["change"])
        for r in diff_tables(
            spark, pa, pb, keys, cols, use_summary=False
        ).collect()
    }
    got_sum = {
        (r["k"], r["change"])
        for r in diff_tables(spark, pa, pb, keys, cols).collect()
    }
    assert got_sum == got_full == want

    # freshly seeded summaries audit clean
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0

    # physical pruning proof on a SINGLE-key edit (one differing
    # bucket): plant garbage in a non-differing bucket of A — the
    # full-scan phase 1 must fail on it, the summarized diff must not
    # even notice it
    from etl_8million_data__spark.operators.partitioning import id_bucket

    victim = o.orderBy("k").first()["k"]
    b1 = o.withColumn(
        "prio",
        F.when(F.col("k") == victim, F.lit("X-EDITED")).otherwise(F.col("prio")),
    )
    pa1, pb1 = str(tmp_path / "a1"), str(tmp_path / "b1")
    write_bucketed(o, pa1, "k", checksums=True)
    write_bucketed(b1, pb1, "k", checksums=True)
    victim_kb = o.filter(F.col("k") == victim).select(
        id_bucket(F.col("k"), 16).alias("_b")
    ).first()["_b"]
    clean = next(
        d
        for d in os.listdir(pa1)
        if d.startswith("kb=") and int(d.split("=")[1]) != victim_kb
    )
    with open(os.path.join(pa1, clean, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    spark.catalog.refreshByPath(pa1)

    with pytest.raises(Exception):
        diff_tables(spark, pa1, pb1, keys, cols, use_summary=False).collect()
    got_pruned = {
        (r["k"], r["change"])
        for r in diff_tables(spark, pa1, pb1, keys, cols).collect()
    }
    assert got_pruned == {(victim, "changed")}

    # a comparison over a DIFFERENT column set must not trust the
    # summary (falls back to the full scan, still correct)
    sub = {
        (r["k"], r["change"])
        for r in diff_tables(spark, pa, pb, keys, ["prio"]).collect()
    }
    want_sub = {
        (k, c)
        for (k, c) in _naive(
            o.withColumn("cust", F.lit(0)), b.withColumn("cust", F.lit(0))
        )
    }
    assert sub == want_sub


def test_sync_keeps_summaries_honest_and_audit_goes_flat_quiet(
    spark, sf_dir, tmp_path
):
    """sync_tables rewrites differing buckets through overwrite_buckets,
    which must keep A's summary honest WITHOUT a full recompute: after
    the sync the fsck audit shows zero mismatches, the summarized diff
    reads empty, and a replayed sync applies nothing. An emptied bucket
    drops its summary row (matching a fresh full scan)."""
    from etl_8million_data__spark.operators.diff import (
        checksums_fsck,
        read_checksums,
        sync_tables,
    )

    o = _versions(spark, sf_dir)
    b = _versions_edits(o)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_bucketed(o, pa, "k", checksums=True)
    write_bucketed(b, pb, "k", checksums=True)

    n = sync_tables(spark, pa, pb, ["k"], ["prio", "cust"])
    assert n > 0
    # the door updated ONLY the touched buckets' summary rows, yet the
    # summary equals a fresh full-scan recompute
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    # and the flat-cost audit now reads clean
    assert diff_tables(spark, pa, pb, ["k"], ["prio", "cust"]).count() == 0
    assert sync_tables(spark, pa, pb, ["k"], ["prio", "cust"]) == 0

    # emptied bucket: make B drop EVERY key of one bucket of A
    from etl_8million_data__spark.operators.partitioning import id_bucket

    victim_kb = (
        o.select(id_bucket(F.col("k"), 16).alias("_b")).first()["_b"]
    )
    b2 = o.withColumn("_b", id_bucket(F.col("k"), 16)).filter(
        F.col("_b") != victim_kb
    ).drop("_b")
    pb2 = str(tmp_path / "b2")
    write_bucketed(b2, pb2, "k", checksums=True)
    assert sync_tables(spark, pa, pb2, ["k"], ["prio", "cust"]) > 0
    meta, summ = read_checksums(spark, pa)
    assert victim_kb not in {r["kb"] for r in summ.collect()}
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    assert diff_tables(spark, pa, pb2, ["k"], ["prio", "cust"]).count() == 0


def test_append_and_delete_doors_keep_summary_honest(spark, sf_dir, tmp_path):
    """The full write-door lifecycle against one summary: seed with
    write_bucketed(checksums=True), grow through append_bucketed
    (ADDITIVE summary update — one aggregate over the batch, never a
    table rescan), shrink through delete_keys_bucketed (pruned rewrite,
    overwrite hook), and at EVERY step the summary must equal a fresh
    full-scan recompute (checksums_fsck zero mismatches) and the
    summarized diff against an independently built expected table must
    read empty."""
    from etl_8million_data__spark.operators.diff import (
        append_bucketed,
        checksums_fsck,
        delete_keys_bucketed,
        sync_tables,
    )

    o = _versions(spark, sf_dir)
    pa = str(tmp_path / "t")
    write_bucketed(o.filter(F.col("k") % 3 != 0), pa, "k", checksums=True)

    def fsck_ok():
        r = checksums_fsck(spark, pa).first()
        assert r["n_mismatched"] == 0, r.asDict()

    fsck_ok()

    append_bucketed(o.filter(F.col("k") % 3 == 0), pa, "k")
    fsck_ok()
    assert spark.read.parquet(pa).count() == o.count()

    n = delete_keys_bucketed(
        spark, pa, o.filter(F.col("k") % 5 == 0).select("k"), "k"
    )
    assert n == o.filter(F.col("k") % 5 == 0).count()
    fsck_ok()

    # deleting unknown keys is a no-op that rewrites nothing
    import os

    def snap():
        out = {}
        for dirpath, _, files in os.walk(pa):
            for f in files:
                if f.endswith(".parquet"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        out[os.path.join(dirpath, f)] = len(fh.read())
        return out

    before = snap()
    assert delete_keys_bucketed(
        spark, pa, spark.createDataFrame([(10**12,)], "k long"), "k"
    ) == 0
    assert snap() == before

    # the summarized diff against an independently built expected table
    # reads empty (phase 1 from summaries on both sides)
    expected = o.filter(F.col("k") % 5 != 0)
    pe = str(tmp_path / "expected")
    write_bucketed(expected, pe, "k", checksums=True)
    assert diff_tables(spark, pa, pe, ["k"], ["prio", "cust"]).count() == 0
    assert sync_tables(spark, pa, pe, ["k"], ["prio", "cust"]) == 0


def test_stream_append_keeps_summary_honest_under_replay(
    spark, sf_dir, tmp_path
):
    """The streaming append door's replay hazard is the SUMMARY, not
    just the rows: re-adding a redelivered batch's hash sums would
    drift it silently. Stream == batch, redelivery appends nothing and
    re-adds nothing (fsck zero mismatches throughout), resuming the
    drained stream is a no-op."""
    import os

    from etl_8million_data__spark.operators.diff import (
        checksums_fsck,
        stream_append_bucketed,
        write_bucketed,
    )

    o = _versions(spark, sf_dir)
    pa = str(tmp_path / "t")
    write_bucketed(o.filter(F.col("k") % 3 == 1), pa, "k", checksums=True)

    src = str(tmp_path / "src")
    o.filter(F.col("k") % 3 != 1).write.parquet(src)

    def run(ck):
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = stream_append_bucketed(
            stream, pa, "k", str(tmp_path / ck)
        )
        q.awaitTermination(120)

    run("ck1")
    got = spark.read.parquet(pa)
    assert got.count() == o.count()
    r = checksums_fsck(spark, pa).first()
    assert r["n_mismatched"] == 0, r.asDict()

    # redeliver EVERYTHING under a fresh checkpoint: rows and summary
    # both unchanged
    def snap():
        out = {}
        for dirpath, _, files in os.walk(pa):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    with open(p, "rb") as fh:
                        out[p] = len(fh.read())
        return out

    before = snap()
    run("ck2")
    assert spark.read.parquet(pa).count() == o.count()
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    # rows unchanged (summary sidecar may rewrite to identical values)
    data_files_before = {k: v for k, v in before.items() if "_checksums" not in k}
    data_files_after = {
        k: v for k, v in snap().items() if "_checksums" not in k
    }
    assert data_files_after == data_files_before

    # resuming the drained stream under its own checkpoint: no-op
    run("ck1")
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0


def test_summary_invariant_under_random_door_sequences(spark, tmp_path):
    """Property test (hypothesis): under ANY sequence of append /
    delete batches through the write doors, the persisted summary must
    equal a fresh full-scan recompute (fsck zero) and the table must
    equal the reference dict — the invariant every flat-cost audit
    rests on. Bounded examples (each is several Spark jobs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_8million_data__spark.operators.diff import (
        append_bucketed,
        checksums_fsck,
        delete_keys_bucketed,
        write_bucketed,
    )

    op = st.tuples(
        st.sampled_from(["append", "delete"]),
        st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=8),
    )

    counter = {"i": 0}

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(op, min_size=1, max_size=4))
    def run(ops):
        counter["i"] += 1
        pa = str(tmp_path / f"t{counter['i']}")
        ref = {k: k * 10 for k in range(20)}

        def frame(d):
            return spark.createDataFrame(
                [(k, v) for k, v in sorted(d.items())], "k long, v long"
            )

        write_bucketed(frame(ref), pa, "k", checksums=True)
        for kind, ks in ops:
            if kind == "append":
                fresh = {k: k * 10 for k in ks if k not in ref}
                if not fresh:
                    continue
                append_bucketed(frame(fresh), pa, "k")
                ref.update(fresh)
            else:
                hit = [k for k in set(ks) if k in ref]
                n = delete_keys_bucketed(
                    spark,
                    pa,
                    spark.createDataFrame([(k,) for k in set(ks)], "k long"),
                    "k",
                )
                assert n == len(hit), (n, hit)
                for k in hit:
                    del ref[k]
        assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
        got = {
            r["k"]: r["v"] for r in spark.read.parquet(pa).collect()
        } if ref else {}
        assert got == ref

    run()


def test_delete_blast_radius_and_append_never_reads_the_table(
    spark, sf_dir, tmp_path
):
    """Physical I/O contracts of the new doors: delete_keys_bucketed
    rewrites ONLY the victims' computed buckets (every other bucket's
    files stay byte-identical), and append_bucketed never reads table
    data at all (a garbage parquet file anywhere in the store leaves
    the append and its additive summary update unaffected — only the
    16-row sidecar is read)."""
    import os

    from etl_8million_data__spark.operators.diff import (
        append_bucketed,
        checksums_fsck,
        delete_keys_bucketed,
    )
    from etl_8million_data__spark.operators.partitioning import id_bucket

    o = _versions(spark, sf_dir)
    pa = str(tmp_path / "t")
    write_bucketed(o, pa, "k", checksums=True)

    def snap():
        out = {}
        for dirpath, _, files in os.walk(pa):
            if "_checksums" in dirpath:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, pa)] = fh.read()
        return out

    victim = o.orderBy("k").first()["k"]
    victim_kb = o.filter(F.col("k") == victim).select(
        id_bucket(F.col("k"), 16).alias("b")
    ).first()["b"]
    before = snap()
    assert delete_keys_bucketed(
        spark, pa, spark.createDataFrame([(victim,)], "k long"), "k"
    ) == 1
    after = snap()
    changed = {
        rel
        for rel in set(before) | set(after)
        if before.get(rel) != after.get(rel)
    }
    assert changed, "the victim's bucket must rewrite"
    assert all(rel.startswith(f"kb={victim_kb}{os.sep}") for rel in changed)

    # garbage anywhere: append still works (no table-data read)
    other = next(
        d
        for d in os.listdir(pa)
        if d.startswith("kb=") and int(d.split("=")[1]) != victim_kb
    )
    with open(os.path.join(pa, other, "junk.parquet"), "wb") as fh:
        fh.write(b"garbage")
    spark.catalog.refreshByPath(pa)
    append_bucketed(
        spark.createDataFrame([(10**12, "Z", 7)], "k long, prio string, cust long"),
        pa,
        "k",
    )
    # read back the appended key with a declared schema (plain
    # inference picks ONE arbitrary footer, which may be the garbage
    # file) and a partition filter so the garbage bucket is never read
    from etl_8million_data__spark.operators.partitioning import (
        id_bucket as _ib,
    )

    new_kb = spark.createDataFrame([(10**12,)], "k long").select(
        _ib(F.col("k"), 16).alias("b")
    ).first()["b"]
    got = (
        spark.read.schema("k long, prio string, cust long, kb int")
        .parquet(pa)
        .filter((F.col("kb") == new_kb) & (F.col("k") == 10**12))
    )
    assert got.count() == 1
