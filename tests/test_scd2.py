"""Incremental SCD2 maintenance (operators/scd2.py): split-independent
equivalence to the one-shot islands build, late-data order contract,
blast-radius bucket rewrites, and the replay-safe streaming twin."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.operators.scd2 import (
    build_intervals,
    read_intervals,
    scd2_apply,
    scd2_init,
    stream_scd2_changes,
)


def _changes(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("key"),
            F.col("event_id").alias("seq"),
            "ts",
            F.col("event_type").alias("attr"),
        )
        .localCheckpoint(eager=True)
    )


def _cuts(e, k):
    """k+1 time slices of the change set with strictly increasing
    global cutoffs."""
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    return [lo + (hi - lo) * i / (k + 1) for i in range(1, k + 1)]


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def test_multi_batch_apply_equals_one_shot(spark, sf_dir, tmp_path):
    e = _changes(spark, sf_dir)
    c1, c2 = _cuts(e, 2)
    root = str(tmp_path / "scd2")
    scd2_init(e.filter(F.col("ts") <= F.lit(c1)), root)
    scd2_apply(
        spark, root, e.filter((F.col("ts") > F.lit(c1)) & (F.col("ts") <= F.lit(c2)))
    )
    scd2_apply(spark, root, e.filter(F.col("ts") > F.lit(c2)))
    want = _as_set(build_intervals(e))
    assert _as_set(read_intervals(spark, root)) == want


def test_late_data_raises_and_blast_radius(spark, sf_dir, tmp_path):
    e = _changes(spark, sf_dir)
    (c1,) = _cuts(e, 1)
    root = str(tmp_path / "scd2")
    init = e.filter(F.col("ts") <= F.lit(c1))
    scd2_init(init, root)

    # late data: re-sending part of the already-absorbed history must
    # raise the order contract, never splice silently
    with pytest.raises(ValueError, match="late data"):
        scd2_apply(spark, root, init.orderBy("ts").limit(5))

    # blast radius: a single-key batch rewrites only that key's bucket
    def snap():
        out = {}
        base = os.path.join(root, "intervals")
        for dirpath, _, files in os.walk(base):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, base)] = fh.read()
        return out

    before = snap()
    one = (
        e.filter(F.col("ts") > F.lit(c1))
        .orderBy("ts", "seq")
        .limit(1)
        .localCheckpoint(eager=True)
    )
    from etl_8million_data__spark.operators.partitioning import id_bucket
    from etl_8million_data__spark.operators.scd2 import _nb

    kb = one.select(id_bucket(F.col("key"), _nb(root)).alias("b")).first()["b"]
    scd2_apply(spark, root, one)
    after = snap()
    changed = {
        rel
        for rel in set(before) | set(after)
        if before.get(rel) != after.get(rel)
    }
    assert changed, "the touched bucket must rewrite"
    assert all(rel.startswith(f"kb={kb}{os.sep}") for rel in changed), changed
    # and the merge is still correct for that key
    want = _as_set(
        build_intervals(init.unionByName(one)).filter(
            F.col("key") == one.first()["key"]
        )
    )
    got = _as_set(
        read_intervals(spark, root).filter(F.col("key") == one.first()["key"])
    )
    assert got == want


def test_late_data_door_rederives_from_log(spark, sf_dir, tmp_path):
    """scd2_apply_late must absorb OUT-OF-ORDER batches correctly by
    per-key re-derivation from the retained log: delivering the change
    history with its middle slice LAST still converges to the one-shot
    build, replaying the late batch is a no-op (skip-existing log
    append + pure rebuild), and the fast path keeps the log in sync."""
    e = _changes(spark, sf_dir)
    c1, c2 = _cuts(e, 2)
    early = e.filter(F.col("ts") <= F.lit(c1))
    middle = e.filter((F.col("ts") > F.lit(c1)) & (F.col("ts") <= F.lit(c2)))
    tail = e.filter(F.col("ts") > F.lit(c2))

    root = str(tmp_path / "scd2")
    scd2_init(early, root, keep_log=True)
    # fast path first (in order): tail after early — log stays in sync
    from etl_8million_data__spark.operators.scd2 import scd2_apply_late

    scd2_apply(spark, root, tail)
    # the middle arrives LAST (late): the fast path would raise; the
    # late door re-derives the touched keys from the full log
    with pytest.raises(ValueError, match="late data"):
        scd2_apply(spark, root, middle)
    scd2_apply_late(spark, root, middle)

    want = _as_set(build_intervals(e))
    assert _as_set(read_intervals(spark, root)) == want

    # replaying the late batch changes nothing
    scd2_apply_late(spark, root, middle)
    assert _as_set(read_intervals(spark, root)) == want

    # without a retained log the late door refuses loudly
    root2 = str(tmp_path / "scd2_nolog")
    scd2_init(early, root2)
    with pytest.raises(ValueError, match="retained change log"):
        scd2_apply_late(spark, root2, middle)


def test_stream_allow_late_falls_back_to_log_rederivation(
    spark, sf_dir, tmp_path
):
    """allow_late=True streaming: an out-of-order micro-batch routes
    through the late door instead of killing the stream, and the final
    table still equals the one-shot build."""
    from etl_8million_data__spark.operators.scd2 import stream_scd2_changes

    e = _changes(spark, sf_dir)
    c1, c2 = _cuts(e, 2)
    early = e.filter(F.col("ts") <= F.lit(c1))
    middle = e.filter((F.col("ts") > F.lit(c1)) & (F.col("ts") <= F.lit(c2)))
    tail = e.filter(F.col("ts") > F.lit(c2))

    root = str(tmp_path / "scd2")
    scd2_init(early, root, keep_log=True)
    # file order: tail FIRST, middle second -> the second micro-batch
    # is late relative to the open intervals the first one created
    src = str(tmp_path / "changes")
    tail.coalesce(1).write.parquet(src)
    middle.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_scd2_changes(
        stream, root, str(tmp_path / "ck"), allow_late=True
    ).awaitTermination()
    want = _as_set(build_intervals(e))
    assert _as_set(read_intervals(spark, root)) == want


def test_stream_scd2_equals_batch_and_replays(spark, sf_dir, tmp_path):
    e = _changes(spark, sf_dir)
    (c1,) = _cuts(e, 1)
    root = str(tmp_path / "scd2")
    scd2_init(e.filter(F.col("ts") <= F.lit(c1)), root)

    # stream the tail in ts-ordered micro-batches (the order contract
    # holds across batches when files are time-sliced)
    tail = e.filter(F.col("ts") > F.lit(c1))
    (lo, hi) = tail.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    src = str(tmp_path / "changes")
    tail.filter(F.col("ts") <= F.lit(mid)).coalesce(1).write.parquet(src)
    tail.filter(F.col("ts") > F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    schema = spark.read.parquet(src).schema

    # maxFilesPerTrigger would not guarantee file ORDER; apply the two
    # slices as two explicit availableNow runs instead
    def run(ckpt):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 2
        ).parquet(src)
        stream_scd2_changes(stream, root, str(tmp_path / ckpt)).awaitTermination()

    # single availableNow batch over both files == one apply
    run("ck1")
    want = _as_set(build_intervals(e))
    assert _as_set(read_intervals(spark, root)) == want

    # drained-stream replay is a no-op (sidecar blocks the re-apply)
    run("ck1")
    assert _as_set(read_intervals(spark, root)) == want


def test_late_change_inside_open_span_raises_not_splices(
    spark, sf_dir, tmp_path
):
    """The order-contract hole a valid_from-only check leaves open: a
    late DIFFERING change whose ts falls strictly between the open
    interval's valid_from and its last absorbed event passes a
    valid_from comparison, and the seam merge would silently produce
    wrong intervals (missing re-opened segment, misattributed
    n_events). The persisted last_ts watermark must catch it — raise —
    and the late door must then absorb it into exactly the one-shot
    result."""
    from etl_8million_data__spark.operators.scd2 import scd2_apply_late

    spark.createDataFrame(
        [
            (1, 10, 100, "A"),
            (1, 11, 200, "A"),  # open interval absorbs through ts=200
            (2, 20, 100, "B"),
        ],
        "key long, seq long, ts long, attr string",
    ).createOrReplaceTempView("_scd2_hole")
    hist = spark.table("_scd2_hole")
    root = str(tmp_path / "scd2")
    scd2_init(hist, root, keep_log=True)

    # ts=150: after valid_from (100) but before last absorbed (200),
    # with a DIFFERENT attr -> the true history is A[100,150) C[150,?]
    # ... no: C at 150 then A again at 200 re-opens A. The seam merge
    # cannot represent that; it must raise.
    late = spark.createDataFrame(
        [(1, 12, 150, "C")], "key long, seq long, ts long, attr string"
    )
    with pytest.raises(ValueError, match="late data"):
        scd2_apply(spark, root, late)

    scd2_apply_late(spark, root, late)
    want = _as_set(build_intervals(hist.unionByName(late)))
    assert _as_set(read_intervals(spark, root)) == want
    # the re-opened A segment exists and weights are attributed right
    segs = {
        (r["attr"], r["valid_from"], r["valid_to"], r["n_events"])
        for r in read_intervals(spark, root).filter(F.col("key") == 1).collect()
    }
    assert segs == {("A", 100, 150, 1), ("C", 150, 200, 1), ("A", 200, None, 1)}

    # an on-time batch (strictly after every absorbed event) still
    # takes the fast path
    scd2_apply(
        spark,
        root,
        spark.createDataFrame(
            [(1, 13, 300, "C")], "key long, seq long, ts long, attr string"
        ),
    )
    assert (
        read_intervals(spark, root)
        .filter((F.col("key") == 1) & (F.col("is_current") == 1))
        .first()["attr"]
        == "C"
    )


def test_legacy_mixed_schema_store_keeps_the_watermark(spark, tmp_path):
    """A store created BEFORE last_ts existed, whose pin was widened to
    carry it (as an evolved store has it) and whose first apply after
    that rewrote only SOME buckets, is mixed-schema: its legacy files
    surface last_ts as NULL (NULL >= x is not-a-violation — late data
    inside the open span would splice silently). The pinned-schema read
    plus per-row coalesce(last_ts, valid_from) must close the hole: the
    rewritten key's true watermark survives (inside-span change raises)
    and the legacy key degrades to the valid_from check, never to
    NULL."""
    from etl_8million_data__spark.operators.bucket_store import (
        write_nb,
        write_schema,
    )
    from etl_8million_data__spark.operators.partitioning import id_bucket
    from etl_8million_data__spark.operators.scd2 import scd2_apply_late

    hist = spark.createDataFrame(
        [
            (1, 10, 100, "A"),  # key 1 -> bucket 8
            (1, 11, 200, "A"),
            (2, 20, 100, "B"),  # key 2 -> bucket 13 (disjoint)
            (2, 21, 250, "B"),
        ],
        "key long, seq long, ts long, attr string",
    )
    root = str(tmp_path / "scd2")
    # legacy layout: intervals files WITHOUT last_ts, under the widened
    # pin that carries it
    write_nb(root, 16)
    iv = build_intervals(hist).withColumn("kb", id_bucket(F.col("key"), 16))
    (
        iv.drop("last_ts")
        .repartition(F.col("kb"))
        .write.mode("overwrite")
        .partitionBy("kb")
        .parquet(os.path.join(root, "intervals"))
    )
    write_schema(os.path.join(root, "intervals"), iv.schema)
    (
        hist.withColumn("kb", id_bucket(F.col("key"), 16))
        .repartition(F.col("kb"))
        .write.mode("overwrite")
        .partitionBy("kb")
        .parquet(os.path.join(root, "log"))
    )

    # on-time apply for key 1 only: rewrites ONLY bucket 8 -> the store
    # is now mixed (bucket 8 files carry last_ts, bucket 13 files don't)
    scd2_apply(
        spark,
        root,
        spark.createDataFrame(
            [(1, 12, 300, "C"), (1, 13, 400, "C")],
            "key long, seq long, ts long, attr string",
        ),
    )

    # key 1's open interval is C with valid_from=300, last_ts=400: a
    # change at ts=350 passes a valid_from-only check — the persisted
    # watermark must catch it even though OTHER files lack the column
    with pytest.raises(ValueError, match="late data"):
        scd2_apply(
            spark,
            root,
            spark.createDataFrame(
                [(1, 14, 350, "D")], "key long, seq long, ts long, attr string"
            ),
        )

    # key 2's rows are legacy (no last_ts in their files): the declared
    # NULL must degrade to valid_from, not to not-a-violation
    with pytest.raises(ValueError, match="late data"):
        scd2_apply(
            spark,
            root,
            spark.createDataFrame(
                [(2, 22, 50, "E")], "key long, seq long, ts long, attr string"
            ),
        )

    # the late door still absorbs both into the one-shot result
    late = spark.createDataFrame(
        [(1, 14, 350, "D"), (2, 22, 50, "E")],
        "key long, seq long, ts long, attr string",
    )
    ontime = spark.createDataFrame(
        [(1, 12, 300, "C"), (1, 13, 400, "C")],
        "key long, seq long, ts long, attr string",
    )
    scd2_apply_late(spark, root, late)
    want = {
        (r["key"], r["attr"], r["valid_from"], r["valid_to"], r["n_events"])
        for r in build_intervals(
            hist.unionByName(ontime).unionByName(late)
        ).collect()
    }
    got = {
        (r["key"], r["attr"], r["valid_from"], r["valid_to"], r["n_events"])
        for r in read_intervals(spark, root).collect()
    }
    assert got == want


def test_compact_log_pays_off_append_debt(spark, sf_dir, tmp_path):
    """Every apply appends one file per touched bucket to the retained
    log; compact_log must merge the debt back to one file per bucket
    with the late door's rebuild results unchanged."""
    from etl_8million_data__spark.operators.bucket_store import (
        bucket_file_counts,
    )
    from etl_8million_data__spark.operators.scd2 import (
        compact_log,
        scd2_apply_late,
    )

    e = _changes(spark, sf_dir)
    cuts = _cuts(e, 5)
    root = str(tmp_path / "scd2")
    scd2_init(e.filter(F.col("ts") <= F.lit(cuts[0])), root, keep_log=True)
    lo = cuts[0]
    for hi in cuts[1:]:
        scd2_apply_late(
            spark,
            root,
            e.filter((F.col("ts") > F.lit(lo)) & (F.col("ts") <= F.lit(hi))),
        )
        lo = hi
    scd2_apply_late(spark, root, e.filter(F.col("ts") > F.lit(lo)))

    log_path = os.path.join(root, "log")
    before = bucket_file_counts(log_path, "kb")
    assert max(before.values()) > 1, "applies must have created log debt"
    want = _as_set(read_intervals(spark, root))

    n = compact_log(spark, root)
    assert n == sum(1 for v in before.values() if v > 1)
    after = bucket_file_counts(log_path, "kb")
    assert all(v == 1 for v in after.values()), after
    assert compact_log(spark, root) == 0

    # the compacted log rebuilds identically: re-derive EVERY key via
    # the late door with an already-logged batch (skip-existing append,
    # pure rebuild from the compacted log)
    scd2_apply_late(spark, root, e)
    assert _as_set(read_intervals(spark, root)) == want
    assert _as_set(read_intervals(spark, root)) == _as_set(build_intervals(e))


def test_unpinned_state_raises_naming_the_path(spark, tmp_path):
    """scd2_init pins both tables in the commit that creates them, so a
    table without its pin is damage: reading the intervals or
    compacting the log raises with the table's path instead of
    guessing a schema from the footers."""
    from etl_8million_data__spark.operators.scd2 import compact_log

    root = str(tmp_path / "scd2")
    hist = spark.createDataFrame(
        [(1, 10, 100, "A"), (2, 20, 100, "B")], "key long, seq long, ts long, attr string"
    )
    scd2_init(hist, root, keep_log=True)
    for table, call in (
        ("log", lambda: compact_log(spark, root)),
        ("intervals", lambda: read_intervals(spark, root)),
    ):
        path = os.path.join(root, table)
        os.remove(os.path.join(path, "_schema.json"))
        with pytest.raises(ValueError, match=re.escape(path)):
            call()
