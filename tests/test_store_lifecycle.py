"""Round-13 lifecycle doors for the kb=-bucketed stores
(operators/bucket_store.py + operators/diff.py + operators/cdc_log.py):
per-bucket compaction pays off append small-files debt with the
checksum summary kept honest; a
wrong bucket modulus raises instead of silently pruning to the wrong
buckets; the versioned CDC apply converges under arbitrarily shuffled
/ redelivered batches; rebucket migrates the modulus with a content
equality gate; schema evolution NULL-extends without rewriting data;
and the streaming CDC producer closes the replicate-apply-verify loop
end to end."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import (
    bucket_file_counts,
    compact_buckets,
    evolve_add_columns,
    read_store_pinned,
    rebucket,
)
from etl_8million_data__spark.operators.diff import (
    append_bucketed,
    apply_changes_versioned,
    checksums_fsck,
    diff_tables,
    read_replica,
    write_bucketed,
    write_replica,
)


def _frame(spark, d):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(d.items())], "k long, v long"
    )


def test_compact_buckets_pays_off_append_debt(spark, tmp_path):
    """N appends leave up to N files per touched bucket; compaction
    must merge each back to ONE file, leave content and the checksum
    summary bit-identical (fsck zero; diff vs expected empty), and
    leave buckets already at one file untouched byte-for-byte."""
    pa = str(tmp_path / "t")
    ref = {k: k * 10 for k in range(0, 40)}
    write_bucketed(_frame(spark, ref), pa, "k", checksums=True)
    for lo in (40, 60, 80, 100):
        batch = {k: k * 10 for k in range(lo, lo + 20)}
        append_bucketed(_frame(spark, batch), pa, "k")
        ref.update(batch)

    counts = bucket_file_counts(pa, "kb")
    assert max(counts.values()) > 1, "appends must have created debt"
    multi = {b for b, n in counts.items() if n > 1}
    single = {b for b, n in counts.items() if n == 1}

    def files_of(buckets):
        out = {}
        for b in buckets:
            d = os.path.join(pa, f"kb={b}")
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    with open(os.path.join(d, f), "rb") as fh:
                        out[f"{b}/{f}"] = fh.read()
        return out

    untouched_before = files_of(single)
    n = compact_buckets(spark, pa, "kb")
    assert n == len(multi)
    after = bucket_file_counts(pa, "kb")
    assert set(after) == set(counts)
    assert all(v == 1 for v in after.values()), after
    assert files_of(single) == untouched_before

    # content + summary unchanged
    assert {
        r["k"]: r["v"] for r in spark.read.parquet(pa).collect()
    } == ref
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    pe = str(tmp_path / "expected")
    write_bucketed(_frame(spark, ref), pe, "k", checksums=True)
    assert diff_tables(spark, pa, pe, ["k"], ["v"]).count() == 0

    # second compaction is a no-op
    assert compact_buckets(spark, pa, "kb") == 0


def test_wrong_bucket_modulus_raises_loudly(spark, tmp_path):
    """A door called with a modulus contradicting the store's persisted
    _nb must raise — with nb=32 on a 16-bucket table, a delete would
    prune to buckets the victims don't live in and silently return 0
    (a retention failure), an apply would scatter post-images into
    wrong buckets while stale rows survive."""
    from etl_8million_data__spark.operators.diff import delete_keys_bucketed

    pa = str(tmp_path / "t")
    write_bucketed(_frame(spark, {k: k for k in range(20)}), pa, "k")
    with pytest.raises(ValueError, match="nb=16"):
        delete_keys_bucketed(
            spark, pa, spark.createDataFrame([(3,)], "k long"), "k", nb=32
        )
    with pytest.raises(ValueError, match="nb=16"):
        append_bucketed(_frame(spark, {99: 99}), pa, "k", nb=32)
    # omitting nb uses the store's own modulus
    assert delete_keys_bucketed(
        spark, pa, spark.createDataFrame([(3,)], "k long"), "k"
    ) == 1

    # diff across sides bucketed at different moduli refuses
    pb = str(tmp_path / "t32")
    write_bucketed(_frame(spark, {k: k for k in range(20)}), pb, "k", nb=32)
    with pytest.raises(ValueError, match="different moduli"):
        diff_tables(spark, pa, pb, ["k"], ["v"])


def test_append_created_store_keeps_its_modulus(spark, tmp_path):
    """A store created by its first append carries the modulus it was
    written at: a delete that omits nb hashes with 32, not the default
    16, and removes every row instead of the ones whose buckets happen
    to agree."""
    from etl_8million_data__spark.operators.bucket_store import read_nb
    from etl_8million_data__spark.operators.diff import delete_keys_bucketed

    pa = str(tmp_path / "t")
    append_bucketed(_frame(spark, {k: k for k in range(200)}), pa, "k", nb=32)
    assert read_nb(pa) == 32
    victims = spark.createDataFrame([(k,) for k in range(200)], "k long")
    assert delete_keys_bucketed(spark, pa, victims, "k") == 200
    assert read_store_pinned(spark, pa).count() == 0


def _cdc_frames(spark):
    """Three adjacent-version change frames over a 20-key table:
    v2 updates evens and deletes k=5; v3 re-inserts k=5, updates
    multiples of 3, deletes k=8; v4 updates k in {2,9}."""
    base = {k: k * 10 for k in range(20)}

    def apply(d, ups, dels):
        d = dict(d)
        for k, v in ups.items():
            d[k] = v
        for k in dels:
            d.pop(k, None)
        return d

    s2 = apply(base, {k: k * 10 + 1 for k in base if k % 2 == 0}, [5])
    s3 = apply(s2, {**{k: k * 10 + 2 for k in s2 if k % 3 == 0}, 5: 555}, [8])
    s4 = apply(s3, {2: 222, 9: 999}, [])

    def frame(prev, cur, v):
        rows = []
        for k in cur:
            if k not in prev:
                rows.append(("insert", k, cur[k], v))
            elif cur[k] != prev[k]:
                rows.append(("update", k, cur[k], v))
        for k in prev:
            if k not in cur:
                rows.append(("delete", k, prev[k], v))
        return spark.createDataFrame(
            rows, "_change_type string, k long, v long, _commit_version long"
        )

    return base, s4, [frame(base, s2, 2), frame(s2, s3, 3), frame(s3, s4, 4)]


def test_versioned_apply_converges_under_any_order(spark, tmp_path):
    """Max-version-wins: applying the change frames in EVERY permutation
    (including redelivering each frame twice, and one run with all
    frames fused into a single out-of-order batch) converges to the
    same final visible state, with the checksum summary honest."""
    import itertools

    base, want, frames = _cdc_frames(spark)
    for i, perm in enumerate(itertools.permutations(range(3))):
        pa = str(tmp_path / f"r{i}")
        write_replica(_frame(spark, base), pa, "k", version=1)
        for j in perm:
            apply_changes_versioned(spark, pa, frames[j], "k")
        # redeliver everything once more, reversed
        for j in reversed(perm):
            apply_changes_versioned(spark, pa, frames[j], "k")
        got = {r["k"]: r["v"] for r in read_replica(spark, pa).collect()}
        assert got == want, (perm, got)
        assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0

    # all frames fused into ONE batch (intra-batch max-version-wins)
    pa = str(tmp_path / "fused")
    write_replica(_frame(spark, base), pa, "k", version=1)
    fused = frames[2].unionByName(frames[0]).unionByName(frames[1])
    apply_changes_versioned(spark, pa, fused, "k")
    got = {r["k"]: r["v"] for r in read_replica(spark, pa).collect()}
    assert got == want

    # stale redelivery after convergence applies nothing
    assert apply_changes_versioned(spark, pa, frames[0], "k") == 0


def test_rebucket_migrates_modulus_with_equality_gate(spark, tmp_path):
    """rebucket 16 -> 64: content identical (diff vs pre-migration copy
    empty), summary re-seeded at the new modulus and honest, doors keep
    working at the new modulus, and the old modulus now raises."""
    from etl_8million_data__spark.operators.bucket_store import read_nb
    from etl_8million_data__spark.operators.diff import delete_keys_bucketed

    ref = {k: k * 10 for k in range(200)}
    pa = str(tmp_path / "t")
    write_bucketed(_frame(spark, ref), pa, "k", checksums=True)
    copy = str(tmp_path / "copy")
    write_bucketed(_frame(spark, ref), copy, "k", checksums=True)

    rebucket(spark, pa, "k", 64)
    assert read_nb(pa) == 64
    counts = bucket_file_counts(pa, "kb")
    assert len(counts) > 16 and max(counts) < 64
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    got = {r["k"]: r["v"] for r in read_store_pinned(spark, pa).collect()}
    assert got == ref
    # the unbucketed-comparison path still proves equality to the copy
    # (different moduli on two bucketed sides correctly refuse)
    with pytest.raises(ValueError, match="different moduli"):
        diff_tables(spark, pa, copy, ["k"], ["v"])

    # doors at the new modulus
    assert delete_keys_bucketed(
        spark, pa, spark.createDataFrame([(7,)], "k long"), "k"
    ) == 1
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    with pytest.raises(ValueError, match="nb=64"):
        append_bucketed(_frame(spark, {999: 1}), pa, "k", nb=16)


def test_evolve_add_columns_null_extends_without_rewrite(spark, tmp_path):
    """Adding a column bumps only the pinned schema: zero data files
    rewritten, old rows read back NULL-extended, appends carry the new
    column, and the summary re-seeds exactly when the compared set
    changes (compare=True) and survives untouched when not."""
    ref = {k: k * 10 for k in range(30)}
    pa = str(tmp_path / "t")
    write_bucketed(_frame(spark, ref), pa, "k", checksums=True)

    def data_files():
        out = {}
        for dirpath, _, files in os.walk(pa):
            if "_checksums" in dirpath:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    with open(p, "rb") as fh:
                        out[p] = fh.read()
        return out

    before = data_files()
    evolve_add_columns(spark, pa, "w string", compare=True)
    assert data_files() == before, "evolution must not rewrite data"
    got = read_store_pinned(spark, pa)
    assert "w" in got.columns
    assert got.filter(F.col("w").isNotNull()).count() == 0
    # summary was re-seeded over (v, w) and is honest
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0

    # appends carry the new column; old NULL-extended rows coexist
    append_bucketed(
        spark.createDataFrame([(500, 5000, "x")], "k long, v long, w string"),
        pa,
        "k",
    )
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    assert read_store_pinned(spark, pa).filter(
        F.col("w") == "x"
    ).count() == 1

    # compare=False: schema bumps, summary pin untouched
    evolve_add_columns(spark, pa, "note string", compare=False)
    from etl_8million_data__spark.operators.diff import read_checksums

    meta, _ = read_checksums(spark, pa)
    assert "note" not in meta["cols"]
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0

    # clashing / unpinned stores refuse
    with pytest.raises(ValueError, match="already exist"):
        evolve_add_columns(spark, pa, "v long")


def test_streaming_cdc_producer_closes_the_loop(spark, tmp_path):
    """End to end: commits on source A publish to a file change log,
    the consumer stream applies them to replica B (versioned,
    max-version-wins), and the replica audit reads clean. Publishing is
    resumable/idempotent; replaying the whole log from a FRESH
    checkpoint converges (out-of-order-safe apply)."""
    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.operators.cdc_log import (
        changes_stream,
        publish_changes,
    )
    from etl_8million_data__spark.operators.diff import stream_apply_changes

    base, want, frames = _cdc_frames(spark)
    src = str(tmp_path / "src")
    states = [dict(base)]
    for fr in frames:
        s = dict(states[-1])
        for r in fr.collect():
            if r["_change_type"] == "delete":
                s.pop(r["k"], None)
            else:
                s[r["k"]] = r["v"]
        states.append(s)
    assert states[-1] == want
    v1 = V.commit_bucketed(spark, _frame(spark, states[0]), src, "k")
    for s in states[1:3]:
        V.commit_bucketed(spark, _frame(spark, s), src, "k", op="upsert")

    log = str(tmp_path / "log")
    assert publish_changes(spark, src, log, ["k"], from_version=v1) == 2
    assert publish_changes(spark, src, log, ["k"]) == 0  # idempotent

    replica = str(tmp_path / "replica")
    write_replica(_frame(spark, states[0]), replica, "k", version=v1)

    def drain(ck):
        q = stream_apply_changes(
            changes_stream(spark, log), replica, "k", str(tmp_path / ck)
        )
        q.awaitTermination(120)

    drain("ck1")
    got = {r["k"]: r["v"] for r in read_replica(spark, replica).collect()}
    assert got == states[2]

    # more commits -> publish tails only the new versions
    V.commit_bucketed(spark, _frame(spark, states[3]), src, "k", op="upsert")
    assert publish_changes(spark, src, log, ["k"]) == 1
    drain("ck1")
    got = {r["k"]: r["v"] for r in read_replica(spark, replica).collect()}
    assert got == want

    # replica audit against the source's current content reads clean
    expected = str(tmp_path / "expected")
    write_bucketed(_frame(spark, want), expected, "k", checksums=True)
    vis = str(tmp_path / "visible")
    write_bucketed(read_replica(spark, replica), vis, "k", checksums=True)
    assert diff_tables(spark, vis, expected, ["k"], ["v"]).count() == 0

    # full replay from a fresh checkpoint: every batch redelivered,
    # replica unchanged (max-version-wins convergence)
    drain("ck_fresh")
    got = {r["k"]: r["v"] for r in read_replica(spark, replica).collect()}
    assert got == want
    assert checksums_fsck(spark, replica).first()["n_mismatched"] == 0


def test_apply_changes_never_reads_untouched_buckets(spark, tmp_path):
    """Physical no-read proof for the CDC apply doors (both flavors):
    a GARBAGE parquet file planted in a bucket the change frame does
    not touch breaks a full read but must leave the bucket-pruned,
    pinned-schema apply unaffected — and the read-back with the pinned
    schema + partition filter proves the applied rows landed."""
    from etl_8million_data__spark.operators.diff import apply_changes
    from etl_8million_data__spark.operators.partitioning import id_bucket_py

    ref = {k: k * 10 for k in range(60)}
    # legacy-flavor replica
    pa = str(tmp_path / "plain")
    write_bucketed(_frame(spark, ref), pa, "k", checksums=True)
    # versioned replica
    pv = str(tmp_path / "versioned")
    write_replica(_frame(spark, ref), pv, "k", version=1)

    victim_k = 1
    vb = id_bucket_py(victim_k, 16)
    other = next(b for b in range(16) if b != vb and os.path.isdir(
        os.path.join(pa, f"kb={b}")
    ))
    for root in (pa, pv):
        with open(os.path.join(root, f"kb={other}", "junk.parquet"), "wb") as fh:
            fh.write(b"not parquet")
        spark.catalog.refreshByPath(root)

    ch = spark.createDataFrame(
        [("update", victim_k, 99999)], "_change_type string, k long, v long"
    )
    assert apply_changes(spark, pa, ch, "k") == 1
    chv = ch.withColumn("_commit_version", F.lit(2).cast("bigint"))
    assert apply_changes(spark, pv, chv, "k") == 1

    got = (
        spark.read.schema("k long, v long, kb int")
        .parquet(pa)
        .filter((F.col("kb") == vb) & (F.col("k") == victim_k))
        .first()
    )
    assert got["v"] == 99999
    gotv = (
        spark.read.schema("k long, v long, _v bigint, _gone int, kb int")
        .parquet(pv)
        .filter((F.col("kb") == vb) & (F.col("k") == victim_k))
        .first()
    )
    assert (gotv["v"], gotv["_v"], gotv["_gone"]) == (99999, 2, 0)

    # the full-scan control provably fails on the garbage file
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.schema("k long, v long, kb int").parquet(pa).count()


def test_vacuum_tombstones_reclaims_below_the_replay_horizon(spark, tmp_path):
    """Tombstone retention: vacuum_tombstones drops only tombstones
    with _v < floor (rewriting only their buckets, summary honest),
    visible rows are untouched, and tombstones AT/ABOVE the floor
    survive — they still fence off redelivered older changes."""
    from etl_8million_data__spark.operators.diff import (
        apply_changes_versioned,
        vacuum_tombstones,
    )

    base, want, frames = _cdc_frames(spark)
    pa = str(tmp_path / "r")
    write_replica(_frame(spark, base), pa, "k", version=1)
    for fr in frames:
        apply_changes_versioned(spark, pa, fr, "k")
    stones = read_store_pinned(spark, pa).filter(F.col("_gone") == 1)
    by_v = {r["k"]: r["_v"] for r in stones.collect()}
    # k=5's delete@2 tombstone was REPLACED by its re-insert@3; only
    # k=8's delete@3 tombstone remains
    assert by_v == {8: 3}

    # floor below every tombstone: a no-op, and the tombstone still
    # fences a redelivered older change
    assert vacuum_tombstones(spark, pa, below_version=3) == 0
    stale = spark.createDataFrame(
        [("update", 8, 80, 2)],
        "_change_type string, k long, v long, _commit_version long",
    )
    assert apply_changes_versioned(spark, pa, stale, "k") == 0
    assert {r["k"]: r["v"] for r in read_replica(spark, pa).collect()} == want

    # floor above it (the producer's replay horizon moved past v3):
    # the tombstone reclaims, visible rows untouched, summary honest
    assert vacuum_tombstones(spark, pa, below_version=4) == 1
    assert read_store_pinned(spark, pa).filter(
        F.col("_gone") == 1
    ).count() == 0
    assert {r["k"]: r["v"] for r in read_replica(spark, pa).collect()} == want
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    assert vacuum_tombstones(spark, pa, below_version=4) == 0


def test_cdc_apply_across_schema_evolution(spark, tmp_path):
    """Replication meets schema evolution: a change frame carrying a
    column the replica's pinned schema lacks must REFUSE loudly (a
    silent unionByName would write the column into the buckets where
    every pinned-schema read then drops it — data loss disguised as
    success); after evolve_add_columns on the replica the same frame
    applies, legacy rows read NULL-extended, and the summary stays
    honest."""
    base = {k: k * 10 for k in range(20)}
    pa = str(tmp_path / "r")
    write_replica(_frame(spark, base), pa, "k", version=1)

    evolved = spark.createDataFrame(
        [("update", 3, 33, "EU", 2), ("insert", 100, 1000, "US", 2)],
        "_change_type string, k long, v long, region string,"
        " _commit_version long",
    )
    with pytest.raises(ValueError, match="evolve_add_columns"):
        apply_changes_versioned(spark, pa, evolved, "k")

    evolve_add_columns(spark, pa, "region string", compare=True)
    assert apply_changes_versioned(spark, pa, evolved, "k") == 2
    got = {
        r["k"]: (r["v"], r["region"])
        for r in read_replica(spark, pa).collect()
    }
    assert got[3] == (33, "EU") and got[100] == (1000, "US")
    assert got[5] == (50, None)  # legacy row NULL-extended
    assert len(got) == 21
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0


def test_door_telemetry_feeds_the_rebucket_advisor(spark, tmp_path):
    """The measure-then-advise-then-execute loop on the store's OWN
    telemetry: every door records its change-set size driver-side
    (zero extra jobs), advise_rebucket reads the p95 churn + table
    size and recommends via the same ladder as recommend_nb, rebucket
    executes, and the advisor then says keep — telemetry surviving
    the migration."""
    from etl_8million_data__spark.operators.bucket_store import (
        advise_rebucket,
        read_door_stats,
        recommend_nb,
    )
    from etl_8million_data__spark.operators.diff import (
        apply_changes_versioned as _acv,
        delete_keys_bucketed,
    )

    ref = {k: k * 10 for k in range(50_000)}
    pa = str(tmp_path / "t")
    write_replica(_frame(spark, ref), pa, "k", version=1)

    # fewer than 5 applies: no advice yet. A bare append missing the
    # replica's bookkeeping columns refuses (pinned-schema guard — a
    # silent narrow append would NULL-extend under every later read)
    with pytest.raises(ValueError, match="pinned schema"):
        append_bucketed(_frame(spark, {10**9: 1}), pa, "k")
    append_bucketed(
        _frame(spark, {10**9: 1})
        .withColumn("_v", F.lit(1).cast("bigint"))
        .withColumn("_gone", F.lit(0)),
        pa,
        "k",
    )
    adv0 = advise_rebucket(spark, pa)
    assert adv0["action"].startswith("keep (insufficient")

    # a churny workload: ~60-key change frames through three doors
    for i in range(2, 8):
        ch = spark.createDataFrame(
            [("update", k, k + i, i) for k in range(0, 3000, 50)],
            "_change_type string, k long, v long, _commit_version long",
        )
        _acv(spark, pa, ch, "k")
    delete_keys_bucketed(
        spark, pa, spark.createDataFrame([(10**9,)], "k long"), "k"
    )
    stats = read_door_stats(pa)
    assert {s["op"] for s in stats} >= {
        "append", "apply_changes_versioned", "delete"
    }

    adv = advise_rebucket(spark, pa)
    assert adv["action"] == "rebucket"
    assert adv["churn_p95"] == 60
    n_rows = adv["table_rows"]
    want_nb = (
        spark.createDataFrame([(60, n_rows)], "c bigint, r bigint")
        .select(recommend_nb(F.col("c"), F.col("r")).alias("nb"))
        .first()["nb"]
    )
    assert adv["nb_recommended"] == want_nb and want_nb != 16

    rebucket(spark, pa, "k", adv["nb_recommended"])
    adv2 = advise_rebucket(spark, pa)
    assert adv2["nb_current"] == want_nb
    assert adv2["action"] == "keep"  # telemetry survived the swap
    assert adv2["n_applies"] == adv["n_applies"]
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0


def test_versioned_apply_property_random_histories(spark, tmp_path):
    """Property test (hypothesis): for ANY random change history over a
    small key space — split into adjacent-version frames, grouped into
    random batches, delivered in a random order, with a random batch
    redelivered — the versioned apply converges to the reference final
    state and the summary stays honest. Bounded examples (each is many
    Spark jobs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    step = st.tuples(
        st.sampled_from(["upsert", "delete"]),
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=999),
    )
    counter = {"i": 0}

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(st.lists(step, min_size=1, max_size=4), min_size=2, max_size=4),
        st.randoms(use_true_random=False),
    )
    def run(version_steps, rnd):
        counter["i"] += 1
        pa = str(tmp_path / f"p{counter['i']}")
        base = {k: k for k in range(0, 12, 2)}
        write_replica(_frame(spark, base), pa, "k", version=1)

        # build adjacent-version frames from the random steps
        state = dict(base)
        frames = []
        for vi, steps in enumerate(version_steps, start=2):
            prev = dict(state)
            for op, k, v in steps:
                if op == "delete":
                    state.pop(k, None)
                else:
                    state[k] = v
            rows = []
            for k in state:
                if k not in prev:
                    rows.append(("insert", k, state[k], vi))
                elif state[k] != prev[k]:
                    rows.append(("update", k, state[k], vi))
            for k in prev:
                if k not in state:
                    rows.append(("delete", k, prev[k], vi))
            if rows:
                frames.append(rows)
        order = list(range(len(frames)))
        rnd.shuffle(order)
        if frames:
            order.append(rnd.choice(order))  # redeliver one batch
        for j in order:
            apply_changes_versioned(
                spark,
                pa,
                spark.createDataFrame(
                    frames[j],
                    "_change_type string, k long, v long,"
                    " _commit_version long",
                ),
                "k",
            )
        got = {r["k"]: r["v"] for r in read_replica(spark, pa).collect()}
        assert got == state, (version_steps, order, got)
        assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0

    run()


def test_publisher_crash_reships_one_version_harmlessly(spark, tmp_path):
    """publish_changes' watermark advances per version AFTER the frame
    lands, so a producer crash re-ships at most one version whole — a
    duplicate frame the versioned apply converges through. Simulated by
    rolling the watermark back one version and re-publishing."""
    import json

    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.operators.cdc_log import (
        _read_state,
        changes_stream,
        publish_changes,
    )
    from etl_8million_data__spark.operators.diff import stream_apply_changes

    base, want, frames = _cdc_frames(spark)
    states = [dict(base)]
    for fr in frames:
        s = dict(states[-1])
        for r in fr.collect():
            if r["_change_type"] == "delete":
                s.pop(r["k"], None)
            else:
                s[r["k"]] = r["v"]
        states.append(s)
    src = str(tmp_path / "src")
    v1 = V.commit_bucketed(spark, _frame(spark, states[0]), src, "k")
    for s in states[1:]:
        V.commit_bucketed(spark, _frame(spark, s), src, "k", op="upsert")

    log = str(tmp_path / "log")
    assert publish_changes(spark, src, log, ["k"], from_version=v1) == 3
    # crash simulation: the watermark regresses one version (as if the
    # producer died after writing v4's frame but before advancing)
    st = _read_state(log)
    with open(os.path.join(log, "_published.json"), "w") as fh:
        json.dump({"upto": st["upto"] - 1, "horizon": st["horizon"]}, fh)
    assert publish_changes(spark, src, log, ["k"]) == 1  # re-ships v4

    replica = str(tmp_path / "replica")
    write_replica(_frame(spark, states[0]), replica, "k", version=v1)
    q = stream_apply_changes(
        changes_stream(spark, log), replica, "k", str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in read_replica(spark, replica).collect()}
    assert got == want
    assert checksums_fsck(spark, replica).first()["n_mismatched"] == 0


def test_evolve_then_compact_materializes_the_new_column(spark, tmp_path):
    """Interplay: after evolve_add_columns (metadata-only) a compaction
    rewrites the debt buckets through the pinned schema, physically
    materializing the new column as NULLs in the rewritten files —
    reads, fsck, and diff unchanged before and after."""
    ref = {k: k * 10 for k in range(40)}
    pa = str(tmp_path / "t")
    write_bucketed(_frame(spark, ref), pa, "k", checksums=True)
    evolve_add_columns(spark, pa, "w string", compare=True)
    append_bucketed(
        spark.createDataFrame(
            [(100, 1000, "x"), (101, 1010, None)], "k long, v long, w string"
        ),
        pa,
        "k",
    )
    assert compact_buckets(spark, pa, "kb") > 0
    got = read_store_pinned(spark, pa)
    assert got.count() == 42
    assert got.filter(F.col("w") == "x").count() == 1
    assert got.filter(F.col("w").isNull()).count() == 41
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    # the REWRITTEN buckets' files carry the column physically (a
    # single-file bucket dir has exactly one footer to inspect);
    # untouched single-file buckets legitimately still lack it — the
    # pinned schema is what makes the mixed store read uniformly
    from etl_8million_data__spark.operators.partitioning import id_bucket_py

    rewritten = os.path.join(pa, f"kb={id_bucket_py(100, 16)}")
    assert "w" in spark.read.parquet(rewritten).columns


def test_rebucket_between_cdc_applies_keeps_replication_correct(
    spark, tmp_path
):
    """Migration under live replication: apply the v2 frame at nb=16,
    rebucket the replica to 64 (full rows incl. _v/_gone carried, pin
    and summary re-seeded), then apply the v3 frame at the NEW modulus
    and redeliver the OLD v2 frame — the replica still converges to the
    final state with the summary honest, and a door passing the stale
    nb=16 refuses."""
    from etl_8million_data__spark.operators.bucket_store import read_nb

    base, want, frames = _cdc_frames(spark)
    pa = str(tmp_path / "r")
    write_replica(_frame(spark, base), pa, "k", version=1)
    apply_changes_versioned(spark, pa, frames[0], "k")

    rebucket(spark, pa, "k", 64)
    assert read_nb(pa) == 64
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0

    with pytest.raises(ValueError, match="nb=64"):
        apply_changes_versioned(spark, pa, frames[1], "k", nb=16)
    apply_changes_versioned(spark, pa, frames[1], "k")
    apply_changes_versioned(spark, pa, frames[2], "k")
    # redeliver the pre-migration frame: version fencing survives the
    # migration (the _v column moved with the rows)
    assert apply_changes_versioned(spark, pa, frames[0], "k") == 0

    got = {r["k"]: r["v"] for r in read_replica(spark, pa).collect()}
    assert got == want
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0


def test_compaction_preserves_tombstones_and_the_version_fence(
    spark, tmp_path
):
    """Compaction rewrites full rows under the pinned schema, so a
    versioned replica's tombstones (and their _v fence) must survive it
    byte-for-value: after CDC applies + small-files debt + compaction,
    a stale redelivered change is still fenced; only an explicit
    vacuum (replay-horizon floor) reclaims the tombstone."""
    from etl_8million_data__spark.operators.diff import vacuum_tombstones

    from etl_8million_data__spark.operators.partitioning import id_bucket_py

    base, want, frames = _cdc_frames(spark)
    pa = str(tmp_path / "r")
    write_replica(_frame(spark, base), pa, "k", version=1)
    for fr in frames:
        apply_changes_versioned(spark, pa, fr, "k")
    # the applies are overwrite doors (no small-files debt) — force a
    # rewrite of the tombstone's bucket through the compaction path
    assert compact_buckets(
        spark, pa, "kb", buckets=[id_bucket_py(8, 16)]
    ) == 1
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    stones = {
        r["k"]: r["_v"]
        for r in read_store_pinned(spark, pa)
        .filter(F.col("_gone") == 1)
        .collect()
    }
    assert stones == {8: 3}, "compaction must not drop tombstones"

    stale = spark.createDataFrame(
        [("update", 8, 80, 2)],
        "_change_type string, k long, v long, _commit_version long",
    )
    assert apply_changes_versioned(spark, pa, stale, "k") == 0
    assert {r["k"]: r["v"] for r in read_replica(spark, pa).collect()} == want

    assert vacuum_tombstones(spark, pa, below_version=4) == 1
    assert compact_buckets(spark, pa, "kb") in (0, 1)  # vacuum's rewrite is 1 file/bucket already
    assert {r["k"]: r["v"] for r in read_replica(spark, pa).collect()} == want
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
