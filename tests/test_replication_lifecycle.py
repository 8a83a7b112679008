"""Round-14 hardening of the replication/ops doors
(operators/cdc_log.py + operators/bucket_store.py + operators/diff.py):
the CDC log's pinned change-frame schema carries a source schema
evolution THROUGH the stream (no silent column drop); log retention
bounds the file count and gives vacuum_tombstones a validated replay
horizon instead of a docstring promise; the rebucket migration leaves
one plain Parquet store at its path that every door keeps working on;
and the log fsck/repair pair finds planted faults without touching
data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import (
    advise_compaction,
    compact_buckets,
    read_store_pinned,
    rebucket,
    store_bytes,
)
from etl_8million_data__spark.operators.diff import (
    append_bucketed,
    apply_changes_versioned,
    checksums_fsck,
    read_replica,
    vacuum_tombstones,
    write_bucketed,
    write_replica,
)


def _frame(spark, d):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(d.items())], "k long, v long"
    )


# ---------------------------------------------------------------- CDC log


def _committed_source(spark, tmp_path, states):
    from etl_8million_data__spark.operators import versioned as V

    src = str(tmp_path / "src")
    v1 = V.commit_bucketed(spark, _frame(spark, states[0]), src, "k")
    for s in states[1:]:
        V.commit_bucketed(spark, _frame(spark, s), src, "k", op="upsert")
    return src, v1


def test_log_schema_pin_carries_evolution_through_the_stream(
    spark, tmp_path
):
    """The round-13 silent-wrong-data edge, closed: a source schema
    evolution mid-log must reach the replica THROUGH the stream. The
    log pin (_schema.json) widens when a later version's frame carries
    a new column; changes_stream declares the PIN (never one arbitrary
    footer, which could resolve to the old shape and silently drop the
    evolved column from every newer frame); older retained frames read
    back NULL-extended; and after evolve_add_columns on the replica the
    evolved values land."""
    from etl_8million_data__spark.operators import versioned as V
    from etl_8million_data__spark.operators.bucket_store import (
        evolve_add_columns,
    )
    from etl_8million_data__spark.operators.cdc_log import (
        changes_stream,
        publish_changes,
        read_log_schema,
    )
    from etl_8million_data__spark.operators.diff import stream_apply_changes

    base = {k: k * 10 for k in range(20)}
    s2 = {**base, 3: 31, 20: 200}
    src, v1 = _committed_source(spark, tmp_path, [base, s2])

    log = str(tmp_path / "log")
    assert publish_changes(spark, src, log, ["k"], from_version=v1) == 1
    pin = read_log_schema(log)
    assert [f.name for f in pin.fields] == ["_change_type", "k", "v",
                                            "_commit_version"]

    replica = str(tmp_path / "replica")
    write_replica(_frame(spark, base), replica, "k", version=v1)

    def drain(ck):
        q = stream_apply_changes(
            changes_stream(spark, log), replica, "k", str(tmp_path / ck)
        )
        q.awaitTermination(120)

    drain("ck")
    assert {
        r["k"]: r["v"] for r in read_replica(spark, replica).collect()
    } == s2

    # SOURCE EVOLUTION: v3 widens the source with `region` (set on two
    # keys, NULL elsewhere — a NULL-on-both-sides row is unchanged)
    s3 = dict(s2)
    s3[3] = 33
    rows = [
        (k, v, "EU" if k == 3 else ("US" if k == 20 else None))
        for k, v in sorted(s3.items())
    ]
    V.commit_bucketed(
        spark,
        spark.createDataFrame(rows, "k long, v long, region string"),
        src,
        "k",
        op="upsert",
    )
    assert publish_changes(spark, src, log, ["k"]) == 1

    # the pin widened; the stream DECLARES it, so the evolved column is
    # in the stream schema no matter which footer a naive read would
    # have picked
    pin = read_log_schema(log)
    assert [f.name for f in pin.fields] == [
        "_change_type", "k", "v", "_commit_version", "region",
    ]
    assert [f.name for f in changes_stream(spark, log).schema.fields] == [
        "_change_type", "k", "v", "_commit_version", "region",
    ]
    # retained pre-evolution frames read back NULL-extended under the pin
    data_dir = os.path.join(log, "data")
    old_frames = spark.read.schema(pin).parquet(data_dir).filter(
        F.col("_commit_version") == v1 + 1
    )
    assert old_frames.count() > 0
    assert old_frames.filter(F.col("region").isNotNull()).count() == 0

    # replica refuses until evolved (the loud guard), then the evolved
    # values arrive through the SAME stream checkpoint
    with pytest.raises(Exception, match="evolve_add_columns"):
        drain("ck")
    evolve_add_columns(spark, replica, "region string", compare=True)
    drain("ck")
    got = {
        r["k"]: (r["v"], r["region"])
        for r in read_replica(spark, replica).collect()
    }
    assert got[3] == (33, "EU") and got[20] == (200, "US")
    assert got[4] == (40, None)
    assert checksums_fsck(spark, replica).first()["n_mismatched"] == 0


def test_log_pin_type_conflict_refuses(spark, tmp_path):
    """Two types for one column cannot share a log: the pin
    reconciliation raises instead of silently coercing (a coerced
    change frame would corrupt the replica)."""
    from pyspark.sql.types import StructType

    from etl_8million_data__spark.operators.cdc_log import (
        _pin_schema,
        read_log_schema,
    )

    log = str(tmp_path / "log")
    s1 = StructType.fromDDL(
        "_change_type string, k bigint, v bigint, _commit_version bigint"
    )
    assert _pin_schema(log, s1) == s1
    s_conflict = StructType.fromDDL(
        "_change_type string, k bigint, v string, _commit_version bigint"
    )
    with pytest.raises(ValueError, match="pinned schema"):
        _pin_schema(log, s_conflict)
    # the pin is unchanged by the refused publish
    assert read_log_schema(log) == s1


def test_truncate_published_bounds_log_and_gates_vacuum(spark, tmp_path):
    """Retention lifecycle: N published versions -> truncate deletes
    exactly the sub-horizon files and advances the replay horizon;
    vacuum_tombstones with a legal floor (<= horizon) reclaims, an
    illegal floor (> horizon) raises BEFORE touching the replica; and
    redelivery from the retained log (fresh checkpoint) still
    converges."""
    from etl_8million_data__spark.operators.cdc_log import (
        changes_stream,
        publish_changes,
        replay_horizon,
        truncate_published,
    )
    from etl_8million_data__spark.operators.diff import stream_apply_changes

    base = {k: k * 10 for k in range(20)}
    s2 = {**{k: v + 1 for k, v in base.items() if k % 2 == 0},
          **{k: v for k, v in base.items() if k % 2 == 1}}
    del s2[5]  # delete k=5 @ v2
    s3 = dict(s2)
    s3[0] = 7000  # update @ v3
    s4 = dict(s3)
    s4[9] = 999  # update @ v4
    src, v1 = _committed_source(spark, tmp_path, [base, s2, s3, s4])

    log = str(tmp_path / "log")
    assert publish_changes(spark, src, log, ["k"], from_version=v1) == 3
    assert replay_horizon(log) == v1 + 1
    data_dir = os.path.join(log, "data")

    def log_versions():
        return sorted(
            {int(f[1:13]) for f in os.listdir(data_dir)
             if f.startswith("v") and f.endswith(".parquet")}
        )

    assert log_versions() == [v1 + 1, v1 + 2, v1 + 3]

    replica = str(tmp_path / "replica")
    write_replica(_frame(spark, base), replica, "k", version=v1)
    q = stream_apply_changes(
        changes_stream(spark, log), replica, "k", str(tmp_path / "ck1")
    )
    q.awaitTermination(120)
    assert {
        r["k"]: r["v"] for r in read_replica(spark, replica).collect()
    } == s4

    # k=5's delete tombstone sits at _v = v1+1; vacuuming it away needs
    # a floor ABOVE that version — illegal while the log can still
    # redeliver v1+1, legal after retention truncates it
    floor = v1 + 2
    with pytest.raises(ValueError, match="replay horizon"):
        vacuum_tombstones(spark, replica, below_version=floor, log_dir=log)
    # tombstone untouched by the refused vacuum
    assert read_store_pinned(spark, replica).filter(
        F.col("_gone") == 1
    ).count() == 1

    # truncate below the floor: sub-horizon files gone, horizon moved
    deleted = truncate_published(log, below_version=floor)
    assert deleted >= 1
    assert replay_horizon(log) == floor
    assert log_versions() == [v1 + 2, v1 + 3]
    # monotonic: re-truncating at or below the horizon is a no-op
    assert truncate_published(log, below_version=floor) == 0
    # a floor above the published head raises
    with pytest.raises(ValueError, match="truncate"):
        truncate_published(log, below_version=v1 + 99)

    # now the vacuum floor is legal and reclaims exactly the tombstone
    assert vacuum_tombstones(
        spark, replica, below_version=floor, log_dir=log
    ) == 1
    assert read_store_pinned(spark, replica).filter(
        F.col("_gone") == 1
    ).count() == 0

    # redelivery from the RETAINED log (fresh checkpoint) converges:
    # versions >= horizon re-apply as no-ops (max-version-wins), and
    # the truncated v2 — the only version whose redelivery could have
    # resurrected k=5 — can no longer arrive
    q = stream_apply_changes(
        changes_stream(spark, log), replica, "k", str(tmp_path / "ck2")
    )
    q.awaitTermination(120)
    assert {
        r["k"]: r["v"] for r in read_replica(spark, replica).collect()
    } == s4
    assert checksums_fsck(spark, replica).first()["n_mismatched"] == 0


# ------------------------------------------------------------ rebucket


def test_rebucket_store_reads_as_plain_parquet(spark, tmp_path):
    """A migrated store is a plain Parquet directory at its path: a
    reader that knows nothing of the store's doors gets every row."""
    ref = {k: k * 10 for k in range(50)}
    pa = str(tmp_path / "t")
    write_bucketed(_frame(spark, ref), pa, "k", checksums=True)
    rebucket(spark, pa, "k", 32)
    got = spark.read.parquet(pa).select("k", "v").collect()
    assert sorted(tuple(r) for r in got) == sorted(ref.items())


def test_rebucket_flip_then_doors_and_second_migration(spark, tmp_path):
    """After a migration every door — append, CDC apply, fsck,
    compaction census, advisor — must operate on the store through the
    unchanged public path, and a SECOND migration must keep its
    content and summary."""
    ref = {k: k * 10 for k in range(50)}
    pa = str(tmp_path / "t")
    write_bucketed(_frame(spark, ref), pa, "k", checksums=True)
    rebucket(spark, pa, "k", 32)

    # doors through the public path
    batch = {100: 1000, 101: 1010}
    append_bucketed(_frame(spark, batch), pa, "k")
    ref.update(batch)
    assert {
        r["k"]: r["v"] for r in read_store_pinned(spark, pa).collect()
    } == ref
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    assert store_bytes(pa) > 0
    adv = advise_compaction(pa, max_files=1)
    assert adv["n_debt_buckets"] >= 1  # the append landed second files
    assert compact_buckets(spark, pa, "kb", max_files=1) == adv[
        "n_debt_buckets"
    ]
    assert advise_compaction(pa, max_files=1)["action"] == "keep"

    # second migration
    rebucket(spark, pa, "k", 64)
    assert {
        r["k"]: r["v"] for r in read_store_pinned(spark, pa).collect()
    } == ref
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0


def test_log_fsck_finds_plants_and_repair_never_touches_data(
    spark, tmp_path
):
    """fsck_log counts each planted fault exactly once; repair_log
    sweeps the stage and deletes the sub-horizon file while surfacing
    (never deleting) legacy/pin findings — and a consumer draining the
    PLANTED log leaves the replica untouched, because planted frames
    carry _commit_version=0 and the versioned apply fences them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_8million_data__spark.operators.cdc_log import (
        changes_stream,
        fsck_log,
        publish_changes,
        repair_log,
        truncate_published,
    )
    from etl_8million_data__spark.operators.diff import stream_apply_changes

    base = {k: k * 10 for k in range(20)}
    s2 = {**base, 3: 31}
    s3 = {**s2, 6: 61}
    src, v1 = _committed_source(spark, tmp_path, [base, s2, s3])
    log = str(tmp_path / "log")
    assert publish_changes(spark, src, log, ["k"], from_version=v1) == 2

    replica = str(tmp_path / "replica")
    write_replica(_frame(spark, base), replica, "k", version=v1)
    q = stream_apply_changes(
        changes_stream(spark, log), replica, "k", str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    assert {
        r["k"]: r["v"] for r in read_replica(spark, replica).collect()
    } == s3

    # retention after the drain; the healthy truncated log audits clean
    truncate_published(log, below_version=v1 + 2)
    assert fsck_log(log)["consistent"] == 1

    data_dir = os.path.join(log, "data")
    cols = {"_change_type": ["update"], "k": [1], "v": [1],
            "_commit_version": [0]}
    os.makedirs(os.path.join(log, "_stage_v999"))
    pq.write_table(
        pa.table(cols),
        os.path.join(data_dir, f"v{v1 + 1:012d}-planted-0.parquet"),
    )
    pq.write_table(pa.table(cols), os.path.join(data_dir, "old-style.parquet"))
    pq.write_table(
        pa.table({**cols, "rogue": [7]}),
        os.path.join(data_dir, f"v{v1 + 2:012d}-rogue-9.parquet"),
    )
    dirty = fsck_log(log)
    assert dirty == {
        "n_orphan_stages": 1,
        "n_subhorizon_files": 1,
        "n_unversioned_files": 1,
        "n_pin_violations": 1,
        "consistent": 0,
    }

    # draining the planted log leaves the replica untouched (fenced)
    q = stream_apply_changes(
        changes_stream(spark, log), replica, "k", str(tmp_path / "ck2")
    )
    q.awaitTermination(120)
    assert {
        r["k"]: r["v"] for r in read_replica(spark, replica).collect()
    } == s3

    rep = repair_log(log)
    assert rep == {"n_stages_swept": 1, "n_files_deleted": 1}
    after = fsck_log(log)
    assert after["n_orphan_stages"] == 0
    assert after["n_subhorizon_files"] == 0
    # surfaced, never auto-deleted
    assert after["n_unversioned_files"] == 1
    assert after["n_pin_violations"] == 1


def test_recommend_nb_byte_arm_parity_with_duckdb(spark):
    """The advisor ladder's bit-for-bit claim, asserted over a grid
    that exercises all three arms and their boundaries: churn arm
    (reads under 1/16), rows cap (>= 64 rows/bucket), and the round-14
    byte floor (<= 256 MiB/bucket, overriding the cap) — including
    exact multiples of the byte budget, one-byte-over, the 100 TB
    projection, and beyond-ladder values. Spark's recommend_nb and the
    DuckDB rendering of sql_recommend_nb must agree on every cell."""
    import duckdb

    from etl_8million_data__spark.operators.bucket_store import (
        NB_LADDER,
        TARGET_BUCKET_BYTES,
        recommend_nb,
        sql_recommend_nb,
    )

    churns = [0, 1, 40, 1000, 10**6, 10**9]
    rowss = [10, 1024, 200_000, 400_000_000_000]
    bytess = [
        0,
        1,
        TARGET_BUCKET_BYTES,
        TARGET_BUCKET_BYTES + 1,
        16 * TARGET_BUCKET_BYTES,
        16 * TARGET_BUCKET_BYTES + 1,
        100_000_000_000_000,  # 100 TB
        NB_LADDER[-1] * TARGET_BUCKET_BYTES,  # ladder ceiling exactly
        NB_LADDER[-1] * TARGET_BUCKET_BYTES + 1,  # beyond the ladder
    ]
    grid = [
        (c, r, b) for c in churns for r in rowss for b in bytess
    ]
    df = spark.createDataFrame(grid, "c long, r long, b long")
    got = {
        (x["c"], x["r"], x["b"]): x["nb"]
        for x in df.select(
            "c", "r", "b",
            recommend_nb(
                F.col("c"), F.col("r"), bytes_col=F.col("b")
            ).alias("nb"),
        ).collect()
    }
    rec = sql_recommend_nb("c", "r", bytes_sql="b")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE g (c BIGINT, r BIGINT, b BIGINT)"
    )
    con.executemany("INSERT INTO g VALUES (?, ?, ?)", grid)
    want = {
        (c, r, b): nb
        for c, r, b, nb in con.execute(
            f"SELECT c, r, b, {rec} FROM g"
        ).fetchall()
    }
    assert got == want
    # the byte floor binds where it should: the 100 TB row overrides
    # any rows cap, and beyond-ladder bytes clamp to the top power
    assert got[(40, 400_000_000_000, 100_000_000_000_000)] == 524288
    assert got[(0, 10, NB_LADDER[-1] * TARGET_BUCKET_BYTES + 1)] == (
        NB_LADDER[-1]
    )
    # without bytes the legacy two-arm ladder is unchanged
    legacy = (
        spark.createDataFrame([(40, 200_000)], "c long, r long")
        .select(recommend_nb(F.col("c"), F.col("r")).alias("nb"))
        .first()["nb"]
    )
    assert legacy == 1024


def test_evolve_then_rebucket_carries_the_evolved_schema(spark, tmp_path):
    """Interplay: a store evolved via the metadata-only door then
    migrated to a new modulus must stage a generation whose pinned
    schema still carries the evolved column (legacy rows materialize
    as NULLs through the migration's pinned read), pass the equality
    gate, and keep serving evolved appends afterward."""
    from etl_8million_data__spark.operators.bucket_store import (
        evolve_add_columns,
        read_pinned_schema,
        read_nb,
    )

    ref = {k: k * 10 for k in range(40)}
    pa = str(tmp_path / "t")
    write_bucketed(_frame(spark, ref), pa, "k", checksums=True)
    evolve_add_columns(spark, pa, "tag string", compare=True)

    rebucket(spark, pa, "k", 64)
    assert read_nb(pa) == 64
    pinned = read_pinned_schema(pa)
    assert "tag" in {f.name for f in pinned.fields}
    got = {
        r["k"]: (r["v"], r["tag"])
        for r in read_store_pinned(spark, pa).collect()
    }
    assert got == {k: (v, None) for k, v in ref.items()}
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0

    # evolved appends keep working at the new modulus
    b = spark.createDataFrame([(100, 1000, "hot")], "k long, v long, tag string")
    append_bucketed(b, pa, "k")
    got = {
        r["k"]: (r["v"], r["tag"])
        for r in read_store_pinned(spark, pa).collect()
    }
    assert got[100] == (1000, "hot") and got[7] == (70, None)
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0


def test_publish_retain_last_folds_retention_into_the_producer(
    spark, tmp_path
):
    """publish_changes(retain_last=N) keeps the newest N versions after
    each publish — the producer bounds its own log; an already-narrow
    window is a no-op, and retain_last < 1 refuses."""
    from etl_8million_data__spark.operators.cdc_log import (
        publish_changes,
        replay_horizon,
    )

    base = {k: k * 10 for k in range(10)}
    states = [base]
    for i in range(1, 6):
        states.append({**states[-1], i: i * 1000})
    src, v1 = _committed_source(spark, tmp_path, states)
    log = str(tmp_path / "log")
    assert publish_changes(
        spark, src, log, ["k"], from_version=v1, retain_last=2
    ) == 5
    assert replay_horizon(log) == v1 + 4  # newest 2 of v1+1..v1+5 kept
    data = os.path.join(log, "data")
    vs = sorted(
        {int(f[1:13]) for f in os.listdir(data) if f.endswith(".parquet")}
    )
    assert vs == [v1 + 4, v1 + 5]

    # nothing new to publish: the window is already within bounds
    assert publish_changes(spark, src, log, ["k"], retain_last=3) == 0
    assert replay_horizon(log) == v1 + 4

    with pytest.raises(ValueError, match="retain_last"):
        publish_changes(spark, src, log, ["k"], retain_last=0)


def test_one_log_fans_out_to_independent_replicas(spark, tmp_path):
    """One published log, many consumers: two replicas with independent
    checkpoints drain the same log to the same converged state, vacuum
    with DIFFERENT (legal) floors independently, and a third replica
    seeded mid-history converges from the same files — the log is a
    shared immutable transport, consumers own only their checkpoint
    and tombstone windows."""
    from etl_8million_data__spark.operators.cdc_log import (
        changes_stream,
        publish_changes,
        truncate_published,
    )
    from etl_8million_data__spark.operators.diff import stream_apply_changes

    base = {k: k * 10 for k in range(20)}
    s2 = {**base, 2: 21}
    del s2[5]
    s3 = {**s2, 7: 71}
    src, v1 = _committed_source(spark, tmp_path, [base, s2, s3])
    log = str(tmp_path / "log")
    assert publish_changes(spark, src, log, ["k"], from_version=v1) == 2

    def drain(replica, ck):
        q = stream_apply_changes(
            changes_stream(spark, log), replica, "k", str(tmp_path / ck)
        )
        q.awaitTermination(120)
        return {
            r["k"]: r["v"] for r in read_replica(spark, replica).collect()
        }

    ra, rb = str(tmp_path / "ra"), str(tmp_path / "rb")
    write_replica(_frame(spark, base), ra, "k", version=v1)
    write_replica(_frame(spark, base), rb, "k", version=v1)
    assert drain(ra, "cka") == s3
    assert drain(rb, "ckb") == s3

    # retention on the shared log; each replica vacuums its own floor
    truncate_published(log, below_version=v1 + 2)
    assert vacuum_tombstones(spark, ra, below_version=v1 + 2, log_dir=log) == 1
    # B keeps its tombstone (narrower floor) — both still correct
    assert vacuum_tombstones(spark, rb, below_version=v1 + 1, log_dir=log) == 0
    assert {
        r["k"]: r["v"] for r in read_replica(spark, ra).collect()
    } == s3
    assert {
        r["k"]: r["v"] for r in read_replica(spark, rb).collect()
    } == s3

    # a third consumer seeded mid-history (at the horizon's base state)
    # converges from the retained files alone
    rc = str(tmp_path / "rc")
    write_replica(_frame(spark, s2), rc, "k", version=v1 + 1)
    assert drain(rc, "ckc") == s3
    for r in (ra, rb, rc):
        assert checksums_fsck(spark, r).first()["n_mismatched"] == 0


def test_repair_replica_heals_drift_through_the_versioned_door(
    spark, tmp_path
):
    """The audit's missing half: a replica drifted by rogue
    high-version changes (wrong value, bogus extra key, wrongful
    delete) heals against the expected table WITHOUT reseeding —
    phase 1 proves clean buckets equal, phase 2 repairs only the
    drifted ones via a synthetic change frame stamped past the drift,
    the wrongly-tombstoned key resurrects, and the fence still
    rejects genuinely stale redelivery afterward."""
    from etl_8million_data__spark.operators.diff import repair_replica

    base = {k: k * 10 for k in range(40)}
    pa = str(tmp_path / "replica")
    write_replica(_frame(spark, base), pa, "k", version=1)
    legit = spark.createDataFrame(
        [("update", 3, 31, 2)],
        "_change_type string, k long, v long, _commit_version long",
    )
    assert apply_changes_versioned(spark, pa, legit, "k") == 1
    want = {**base, 3: 31}

    # DRIFT at a rogue high version: wrong value, phantom key, wrongful
    # delete (leaves a tombstone the repair must overcome)
    rogue = spark.createDataFrame(
        [("update", 7, 9999, 50), ("insert", 777, 1, 50),
         ("delete", 11, 0, 50)],
        "_change_type string, k long, v long, _commit_version long",
    )
    assert apply_changes_versioned(spark, pa, rogue, "k") == 3
    expected = str(tmp_path / "expected")
    write_bucketed(_frame(spark, want), expected, "k", checksums=True)

    assert repair_replica(spark, pa, expected, "k") == 3
    got = {r["k"]: r["v"] for r in read_replica(spark, pa).collect()}
    assert got == want
    assert checksums_fsck(spark, pa).first()["n_mismatched"] == 0
    # idempotent: a clean replica repairs zero rows (phase 1 short-
    # circuits — no differing buckets)
    assert repair_replica(spark, pa, expected, "k") == 0
    # the fence survives the repair: a redelivered pre-repair change
    # (any version <= the repair stamp) lands nothing
    assert apply_changes_versioned(spark, pa, rogue, "k") == 0
    assert {
        r["k"]: r["v"] for r in read_replica(spark, pa).collect()
    } == want
