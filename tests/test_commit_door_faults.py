"""Crash safety of the one commit record (``maintenance.swap_in`` and
its append form ``append_in``).

Each case first counts the ``os.rename``/``os.replace``/``shutil.rmtree``
calls of a clean run, then for every k up to that count makes the k-th
call raise, as a crash there would. After the crash a rerun of the same
operation must give the clean run's rows and leave no staging,
swapped-out or commit-record tree behind. For the ``kb`` stores the
checksum summary must commit with its rows: right after the crash the
summarized diff agrees with the full scan, and the summary audits
clean before and after the rerun. A store is created in one commit:
its ``_nb`` marker and schema pin land with its first rows."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pyspark.errors import StreamingQueryException

from etl_8million_data__spark.operators.bucket_store import (
    bucket_file_counts,
    compact_buckets,
    read_nb,
    read_pinned_schema,
    read_store,
    read_store_pinned,
    rebucket,
    store_exists,
    try_read_nb,
)
from etl_8million_data__spark.operators.diff import (
    append_bucketed,
    checksums_fsck,
    delete_keys_bucketed,
    diff_tables,
    read_checksums,
    stream_append_bucketed,
    write_bucketed,
)
from etl_8million_data__spark.operators.forget import forget_partitioned
from etl_8million_data__spark.operators.golden import golden_init, read_golden
from etl_8million_data__spark.operators.partitioning import id_bucket_py
from etl_8million_data__spark.operators.scd2 import read_intervals, scd2_init
from etl_8million_data__spark.operators.upsert import upsert_parquet
from etl_8million_data__spark.pipelines import run as run_mod
from etl_8million_data__spark.pipelines.run import run_all
from etl_8million_data__spark.sources.pyds import _fetch_one

SCHEMA = "id long, p int, v string, ts long"


class Crash(Exception):
    pass


class Faults:
    """Counts the door's file-system calls; the ``k``-th one raises."""

    def __init__(self, monkeypatch, k: int | None = None):
        self.k, self.n = k, 0
        for mod, name in ((os, "rename"), (os, "replace"), (shutil, "rmtree")):
            monkeypatch.setattr(mod, name, self._wrap(getattr(mod, name)))

    def _wrap(self, real):
        def call(*args, **kwargs):
            self.n += 1
            if self.n == self.k:
                raise Crash(f"crash at call {self.n}: {real.__name__}{args[:2]}")
            return real(*args, **kwargs)

        return call


def _leftovers(root) -> list[str]:
    return [
        os.path.join(d, e)
        for d, dirs, files in os.walk(root)
        for e in dirs + files
        if any(t in e for t in (".__tmp__", ".__old__", ".__commit__"))
    ]


def _rows(df) -> list[tuple]:
    # load and update times differ between runs; the rows must not
    df = df.drop("_loaded_at", "loaded_at", "updated_at")
    return sorted(tuple(r) for r in df.collect())


def _sweep(monkeypatch, tmp_path, setup, op, read, peek=True, check=None):
    """Run ``op`` on a fresh ``setup`` clean, then crashed at every k;
    returns the clean rows, the rows before ``op``, and (with ``peek``)
    what a reader saw right after each crash. ``check(d)`` runs right
    after each crash, before any other call."""
    clean_dir = tmp_path / "clean"
    setup(clean_dir)
    before = read(clean_dir)
    with monkeypatch.context() as m:
        faults = Faults(m)
        op(clean_dir)
    clean = read(clean_dir)
    assert faults.n > 0 and clean != before
    seen = []
    for k in range(1, faults.n + 1):
        d = tmp_path / f"k{k}"
        setup(d)
        with monkeypatch.context() as m:
            Faults(m, k)
            with pytest.raises(Crash):
                op(d)
        if check:
            check(d)
        if peek:
            seen.append(read(d))
        op(d)
        assert read(d) == clean, f"crash at call {k}"
        assert not _leftovers(d), (k, _leftovers(d))
    return clean, before, seen


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_whole_table_upsert_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    def setup(d):
        _frame(spark, [(1, 0, "a", 1), (2, 0, "b", 1)]).write.parquet(str(d / "t"))

    def op(d):
        upd = _frame(spark, [(2, 0, "b2", 2), (3, 0, "c", 2)])
        upsert_parquet(spark, upd, str(d / "t"), ["id"], "ts")

    def read(d):
        return _rows(read_store(spark, str(d / "t"), SCHEMA))

    clean, before, seen = _sweep(monkeypatch, tmp_path, setup, op, read)
    assert [r[2] for r in clean] == ["a", "b2", "c"]
    # recovery on the next read shows the old table or the new one
    assert all(s in (before, clean) for s in seen)


def test_partition_upsert_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    def setup(d):
        rows = [(i, i % 3, f"v{i}", 1) for i in range(9)]
        _frame(spark, rows).write.partitionBy("p").parquet(str(d / "t"))

    def op(d):
        # touches p=0 and p=1, adds p=3; p=2 is untouched
        upd = _frame(spark, [(0, 0, "new", 2), (4, 1, "new", 2), (9, 3, "new", 2)])
        upsert_parquet(spark, upd, str(d / "t"), ["id"], "ts", partition_by=["p"])

    def read(d):
        return _rows(read_store(spark, str(d / "t"), SCHEMA))

    clean, _, _ = _sweep(monkeypatch, tmp_path, setup, op, read)
    assert len(clean) == 10
    assert {r[0] for r in clean if "new" in r} == {0, 4, 9}


def test_forget_that_empties_a_partition_survives_a_crash_at_every_step(
    spark, tmp_path, monkeypatch
):
    def setup(d):
        rows = [(1, 0, "a", 1), (2, 0, "b", 1), (3, 1, "c", 1), (4, 1, "d", 1)]
        _frame(spark, rows).write.partitionBy("p").parquet(str(d / "t"))

    def op(d):
        ids = spark.createDataFrame([(1,), (2,), (3,)], "id long")
        forget_partitioned(spark, str(d / "t"), ids, "id", ["p"], SCHEMA)

    def read(d):
        return _rows(read_store(spark, str(d / "t"), SCHEMA))

    clean, before, seen = _sweep(monkeypatch, tmp_path, setup, op, read)
    assert [r[0] for r in clean] == [4]
    assert not os.path.exists(tmp_path / "clean" / "t" / "p=0")
    # once the forget is recorded no read brings a forgotten row back
    assert all(s in (before, clean) for s in seen)


def test_run_all_delta_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    # the new symbol shares AAA's fact partitions, so the delta
    # rewrites partitions that hold rows of an older symbol
    twin = next(
        s for s in (f"Z{i:03d}" for i in range(1000))
        if id_bucket_py(s, 64) == id_bucket_py("AAA", 64)
    )
    cold = tmp_path / "cold"
    (tmp_path / "base.csv").write_text("symbol\nAAA\nBBB\n")
    (tmp_path / "delta.csv").write_text(f"symbol\nAAA\nBBB\n{twin}\n")
    run_all(spark, str(tmp_path / "base.csv"), str(cold / "wh"), _fetch_one)

    def setup(d):
        shutil.copytree(cold, d)

    def op(d):
        run_all(spark, str(tmp_path / "delta.csv"), str(d / "wh"), _fetch_one)

    def read(d):
        wh = d / "wh"
        return (
            _rows(spark.read.parquet(str(wh / "financials"))),
            _rows(spark.read.parquet(str(wh / "summary"))),
            _rows(spark.read.option("header", True).csv(str(wh / "yahoo_finance_csv"))),
        )

    # the sinks are read without recovery, so only after the rerun
    clean, _, _ = _sweep(monkeypatch, tmp_path, setup, op, read, peek=False)
    assert {r[0] for r in clean[1]} == {"AAA", "BBB", twin}


def test_failed_quote_write_keeps_the_previous_snapshot(spark, tmp_path, monkeypatch):
    csv = tmp_path / "universe.csv"
    csv.write_text("symbol\nAAA\nBBB\n")
    wh = str(tmp_path / "wh")
    run_all(spark, str(csv), wh, _fetch_one)
    quotes = os.path.join(wh, "yahoo_finance_csv")

    def read():
        return _rows(spark.read.option("header", True).csv(quotes))

    before = read()
    assert len(before) == 2
    # the write job itself fails: no symbol is null
    monkeypatch.setattr(
        run_mod,
        "quote_snapshot",
        lambda raw: raw.select(
            F.assert_true(F.col("symbol").isNull()).cast("string").alias("x")
        ),
    )
    with pytest.raises(Exception, match="symbol"):
        run_all(spark, str(csv), wh, _fetch_one)
    assert read() == before
    assert not _leftovers(tmp_path)


# ------------------------------------------------ the kb stores' doors

KV = "k long, v long"


def _kv(spark, rows: dict):
    return spark.createDataFrame(sorted(rows.items()), KV)


def _kv_rows(spark, t: str) -> list[tuple]:
    if not store_exists(t):
        return []
    return sorted(tuple(r) for r in read_store_pinned(spark, t).select("k", "v").collect())


def _audited(spark, t: str) -> tuple[list[tuple], int]:
    """The store's rows and its summary audit's mismatch count."""
    return _kv_rows(spark, t), checksums_fsck(spark, t).first()["n_mismatched"]


def _diff_agrees(spark, t: str, ref: str) -> None:
    """The summary is present and the diff read through it agrees with
    the full-scan diff."""
    assert read_checksums(spark, t)[0] is not None, "summary lost"

    def diff(use_summary):
        d = diff_tables(spark, t, ref, ["k"], ["v"], use_summary=use_summary)
        return sorted(tuple(r) for r in d.collect())

    assert diff(True) == diff(False)


BASE = {k: k * 10 for k in range(30)}
BATCH = {100: 1000, 101: 1010}


def _template(spark, tmp_path, ref_rows, appends=()):
    """A summarized store of BASE (plus ``appends``, one door call
    each) to copy per case, and a summarized reference table of
    ``ref_rows`` to diff against."""
    template = str(tmp_path / "template")
    write_bucketed(_kv(spark, BASE), template, "k", checksums=True)
    for rows in appends:
        append_bucketed(_kv(spark, rows), template, "k")
    ref = str(tmp_path / "ref")
    write_bucketed(_kv(spark, ref_rows), ref, "k", checksums=True)
    return template, ref


def _append_once(spark, t: str, rows: dict) -> None:
    """Rerun of an append: the commit is all or nothing, so append the
    batch unless it landed."""
    first = min(rows)
    if not any(k == first for k, _ in _kv_rows(spark, t)):
        append_bucketed(_kv(spark, rows), t, "k")


def test_summarized_append_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    template, ref = _template(spark, tmp_path, {**BASE, **BATCH})

    def setup(d):
        shutil.copytree(template, d / "t")

    clean, before, seen = _sweep(
        monkeypatch,
        tmp_path,
        setup,
        lambda d: _append_once(spark, str(d / "t"), BATCH),
        lambda d: _audited(spark, str(d / "t")),
        check=lambda d: _diff_agrees(spark, str(d / "t"), ref),
    )
    assert clean == (sorted({**BASE, **BATCH}.items()), 0)
    assert all(s in (before, clean) for s in seen)


def test_stream_append_batch_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    template, ref = _template(spark, tmp_path, {**BASE, **BATCH})
    src = str(tmp_path / "src")
    _kv(spark, BATCH).write.parquet(src)

    def setup(d):
        shutil.copytree(template, d / "t")

    def op(d):
        stream = spark.readStream.schema(KV).parquet(src)
        q = stream_append_bucketed(stream, str(d / "t"), "k", str(d / "ckpt"))
        try:
            q.awaitTermination()
        except StreamingQueryException as e:
            if "crash at call" in str(e):
                raise Crash(str(e)) from e
            raise

    clean, before, seen = _sweep(
        monkeypatch,
        tmp_path,
        setup,
        op,
        lambda d: _audited(spark, str(d / "t")),
        check=lambda d: _diff_agrees(spark, str(d / "t"), ref),
    )
    assert clean == (sorted({**BASE, **BATCH}.items()), 0)
    assert all(s in (before, clean) for s in seen)


def test_keyed_delete_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    victims = [0, 7]
    template, ref = _template(
        spark, tmp_path, {k: v for k, v in BASE.items() if k not in victims}
    )

    def setup(d):
        shutil.copytree(template, d / "t")

    def op(d):
        ids = spark.createDataFrame([(k,) for k in victims], "k long")
        delete_keys_bucketed(spark, str(d / "t"), ids, "k")

    clean, before, seen = _sweep(
        monkeypatch,
        tmp_path,
        setup,
        op,
        lambda d: _audited(spark, str(d / "t")),
        check=lambda d: _diff_agrees(spark, str(d / "t"), ref),
    )
    assert [k for k, _ in clean[0]] == [k for k in sorted(BASE) if k not in victims]
    assert clean[1] == 0
    assert all(s in (before, clean) for s in seen)


def test_bucket_compaction_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    more = {102: 1020, 103: 1030}
    template, ref = _template(
        spark, tmp_path, {**BASE, **BATCH, **more}, appends=(BATCH, more)
    )

    def setup(d):
        shutil.copytree(template, d / "t")

    def read(d):
        t = str(d / "t")
        return *_audited(spark, t), sorted(bucket_file_counts(t, "kb").items())

    clean, before, seen = _sweep(
        monkeypatch,
        tmp_path,
        setup,
        lambda d: compact_buckets(spark, str(d / "t"), "kb"),
        read,
        check=lambda d: _diff_agrees(spark, str(d / "t"), ref),
    )
    assert clean[:2] == before[:2] and clean[1] == 0
    assert max(n for _, n in clean[2]) == 1
    assert all(s in (before, clean) for s in seen)


def test_rebucket_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    template, _ = _template(spark, tmp_path, BASE)

    def setup(d):
        shutil.copytree(template, d / "t")

    def read(d):
        t = str(d / "t")
        return *_audited(spark, t), read_nb(t)

    clean, before, seen = _sweep(
        monkeypatch,
        tmp_path,
        setup,
        lambda d: rebucket(spark, str(d / "t"), "k", 64),
        read,
    )
    assert before == (sorted(BASE.items()), 0, 16)
    assert clean == (sorted(BASE.items()), 0, 64)
    assert all(s in (before, clean) for s in seen)


def test_rebucket_content_mismatch_leaves_the_store_untouched(spark, tmp_path, monkeypatch):
    """The equality gate runs inside the commit block: a staged write
    that lost a row raises, and neither the store nor its summary
    changes."""
    t = str(tmp_path / "t")
    write_bucketed(_kv(spark, BASE), t, "k", checksums=True)
    frame = type(spark.range(1))
    real = frame.repartition

    def lossy(self, *args, **kwargs):
        return real(self, *args, **kwargs).filter(F.col("k") != 0)

    with monkeypatch.context() as m:
        m.setattr(frame, "repartition", lossy)
        with pytest.raises(ValueError, match="content mismatch"):
            rebucket(spark, t, "k", 64)
    assert (*_audited(spark, t), read_nb(t)) == (sorted(BASE.items()), 0, 16)
    assert not _leftovers(tmp_path)


def _pins(t: str) -> tuple[int | None, list[str] | None]:
    """The store's ``_nb`` marker and pinned column names."""
    pinned = read_pinned_schema(t)
    return try_read_nb(t), pinned and pinned.fieldNames()


def test_seed_over_a_store_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    """``write_bucketed(..., checksums=True)`` replaces a summarized
    store with new rows at a new modulus: rows, ``_nb``, pin and
    summary commit together."""
    template = str(tmp_path / "template")
    write_bucketed(_kv(spark, BASE), template, "k", checksums=True)
    new = {k: k * 7 for k in range(20, 50)}

    def setup(d):
        shutil.copytree(template, d / "t")

    def read(d):
        t = str(d / "t")
        return *_audited(spark, t), *_pins(t)

    clean, before, seen = _sweep(
        monkeypatch,
        tmp_path,
        setup,
        lambda d: write_bucketed(_kv(spark, new), str(d / "t"), "k", 32, checksums=True),
        read,
    )
    assert before == (sorted(BASE.items()), 0, 16, ["k", "v", "kb"])
    assert clean == (sorted(new.items()), 0, 32, ["k", "v", "kb"])
    assert all(s in (before, clean) for s in seen)


HIST = "key long, seq long, ts long, attr string"


def test_scd2_init_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    """``scd2_init(keep_log=True)`` over an existing state: the root's
    ``_nb``, both tables and their pins land in one commit."""
    hist = [(k, s, 100 * s + k, "AB"[k * s % 2]) for k in range(12) for s in range(3)]
    template = str(tmp_path / "template")
    scd2_init(spark.createDataFrame(hist[::3], HIST), template, keep_log=True)

    def setup(d):
        shutil.copytree(template, d / "s")

    def read(d):
        root = str(d / "s")
        log = os.path.join(root, "log")
        return (
            _rows(read_intervals(spark, root)),
            _rows(read_store_pinned(spark, log).drop("kb")),
            read_nb(root),
            _pins(os.path.join(root, "intervals"))[1],
            _pins(log)[1],
        )

    clean, before, seen = _sweep(
        monkeypatch,
        tmp_path,
        setup,
        lambda d: scd2_init(spark.createDataFrame(hist, HIST), str(d / "s"), 32, keep_log=True),
        read,
    )
    assert clean[1] == sorted(hist) and clean[2] == 32 and before[2] == 16
    assert clean[3][-1] == clean[4][-1] == "kb"
    assert all(s in (before, clean) for s in seen)


def test_golden_init_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    """``golden_init`` over an existing state: the root's ``_nb`` and
    the four tables with their pins land in one commit."""
    records = spark.createDataFrame(
        [(r, r, f"n{r}", r * 10, "s", r % 2) for r in range(8)],
        "rid bigint, orig_key bigint, name string, bal bigint, seg string, src int",
    )

    def edges(pairs):
        return spark.createDataFrame(pairs, "a_key bigint, b_key bigint")

    template = str(tmp_path / "template")
    golden_init(spark, template, records, edges([(0, 1)]))
    tables = ("members", "edges", "golden", "ridmap")

    def setup(d):
        shutil.copytree(template, d / "g")

    def read(d):
        root = str(d / "g")
        return (
            _rows(read_golden(spark, root)),
            _rows(read_store_pinned(spark, os.path.join(root, "edges"))),
            read_nb(root),
            [_pins(os.path.join(root, t))[1] for t in tables],
        )

    clean, before, seen = _sweep(
        monkeypatch,
        tmp_path,
        setup,
        lambda d: golden_init(spark, str(d / "g"), records, edges([(2, 3), (3, 4)]), 32),
        read,
    )
    assert len(before[0]) == 7 and len(clean[0]) == 6
    assert clean[2] == 32 and all(p[-1] in ("cb", "rb") for p in clean[3])
    assert all(s in (before, clean) for s in seen)


def test_first_append_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    def setup(d):
        d.mkdir()

    def check(d):
        t = str(d / "t")
        if store_exists(t):
            ref = str(tmp_path / "ref")
            full = diff_tables(spark, t, ref, ["k"], ["v"], use_summary=False)
            assert sorted(map(tuple, diff_tables(spark, t, ref, ["k"], ["v"]).collect())) == (
                sorted(map(tuple, full.collect()))
            )

    write_bucketed(_kv(spark, BATCH), str(tmp_path / "ref"), "k")
    clean, before, seen = _sweep(
        monkeypatch,
        tmp_path,
        setup,
        lambda d: _append_once(spark, str(d / "t"), BATCH),
        lambda d: (_kv_rows(spark, str(d / "t")), *_pins(str(d / "t"))),
        check=check,
    )
    # the store lands with its modulus and schema pin, never without
    assert before == ([], None, None)
    assert clean == (sorted(BATCH.items()), 16, ["k", "v", "kb"])
    assert all(s in (before, clean) for s in seen)
    # the store each crash left behind takes the next append
    for d in sorted(tmp_path.glob("k*")):
        append_bucketed(_kv(spark, {200: 2000}), str(d / "t"), "k")
        assert _kv_rows(spark, str(d / "t")) == sorted({**BATCH, 200: 2000}.items())


def test_crash_between_summary_rows_and_meta_keeps_the_summary(spark, tmp_path, monkeypatch):
    """A crash after an append's new summary rows are written but before
    their ``_meta.json`` is must not cost the store its summary: the
    next append still finds it, the audit is clean and the diff reads
    through it."""
    template, ref = _template(spark, tmp_path, {**BASE, **BATCH, 200: 2000})
    t = str(tmp_path / "t")
    shutil.copytree(template, t)
    real = os.replace

    def replace(src, dst, *args, **kwargs):
        if str(dst).endswith("_meta.json"):
            raise Crash(f"crash before {dst}")
        return real(src, dst, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", replace)
        with pytest.raises(Crash):
            append_bucketed(_kv(spark, BATCH), t, "k")
    _append_once(spark, t, BATCH)
    append_bucketed(_kv(spark, {200: 2000}), t, "k")
    assert _audited(spark, t) == (sorted({**BASE, **BATCH, 200: 2000}.items()), 0)
    _diff_agrees(spark, t, ref)


def test_ann_append_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    """A skip-existing ANN append (``bucket_store.append_new``) over a
    24-vector index: after each crash and its rerun the index holds
    exactly one row per vec_id (the ``index_fsck`` ANN invariant), and
    a reader right after the crash sees the old or the new index."""
    from etl_8million_data__spark.operators.incremental_ann import (
        INDEX_SCHEMA,
        append_vectors,
        build_index,
    )
    from etl_8million_data__spark.operators.index_fsck import fsck_ann_index
    from etl_8million_data__spark.operators.similarity import hyperplane_weights

    w = hyperplane_weights(2, 8)
    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1) + 1) for j in range(8)]).alias(
            "embedding"
        ),
    )

    def setup(d):
        build_index(emb.filter(F.col("vec_id") < 24), str(d / "ann"), w, 2)

    def op(d):
        fresh = emb.filter(F.col("vec_id") >= 16)
        append_vectors(fresh, str(d / "ann"), w, 2, batch_tag="b")

    def read(d):
        idx = read_store(spark, str(d / "ann"), INDEX_SCHEMA)
        return _rows(idx.select("vec_id", "cell", "_batch"))

    clean, before, seen = _sweep(monkeypatch, tmp_path, setup, op, read)
    assert [r[0] for r in clean] == list(range(40))
    assert all(s in (before, clean) for s in seen)
    for k in range(1, len(seen) + 1):
        audit = fsck_ann_index(spark, str(tmp_path / f"k{k}" / "ann")).first()
        assert (audit.n_rows, audit.n_dup_ids) == (40, 0), k
