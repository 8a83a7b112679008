"""Crash safety of the one commit door (``maintenance.swap_in``).

Each case first counts the ``os.rename``/``os.replace``/``shutil.rmtree``
calls of a clean run, then for every k up to that count makes the k-th
call raise, as a crash there would. After the crash a rerun of the same
operation must give the clean run's rows and leave no staging,
swapped-out or commit-record tree behind."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.bucket_store import read_store
from etl_8million_data__spark.operators.forget import forget_partitioned
from etl_8million_data__spark.operators.partitioning import id_bucket_py
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


def _sweep(monkeypatch, tmp_path, setup, op, read, peek=True):
    """Run ``op`` on a fresh ``setup`` clean, then crashed at every k;
    returns the clean rows, the rows before ``op``, and (with ``peek``)
    what a reader saw right after each crash."""
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
