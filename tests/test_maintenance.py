"""Compaction and clustered-write maintenance operators: prove the
file-count reduction, the value preservation, and — via the parquet
footers — that clustering really produces prunable statistics. Also
the whole-table commit door: a failed or crashed swap loses no rows,
and no other module stages or overwrites partitions by hand."""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.functions.exact import cents
from etl_8million_data__spark.operators.maintenance import (
    clustered_write,
    compact_parquet,
    parquet_data_files,
    swap_in,
)

PKG = Path(__file__).resolve().parents[1] / "etl_8million_data__spark"


def _sig(df):
    return tuple(
        df.agg(
            F.count(F.lit(1)),
            F.sum(cents("l_extendedprice")),
            F.min("l_orderkey"),
            F.max("l_orderkey"),
        ).collect()[0]
    )


def test_compaction_reduces_files_preserves_values(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li")
    src.repartition(64).write.parquet(path)  # simulate streaming small files
    assert len(parquet_data_files(path)) >= 64
    before = _sig(spark.read.parquet(path))
    n_after = compact_parquet(spark, path, target_file_bytes=8 << 20)
    assert n_after < 64
    assert _sig(spark.read.parquet(path)) == before


def test_clustered_write_row_group_stats_disjoint(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_clustered")
    clustered_write(src, path, ["l_orderkey"], n_files=8)
    ranges = []
    for f in parquet_data_files(path):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("l_orderkey")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            ranges.append((st.min, st.max))
    assert len(ranges) >= 8
    ranges.sort()
    # range partitioning + sort => row-group key ranges overlap at most
    # at boundaries: each group's max <= next group's min (ties allowed)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping row-group stats: {(lo1, hi1)} vs {(lo2, hi2)}"
    # and values survive the clustered rewrite
    assert _sig(spark.read.parquet(path)) == _sig(src)


def test_zorder_write_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordering on (l_orderkey, l_extendedprice) must make row-group min/max
    selective on BOTH columns simultaneously — the multi-dimensional
    data-skipping property single-key clustering cannot provide (a
    single-key sort leaves the other column spanning ~the full domain
    in every row group)."""
    from etl_8million_data__spark.operators.maintenance import zorder_write

    src = load_table(spark, sf_dir, "lineitem")

    def avg_coverage(path, col):
        spans, total_lo, total_hi = [], None, None
        for f in parquet_data_files(path):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                spans.append((st.min, st.max))
        total_lo = min(lo for lo, _ in spans)
        total_hi = max(hi for _, hi in spans)
        dom = max(total_hi - total_lo, 1)
        return sum(hi - lo for lo, hi in spans) / (len(spans) * dom), len(spans)

    zpath = str(tmp_path / "li_zorder")
    zorder_write(src, zpath, ["l_orderkey", "l_extendedprice"], n_files=16)
    cpath = str(tmp_path / "li_single")
    clustered_write(src, cpath, ["l_orderkey"], n_files=16)

    zp, nz = avg_coverage(zpath, "l_orderkey")
    zs, _ = avg_coverage(zpath, "l_extendedprice")
    cp, nc = avg_coverage(cpath, "l_orderkey")
    cs, _ = avg_coverage(cpath, "l_extendedprice")
    assert nz >= 16 and nc >= 16
    # single-key clustering: tight on the sorted key, useless on the other
    assert cp < 0.15
    assert cs > 0.6
    # z-order: genuinely selective on BOTH dimensions at once
    assert zp < 0.5 and zs < 0.5, (zp, zs)
    # and values survive the rewrite
    assert _sig(spark.read.parquet(zpath)) == _sig(src)


def _file_state(root):
    return {
        os.path.relpath(os.path.join(d, f), root): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(root)
        for f in files
    }


def test_swap_in_failed_block_leaves_live_table_and_no_staging(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    before = _file_state(path)
    failing = spark.range(5).select(F.assert_true(F.col("id") < 3).alias("id"))
    with pytest.raises(Exception, match="id < 3"):
        with swap_in(path) as tmp:
            failing.write.parquet(tmp)
    assert os.listdir(tmp_path) == ["t"]
    assert _file_state(path) == before


def test_swap_crash_between_renames_loses_no_rows(spark, tmp_path, monkeypatch):
    """A crash between the swap's two renames leaves no table, only
    ``path.__old__*``. The rerun must restore that snapshot and merge
    into it, not rebuild the summary dimension from the fresh rows."""
    from etl_8million_data__spark.pipelines.summary import build_summary_dim

    def raw(*symbols):
        return spark.createDataFrame(
            [(s, json.dumps({"info": {"longName": f"{s} Inc"}})) for s in symbols],
            "symbol string, payload string",
        )

    path = str(tmp_path / "summary")
    build_summary_dim(raw("A", "B"), path)
    rename, calls = os.rename, []

    def crash_on_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("crash between the swap's renames")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second)
    with pytest.raises(OSError, match="crash"):
        build_summary_dim(raw("C"), path)
    monkeypatch.setattr(os, "rename", rename)
    assert not os.path.exists(path)

    build_summary_dim(raw("C"), path)
    assert sorted(r.stock for r in spark.read.parquet(path).collect()) == ["A", "B", "C"]


def test_recovery_refuses_to_guess_between_two_pending_commits(tmp_path):
    from etl_8million_data__spark.operators.maintenance import recover_swap

    path = tmp_path / "t"
    path.mkdir()
    for txn in ("a", "b"):
        (tmp_path / f"t.__commit__{txn}.json").write_text(
            json.dumps({"txn": txn, "parts": [""], "new": [""]})
        )
    with pytest.raises(RuntimeError, match="more than one pending commit"):
        recover_swap(str(path))


def test_failed_record_write_keeps_the_previous_record(tmp_path, monkeypatch):
    """A small record is replaced, never truncated in place: a write
    that fails (here: a full disk) leaves the previous
    ``_applied_batch`` readable."""
    import builtins

    from etl_8million_data__spark.operators.bucket_store import (
        applied_batch,
        mark_applied,
    )

    root = str(tmp_path / "store")
    os.makedirs(root)
    mark_applied(root, 5)
    real_open = builtins.open

    class FullDisk:
        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, text):
            raise OSError(28, "No space left on device")

    def open_on_full_disk(file, mode="r", *args, **kwargs):
        fh = real_open(file, mode, *args, **kwargs)
        return FullDisk(fh) if "w" in mode else fh

    monkeypatch.setattr(builtins, "open", open_on_full_disk)
    with pytest.raises(OSError, match="No space"):
        mark_applied(root, 6)
    monkeypatch.undo()
    assert applied_batch(root) == 5


DOOR_ONLY = {
    "operators/bucket_store.py",
    "operators/diff.py",
    "operators/scd2.py",
    "operators/golden.py",
    "operators/incremental_ann.py",
    "operators/incremental_dedup.py",
    "operators/linkage.py",
    "operators/probe.py",
    "operators/ivm.py",
    "streaming/jobs.py",
    "streaming/tws.py",
}


def test_swap_in_is_the_only_commit_door():
    """Every table rewrite commits through ``maintenance.swap_in`` and
    every small record through ``maintenance.write_durable``: no module
    names Spark's partition overwrite mode, only ``maintenance.py``
    names a staging, swapped-out or commit-record tree, and the only
    ``os.replace`` call is the durable writer's. The checksum summary
    commits with its rows: no module names a ``_pending`` marker. The
    store and index modules (``DOOR_ONLY``) never call a writer's
    ``.mode(...)`` and never name the ``"mergeSchema"`` option (found
    in the syntax tree, so a call split over lines is caught too): they
    write only into a commit's staging directory, so their stores are
    built, appended and created with their ``_nb`` and schema pin
    through the door, and read only with a declared or pinned schema.
    ``search_index`` is not in the set: ``append_documents`` still
    appends its postings and ``_doclen`` rows with Spark's job commit,
    because both must land under one append record and ``append_in``
    replaces a staged root sidecar whole. No second physical root:
    neither the package nor ``tools/`` names a ``"_current"`` pointer,
    a ``_gen_`` generation directory or ``resolve_root``."""
    writer = next(
        n
        for n in ast.parse((PKG / "operators/maintenance.py").read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "write_durable"
    )
    offenders = []
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG).as_posix()
        text = f.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if "partitionOverwriteMode" in line:
                offenders.append(f"{rel}:{i} names the partition overwrite mode")
            if any(t in line for t in ("__tmp__", "__old__", "__commit__")) and (
                rel != "operators/maintenance.py"
            ):
                offenders.append(f"{rel}:{i} names a commit door's tree")
            if "_pending" in line:
                offenders.append(f"{rel}:{i} names a pending marker")
        for node in ast.walk(ast.parse(text)):
            if rel in DOOR_ONLY and (
                (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mode"
                )
                or (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and "mergeSchema" in node.value
                )
            ):
                offenders.append(f"{rel}:{node.lineno} writes or infers around the door")
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "replace"
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
                and not (
                    rel == "operators/maintenance.py"
                    and writer.lineno <= node.lineno <= writer.end_lineno
                )
            ):
                offenders.append(f"{rel}:{node.lineno} calls os.replace")
    for f in sorted([*PKG.rglob("*.py"), *(PKG.parent / "tools").rglob("*.py")]):
        rel = f.relative_to(PKG.parent).as_posix()
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if any(t in line for t in ('"_current"', "'_current'", "_gen_", "resolve_root")):
                offenders.append(f"{rel}:{i} names a generation root")
    assert not offenders
