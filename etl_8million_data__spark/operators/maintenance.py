"""Table-maintenance operators for Parquet at scale: small-file
compaction and query-aligned clustering, plus the package's one commit
door.

At 100 TB the two silent killers of scan performance are (a) millions
of tiny files from incremental/streaming writes — per-file open +
footer-parse overhead dwarfs the reads — and (b) row groups whose
min/max statistics span the whole key domain, so predicate pushdown
prunes nothing. ``compact_parquet`` fixes (a) by rewriting to
size-targeted files; ``clustered_write`` fixes (b) by range-partitioning
plus sorting within partitions so every file/row-group covers a tight,
disjoint slice of the clustering key (the poor man's Z-order for a
single key prefix).

Every table rewrite in the package commits through :func:`swap_in`:
the whole table, or a subset of its partition directories
(``bucket_store.overwrite_buckets``). The new content is staged in full
in a sibling directory, a durable commit record names the directories
to swap, and only then do the renames start, so a crash at any step is
rolled forward by :func:`recover_swap` on the next entry. Every small
record or marker file is replaced through :func:`write_durable`.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# staging trees of this process's open swaps: recovery runs inside a
# swap block too (any store read resolves its root) and must not take
# the block's own staging tree for an unfinished write
_ACTIVE: set[str] = set()


def write_durable(path: str, text: str) -> None:
    """Replace the small file ``path`` with ``text``: write a sibling
    temp file, flush and fsync it, then ``os.replace`` it over ``path``.
    A crash at any point leaves the old content or the new one, never a
    truncated file."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


# Spark's partition directory naming (ExternalCatalogUtils.escapePathName)
_ESCAPED = set(map(chr, range(1, 32))) | set("\"#%'*/:=?\\\x7f{[]^")


def _partition_dir(cols: Sequence[str], key: Sequence) -> str:
    def value(v) -> str:
        if v is None or v == "":
            return "__HIVE_DEFAULT_PARTITION__"
        s = str(v).lower() if isinstance(v, bool) else str(v)
        return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in s)

    return os.path.join(*(f"{c}={value(v)}" for c, v in zip(cols, key)))


def _swap_names(path: str, txn: str) -> tuple[str, str, str]:
    """Staging tree, swapped-out tree and commit record of one swap."""
    return f"{path}.__tmp__{txn}", f"{path}.__old__{txn}", f"{path}.__commit__{txn}.json"


def _roll_forward(path: str, txn: str, parts: list[str], new: list[str]) -> None:
    """Carry out the commit record of swap ``txn``: move each of
    ``parts`` (paths relative to ``path``; ``""`` is the whole table)
    aside, move the staged copies of ``new`` in, then delete the
    swapped-out tree, the staging leftovers and the record. Every step
    first checks where the data is, so rerunning it after a crash at
    any step finishes the same commit."""
    tmp, old, record = _swap_names(path, txn)

    def at(root: str, rel: str) -> str:
        return os.path.join(root, rel) if rel else root

    for rel in parts:
        live, staged, aside = at(path, rel), at(tmp, rel), at(old, rel)
        if rel in new and not os.path.exists(staged):
            continue  # moved in before a crash
        if os.path.exists(live):
            os.makedirs(os.path.dirname(aside), exist_ok=True)
            os.rename(live, aside)
        if rel in new:
            os.makedirs(os.path.dirname(live), exist_ok=True)
            os.rename(staged, live)
    for tree in (old, tmp):
        if os.path.exists(tree):
            shutil.rmtree(tree)
    os.remove(record)


def recover_swap(path: str) -> None:
    """Finish or discard what a crashed swap of ``path`` left behind. A
    commit record is rolled forward: its staging tree was complete
    before the first rename. A staging or swapped-out tree without a
    record is an unfinished write and is deleted. More than one record
    raises rather than guess their order. Run it before listing a table
    that is about to be rewritten; ``swap_in`` and
    ``bucket_store.resolve_root`` do."""
    left = [p for p in glob.glob(f"{glob.escape(path)}.__*") if p not in _ACTIVE]
    records = [p for p in left if p.endswith(".json") and ".__commit__" in p]
    if len(records) > 1:
        raise RuntimeError(f"{path}: more than one pending commit: {records}")
    for rec in records:
        with open(rec) as fh:
            r = json.load(fh)
        _roll_forward(path, r["txn"], r["parts"], r["new"])
    for p in left:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)


@contextmanager
def swap_in(
    path: str, part_cols: Sequence[str] = (), affected: Sequence[Sequence] = ()
) -> Iterator[str]:
    """The commit door: yield a fresh staging directory for the new
    content and swap it in when the block exits normally.

    - Without ``part_cols`` (or while ``path`` does not exist yet) the
      whole table is swapped.
    - With ``part_cols`` the staging directory holds a partitioned
      write, and only partition directories are swapped: every one the
      write produced, plus each of the ``affected`` value tuples. An
      affected partition the write left empty is removed. Untouched
      partition directories and the root's sidecars stay as they are.

    A block that raises leaves the live table untouched and the staging
    directory deleted. A crash after the block is rolled forward by the
    next :func:`recover_swap`. A reader during the renames may see some
    partitions new and others old."""
    recover_swap(path)
    txn = uuid.uuid4().hex[:8]
    tmp, _, record = _swap_names(path, txn)
    _ACTIVE.add(tmp)
    try:
        yield tmp
        if part_cols and os.path.isdir(path):
            leaves = os.path.join(glob.escape(tmp), *["*=*"] * len(part_cols))
            new = [os.path.relpath(p, tmp) for p in glob.glob(leaves)]
            parts = sorted({_partition_dir(part_cols, k) for k in affected} | set(new))
        else:
            new = [""] if os.path.exists(tmp) else []
            parts = [""]
        write_durable(record, json.dumps({"txn": txn, "parts": parts, "new": new}))
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    finally:
        _ACTIVE.discard(tmp)
    _roll_forward(path, txn, parts, new)


def parquet_data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 << 20
) -> int:
    """Rewrite the table at ``path`` into ceil(total_bytes / target)
    files and atomically swap the compacted snapshot in. Returns the
    new file count. (On a cluster this is the OPTIMIZE/compaction job
    you schedule after streaming or per-batch ingest.)"""
    files = parquet_data_files(path)
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, math.ceil(total / target_file_bytes))
    # coalesce, not repartition: compaction must not pay a shuffle —
    # it only glues input splits together.
    with swap_in(path) as tmp:
        spark.read.parquet(path).coalesce(n).write.mode("overwrite").parquet(tmp)
    return len(parquet_data_files(path))


def clustered_write(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int | None = None
) -> None:
    """Write ``df`` clustered on ``cluster_cols``: range-partition
    across files, sort within each — file- and row-group-level min/max
    on the clustering key become tight and pairwise disjoint, so a
    selective filter prunes all but the covering files at planning
    time."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_write(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int | None = None,
    bits_per_dim: int = 8,
) -> None:
    """Write ``df`` Z-ORDERED on ``zorder_cols``: each dimension is
    bucketized into 2^bits_per_dim near-equal-frequency ranks (bounds
    from the deterministic key-hash sample — no global sort, no
    collect), the per-dimension ranks are Morton bit-interleaved into
    one locality code, and the data is range-partitioned + sorted on
    that code.

    Why: single-key clustering (``clustered_write``) makes row-group
    min/max tight on ONE column and useless on every other; the Morton
    interleave makes every z-dimension's min/max tight-ish in EVERY row
    group simultaneously, so selective predicates on ANY of the
    z-columns prune files/row groups (multi-dimensional data skipping —
    the standard lakehouse layout optimization). All plan-side: the
    bucket lookup is a broadcast bounds array + array-filter count per
    row, the interleave is integer bit arithmetic in codegen.
    """
    from pyspark.sql import functions as F

    from etl_8million_data__spark.operators.partitioning import sampled_range_bounds

    if not zorder_cols:
        raise ValueError("zorder_cols must be non-empty")
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    n_buckets = 1 << bits_per_dim

    out = df
    rank_cols = []
    for c in zorder_cols:
        bounds = (
            sampled_range_bounds(df, c, c, n_buckets)
            .agg(F.array_sort(F.collect_list("bound_value")).alias("_bounds"))
        )
        rc = f"_zr_{c}"
        # bucket = number of bounds <= value: 0..n_buckets-1, computed
        # against the broadcast 1-row bounds array (no driver collect)
        out = out.crossJoin(F.broadcast(bounds)).withColumn(
            rc,
            F.size(F.filter(F.col("_bounds"), lambda b: b <= F.col(c))).cast("long"),
        ).drop("_bounds")
        rank_cols.append(rc)

    # Morton interleave: bit j of dimension d lands at position
    # j * n_dims + d — equal bit budget per dimension.
    ndims = len(rank_cols)
    z = F.lit(0).cast("long")
    for d, rc in enumerate(rank_cols):
        for j in range(bits_per_dim):
            z = z + F.shiftleft(
                F.shiftright(F.col(rc), j).bitwiseAND(F.lit(1)), j * ndims + d
            )
    out = out.withColumn("_zcode", z).drop(*rank_cols)
    (
        out.repartitionByRange(n, "_zcode")
        .sortWithinPartitions("_zcode")
        .drop("_zcode")
        .write.mode("overwrite")
        .parquet(path)
    )
