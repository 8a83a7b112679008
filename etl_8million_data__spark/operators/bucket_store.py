"""Shared plumbing for the persisted bucket/cell-partitioned stores
(ANN indexes, dedup band/fingerprint indexes, SCD2/golden/IVM/diff
state tables): the read discipline, the layout markers, and
:func:`overwrite_buckets`, the partition-subset form of the package's
one commit door (``maintenance.swap_in``). Every read resolves the
store's root through :func:`resolve_root`, which first finishes any
swap of it that crashed.

READ DISCIPLINE (the 100 TB reason this module exists): every store
has a DECLARED schema — reading it back with
``option("mergeSchema", "true")`` launches an eager footer-merge job
over EVERY file in the store *before* any partition filter prunes
anything, so a probe that will touch 3 of 4096 cell directories still
pays a full-store metadata pass. At toy scale that is invisible; at a
100 TB cell-partitioned index it defeats the listing-time pruning the
probe layouts are built around. :func:`read_store` with the declared
schema plans with ZERO schema-inference reads — and still covers the
legacy-mixed-files case the footer-merge existed for: parquet files
written before a column existed (e.g. pre-batch-tagging index files
without ``_batch``) surface the declared column as NULL, which is
exactly what the merged schema produced. ``mergeSchema`` remains only
for callers that genuinely cannot declare a schema (fsck auditing
unknown layouts, generic compaction of arbitrary stores).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8million_data__spark.operators.maintenance import (
    recover_swap,
    swap_in,
    write_durable,
)


def read_store(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Read a persisted store: with ``schema`` (the layout's FULL
    declared schema — an omitted column would vanish from any rewrite
    fed by this read), no footer is opened for schema inference and
    missing columns in legacy files read as NULL; without it, fall
    back to the eager ``mergeSchema`` footer-merge (legacy/unknown
    layouts only — never on a pruned probe path). Callers that treat a
    missing store as empty check :func:`store_exists` FIRST (driver-
    side stat) and substitute an empty frame of the declared schema —
    never by catching the JVM's AnalysisException (see store_exists
    for why)."""
    reader = spark.read
    reader = (
        reader.schema(schema)
        if schema
        else reader.option("mergeSchema", "true")
    )
    return reader.parquet(resolve_root(path))

_CURRENT = "_current"


def resolve_root(path: str) -> str:
    """Physical data root of a store. Normally ``path`` itself (the
    flat layout every store starts with); after a :func:`rebucket`
    migration, ``path/_current`` — written in ONE atomic ``os.replace``,
    the manifest-flip commit of the versioned.commit discipline — names
    the live generation directory (``path/_gen_N``, underscore-prefixed
    so a flat-layout reader never saw it while it was staging) and this
    resolves to it. Every root-taking function in this module (and the
    door operators built on it) resolves first, so a reader either sees
    the complete old generation or the complete new one — never a
    half-swapped directory, on POSIX or an object store. Stores that
    never migrated have no pointer and resolve to themselves.

    Every store read and door resolves through here, so this is where a
    crashed swap of the store is finished first
    (``maintenance.recover_swap``)."""
    recover_swap(path)
    try:
        with open(os.path.join(path, _CURRENT)) as fh:
            gen = fh.read().strip()
    except OSError:
        return path
    if not gen:
        return path
    root = os.path.join(path, gen)
    recover_swap(root)
    return root


def store_exists(path: str) -> bool:
    """Driver-side first-build check: True iff the store's resolved
    data root exists on disk. Every "treat a missing store as empty"
    fallback checks THIS instead of catching the JVM's
    AnalysisException — an expected missing path must never reach the
    JVM as a failing query: a caught PATH_NOT_FOUND still flows
    through the execution-listener bus, and with any observation
    listener registered in the session it lands an ERROR line in every
    clean-environment sweep log — triage noise that reads as a
    failure. One stat call, no Spark job."""
    return os.path.isdir(resolve_root(path))


MAX_BROADCAST_ROWS = 1_000_000


def bounded_broadcast(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast hint gated by a KNOWN row count (one the door already
    collected for its own bookkeeping — never an extra job): the hint
    is applied only when the frame is provably micro-batch-sized;
    anything larger (or unknown) returns un-hinted so AQE sizes the
    join from runtime statistics. A forced broadcast whose side scales
    with DATA rather than with the change batch is a guaranteed
    driver/executor OOM at the 100 TB design point, and a bulk backfill
    that violates a door's micro-batch contract used to violate it
    SILENTLY — this gate makes it degrade to a shuffle join instead."""
    if n_rows is not None and n_rows <= MAX_BROADCAST_ROWS:
        return F.broadcast(df)
    return df


def read_nb(root: str) -> int:
    """Read the store's bucket-modulus marker (``_nb`` sidecar, written
    once at init): the layout's true bucket count, which every pruned
    delta must hash with (a wrong modulus prunes to directories the
    keys don't live in and silently misses them)."""
    with open(os.path.join(resolve_root(root), "_nb")) as fh:
        return int(fh.read().strip())


def try_read_nb(root: str) -> int | None:
    """``read_nb`` tolerant of legacy stores: None when the marker is
    absent or garbled (pre-marker layouts)."""
    try:
        return read_nb(root)
    except (OSError, ValueError):
        return None


def resolve_nb(root: str, nb: int | None, default: int) -> int:
    """The bucket modulus every door must hash with: the store's
    persisted ``_nb`` marker when present (an explicitly passed ``nb``
    that CONTRADICTS it raises — a wrong modulus prunes deletes to
    buckets the victims don't live in and scatters upserts into wrong
    buckets, both silent corruption); for legacy stores without the
    marker, falls back to the ``_checksums/_meta.json`` pin, then to
    the caller's ``nb``/``default``."""
    persisted = try_read_nb(root)
    if persisted is None:
        mp = os.path.join(resolve_root(root), "_checksums", "_meta.json")
        if os.path.isfile(mp):
            try:
                with open(mp) as fh:
                    persisted = int(json.load(fh)["nb"])
            except (OSError, ValueError, KeyError):
                persisted = None
    if persisted is not None:
        if nb is not None and nb != persisted:
            raise ValueError(
                f"{root}: store is bucketed with nb={persisted} but the "
                f"caller passed nb={nb} — a mismatched modulus silently "
                "prunes to the wrong buckets; omit nb to use the store's"
            )
        return persisted
    return nb if nb is not None else default


_SCHEMA_FILE = "_schema.json"


def write_schema(root: str, schema) -> None:
    """Pin the store's FULL declared schema (``_schema.json`` sidecar):
    every later read plans with zero footer inference and legacy files
    missing newer columns surface them as NULL — the read discipline
    this module exists for, made durable so door code never has to
    guess a schema or footer-merge."""
    root = resolve_root(root)
    os.makedirs(root, exist_ok=True)
    write_durable(os.path.join(root, _SCHEMA_FILE), schema.json())


def read_pinned_schema(root: str):
    """The pinned StructType, or None for legacy stores without one."""
    p = os.path.join(resolve_root(root), _SCHEMA_FILE)
    if not os.path.isfile(p):
        return None
    from pyspark.sql.types import StructType

    with open(p) as fh:
        return StructType.fromJson(json.load(fh))


def read_store_pinned(spark: SparkSession, path: str) -> DataFrame:
    """Read a store with its pinned schema when one exists (zero
    footer inference, NULL-extended legacy files), else a plain read
    (legacy stores keep their historic behavior — one arbitrary
    footer, never an eager full-store merge)."""
    pinned = read_pinned_schema(path)
    path = resolve_root(path)
    if pinned is not None:
        return spark.read.schema(pinned).parquet(path)
    return spark.read.parquet(path)


def write_nb(root: str, nb: int) -> None:
    root = resolve_root(root)
    os.makedirs(root, exist_ok=True)
    write_durable(os.path.join(root, "_nb"), str(nb))


def applied_batch(root: str) -> int | None:
    """Read the ``_applied_batch`` replay-guard sidecar: the id of the
    last micro-batch a non-idempotent door absorbed (scd2/golden/IVM
    streaming twins), or None when absent/garbled — at-least-once
    foreachBatch redelivery skips a batch whose id matches."""
    try:
        with open(os.path.join(resolve_root(root), "_applied_batch")) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def mark_applied(root: str, batch_id: int) -> None:
    write_durable(os.path.join(resolve_root(root), "_applied_batch"), str(batch_id))


def bucket_values(df: DataFrame, col: str, nb: int):
    """Distinct id_bucket values of ``col`` — a <= nb-element driver
    list (the literal-prune discipline: bucket count is bounded by the
    layout, never by data size)."""
    from etl_8million_data__spark.operators.partitioning import id_bucket

    return [
        r["_b"]
        for r in df.select(
            id_bucket(F.col(col), nb).alias("_b")
        ).distinct().collect()
    ]


def pruned_read(
    spark: SparkSession,
    path: str,
    part_col: str,
    buckets: list[int],
    schema: str | None = None,
) -> DataFrame:
    """Literal-pruned read of a bucket-partitioned state table: with a
    declared ``schema`` the plan does zero footer reads and an EMPTY
    table (zero parquet files after a full erase) reads back as an
    empty frame of that schema; an empty bucket list short-circuits to
    a read-nothing filter."""
    # first-build fallback decided DRIVER-SIDE (store_exists), never by
    # catching a JVM PATH_NOT_FOUND — see store_exists for why
    if schema is not None and not store_exists(path):
        df = spark.createDataFrame([], schema)
    else:
        df = (
            read_store(spark, path, schema)
            if schema
            else spark.read.parquet(resolve_root(path))
        )
    return (
        df.filter(F.col(part_col).isin(buckets))
        if buckets
        else df.filter(F.lit(False))
    )


def write_table_bucketed(df: DataFrame, path: str, part_col: str) -> None:
    """Overwrite-write a state table in the bucketed layout with one
    file per bucket (repartition on the partition column), so a pruned
    read schedules |touched buckets| tasks, not |buckets| x |write
    tasks| tiny files."""
    df.repartition(F.col(part_col)).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(resolve_root(path))


def partition_filter(cols: list[str], keys: list[tuple]):
    """Null-safe literal filter for the rows whose ``cols`` equal one of
    the value tuples in ``keys`` (non-empty). On a partitioned read it
    is a LITERAL partition filter, so only those directories are listed
    and read (Spark degraded the broadcast semi-join form's
    dynamicpruning filter to `true` at runtime and read every
    partition). Null-safe equality keeps null partition values
    (__HIVE_DEFAULT_PARTITION__) addressable."""
    from functools import reduce

    def match(key):
        eqs = (F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(cols, key))
        return reduce(lambda a, b: a & b, eqs)

    return reduce(lambda a, b: a | b, map(match, keys))


def overwrite_buckets(
    spark: SparkSession,
    path: str,
    part_cols: list[str],
    new_content: DataFrame,
    affected: list[tuple],
) -> None:
    """Partition-subset commit: replace exactly the ``affected``
    partitions of ``path`` (value tuples of ``part_cols``) with
    ``new_content``, which must hold those partitions' FULL new rows
    and may read ``path`` itself. The rows are written into the staging
    directory of ``maintenance.swap_in``, which swaps in each partition
    the write produced and removes each affected partition it left
    empty. Untouched partitions are never written.

    Rows are clustered by ``part_cols`` before the write: without it
    every reducer holds rows of many partitions and opens a file in
    each directory it touches (measured 5,814 files, 65 s vs 29 s, for
    the 7.9M-row financials fact at 192 partitions). AQE's REBALANCE,
    not a plain repartition, splits oversized clusters back to advisory
    size, so a 3-value partition key does not serialize the write into
    3 tasks."""
    path = resolve_root(path)
    kbs = [k[0] for k in affected]
    has_summary = part_cols == ["kb"] and os.path.isfile(
        os.path.join(path, "_checksums", "_meta.json")
    )
    if has_summary:
        # a predecessor's crash record must survive this door: blindly
        # replacing an existing _pending_summary marker with our own
        # bucket list would erase the evidence that a predecessor died
        # between its data write and its summary update — its stale
        # buckets would never be re-derived and diff would trust a
        # silently stale summary. Repair it NOW (re-derive its touched
        # buckets from the table, which is the pre-rewrite truth
        # whether or not the predecessor's write landed), then write
        # our own marker.
        if read_pending(path) is not None:
            from etl_8million_data__spark.operators.diff import (
                repair_pending_summary,
            )

            repair_pending_summary(spark, path)
        # marker BEFORE the rewrite (the append doors' discipline): a
        # crash anywhere between here and the summary splice leaves the
        # marker, which makes the possibly-stale summary UNTRUSTED
        # (diff falls back to full-scan phase 1) until the next door
        # call re-derives exactly these buckets' rows
        write_pending(path, None, kbs)
    with swap_in(path, part_cols, affected) as tmp:
        new_content.hint("rebalance", *part_cols).write.partitionBy(
            *part_cols
        ).parquet(tmp)
    spark.catalog.refreshByPath(path)
    if has_summary:
        # the table carries a diff/sync checksum summary: keep it
        # honest by re-deriving the affected buckets' rows from a
        # literal-pruned re-read of just those partitions, so the
        # routine replica audit (diff_tables' summarized phase 1) never
        # re-scans the table
        from etl_8million_data__spark.operators.diff import update_checksums

        update_checksums(spark, path, kbs)
        clear_pending(path)


def bucket_file_counts(root: str, part_col: str) -> dict[int, int]:
    """Parquet-file count per bucket partition — the small-files gauge
    a compaction decision reads. Driver-side listing bounded by the
    layout's bucket count (on a cluster store this is one FileSystem
    listing per bucket directory, the same metadata compaction must
    touch anyway)."""
    root = resolve_root(root)
    out: dict[int, int] = {}
    try:
        entries = os.listdir(root)
    except OSError:
        return out
    for e in entries:
        if not e.startswith(f"{part_col}="):
            continue
        try:
            b = int(e.split("=", 1)[1])
        except ValueError:
            continue
        d = os.path.join(root, e)
        out[b] = sum(
            1 for f in os.listdir(d) if f.endswith(".parquet")
        )
    return out


def compact_buckets(
    spark: SparkSession,
    path: str,
    part_col: str = "kb",
    max_files: int = 1,
    buckets: list[int] | None = None,
) -> int:
    """Per-bucket small-files compaction for the bucketed stores — the
    maintenance door that pays off the append doors' debt (every
    streaming/batch append lands ONE file per touched bucket per batch,
    so after N batches a hot bucket holds N files and every pruned
    probe/diff listing pays for the history). Buckets holding more than
    ``max_files`` parquet files (or the explicit ``buckets``) are read
    in full — pinned-schema read when the store carries one, partition-
    pruned to exactly those buckets — and rewritten through
    :func:`overwrite_buckets`, which re-derives ONLY the touched
    buckets' `_checksums/` rows, so the summary stays honest with no
    table rescan. Content-identical by construction (the rewrite is the
    same rows); untouched buckets stay byte-identical. Returns the
    number of buckets compacted.

    Scale shape: cost is one read+write of the compacted buckets only —
    the analog of forget.compact_cells for the kb= stores; run it on a
    file-count trigger, not a schedule."""
    counts = bucket_file_counts(path, part_col)
    todo = (
        [b for b in buckets if counts.get(b, 0) > 0]
        if buckets is not None
        else sorted(b for b, n in counts.items() if n > max_files)
    )
    if not todo:
        return 0
    content = read_store_pinned(spark, path).filter(
        F.col(part_col).isin(todo)
    )
    overwrite_buckets(spark, path, [part_col], content, [(b,) for b in todo])
    return len(todo)


def _sweep_stale_generations(path: str) -> None:
    """Remove data a completed manifest flip superseded: with a
    ``_current`` pointer live, any root-level ``kb=`` dirs / layout
    sidecars (the pre-migration flat layout) and any ``_gen_*`` dir
    other than the current one are unreachable — resolution never
    looks at them — so a crash between the flip and its cleanup costs
    only disk, reclaimed here (every rebucket sweeps on entry)."""
    cur = resolve_root(path)
    if cur == path:
        return
    keep = os.path.basename(cur)
    for e in os.listdir(path):
        full = os.path.join(path, e)
        if e.startswith("_gen_") and e != keep and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        elif e.startswith("kb=") and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        elif e in ("_nb", _SCHEMA_FILE, _PENDING_FILE, _STATS_FILE,
                   "_applied_batch") or (
            e == "_checksums" and os.path.isdir(full)
        ):
            # stale flat-layout sidecars (the live ones are inside the
            # generation dir)
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.remove(full)


def advise_compaction(
    path: str, part_col: str = "kb", max_files: int = 4
) -> dict:
    """The measure-then-advise arm for :func:`compact_buckets` — the
    same discipline as :func:`advise_rebucket`, closing the "when do I
    run the maintenance door" decision the compaction door left to the
    operator: the gauge is the store's own per-bucket file census
    (:func:`bucket_file_counts` — the listing every pruned probe pays,
    which is exactly the cost being reclaimed), and the advice is
    'compact' when any bucket's file count exceeds ``max_files``
    (append debt: each batch lands one file per touched bucket, so a
    hot bucket's listing cost grows linearly in batches until
    compacted). Returns {n_buckets, n_files, max_files_per_bucket,
    n_debt_buckets, debt_files, threshold, action}; ``debt_files`` is
    the listing entries a compaction would reclaim (files above one
    per debt bucket). Driver-side listing only — the advisor never
    reads or rewrites data."""
    counts = bucket_file_counts(path, part_col)
    debt = {b: n for b, n in counts.items() if n > max_files}
    return {
        "n_buckets": len(counts),
        "n_files": sum(counts.values()),
        "max_files_per_bucket": max(counts.values(), default=0),
        "n_debt_buckets": len(debt),
        "debt_files": sum(n - 1 for n in debt.values()),
        "threshold": max_files,
        "action": "compact" if debt else "keep",
    }


def rebucket(
    spark: SparkSession,
    path: str,
    key: str,
    nb_new: int,
    sweep: bool = True,
) -> None:
    """Migrate a kb=-bucketed store to a NEW bucket modulus — the one
    physical-design knob of this family (nb bounds every door's blast
    radius: the same change set reads 7/16 vs 10/256 of the table), made
    changeable after creation. Bounded passes, counted honestly: one
    read+write to stage (the store read with its pinned schema,
    re-hashed to ``kb`` mod ``nb_new``, staged as a NEW GENERATION
    directory ``path/_gen_N`` inside the store root — underscore-
    prefixed, so no reader of the live layout ever lists it), plus two
    fingerprint scans for the equality gate (row count +
    order-insensitive full-table hash sum, live vs staged, asserted
    BEFORE the flip — a migration that corrupts content never goes
    live), plus one summary re-seed scan when the store carries a
    ``_checksums/`` sidecar. The staged generation is fully seeded —
    ``_nb``, pinned schema, summary at the new modulus, carried
    telemetry — BEFORE going live, so the commit is ONE atomic
    ``os.replace`` of the ``_current`` pointer (the versioned.commit
    manifest-flip discipline; put-if-absent/atomic-put on an object
    store): a reader resolves either the complete old generation or
    the complete new one, never a half-swapped directory. A crash
    before the flip leaves the live store untouched (the stage dir is
    invisible and swept on the next migration); a crash after the flip
    leaves only unreachable stale data, swept on entry here.

    ``sweep=True`` (default) reclaims the superseded generation right
    after the flip — correct under this family's single-writer,
    maintenance-window discipline. A deployment with LONG in-flight
    readers (a scan that resolved the pointer pre-flip still opens the
    old generation's files task-by-task) passes ``sweep=False``: the
    superseded generation stays on disk — unreachable through
    resolution, so no new reader ever sees it — until the next
    migration's entry sweep or an explicit
    :func:`vacuum_generations`."""
    from etl_8million_data__spark.operators.partitioning import id_bucket

    _sweep_stale_generations(path)
    live = resolve_root(path)
    nb_old = try_read_nb(path)
    if nb_new == nb_old:
        return
    df = read_store_pinned(spark, path)
    if "kb" not in df.columns:
        raise ValueError(f"{path}: not a kb=-bucketed store")
    staged = (
        df.drop("kb")
        .withColumn("kb", id_bucket(F.col(key), nb_new))
        .localCheckpoint(eager=False)
    )
    if live == path:
        gen_idx = 1
    else:
        gen_idx = int(os.path.basename(live).rsplit("_", 1)[1]) + 1
    gen = f"_gen_{gen_idx}"
    tmp = os.path.join(path, gen)
    shutil.rmtree(tmp, ignore_errors=True)
    staged.repartition(F.col("kb")).write.mode("overwrite").partitionBy(
        "kb"
    ).parquet(tmp)
    write_nb(tmp, nb_new)
    write_schema(tmp, staged.schema)

    # equality gate before the flip: count + order-insensitive content
    # hash over every non-bucket column, live layout vs staged
    cols = sorted(c for c in df.columns if c != "kb")
    def _fingerprint(frame):
        h = F.xxhash64(
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\0null"))
                for c in cols
            ]
        )
        r = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(h.cast("decimal(38,0)")).alias("cs"),
        ).first()
        return (r["n"], r["cs"])

    before = _fingerprint(df)
    after = _fingerprint(spark.read.schema(staged.schema).parquet(tmp))
    if before != after:
        shutil.rmtree(tmp, ignore_errors=True)
        raise ValueError(
            f"rebucket {path}: staged content mismatch (old {before} vs "
            f"new {after}) — store left untouched"
        )

    # summary re-seed at the new modulus (same keys/cols pin)
    meta_path = os.path.join(live, "_checksums", "_meta.json")
    if os.path.isfile(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        from etl_8million_data__spark.operators.diff import checksums_init

        checksums_init(spark, tmp, meta["keys"], meta["cols"], nb_new)

    # carry the layout-independent sidecars into the staged generation:
    # churn telemetry (workload property, still valid at the new
    # modulus) and the streaming replay marker
    for side in (_STATS_FILE, "_applied_batch"):
        src = os.path.join(live, side)
        if os.path.isfile(src):
            shutil.copy(src, os.path.join(tmp, side))

    # MANIFEST FLIP: the staged generation is complete — one atomic
    # pointer replace commits it
    write_durable(os.path.join(path, _CURRENT), gen)

    # cleanup of the superseded generation (best-effort: a crash here
    # leaves only unreachable data, swept on the next migration);
    # sweep=False leaves it as a grace copy for in-flight readers
    if sweep:
        _sweep_stale_generations(path)
    spark.catalog.refreshByPath(path)
    spark.catalog.refreshByPath(tmp)


def vacuum_generations(path: str) -> int:
    """Reclaim every superseded generation / stale flat layout of a
    migrated store — the deferred half of ``rebucket(sweep=False)``:
    run it once in-flight readers of the pre-flip generation have
    drained. A store that never migrated (no ``_current`` pointer) is
    a no-op. Returns the number of stale generation dirs removed
    (the pre-migration flat layout counts as one)."""
    cur = resolve_root(path)
    if cur == path:
        return 0
    before = {
        e
        for e in os.listdir(path)
        if (e.startswith("_gen_") and e != os.path.basename(cur))
        or e.startswith("kb=")
    }
    had_flat = any(e.startswith("kb=") for e in before)
    gens = {e for e in before if e.startswith("_gen_")}
    _sweep_stale_generations(path)
    return len(gens) + (1 if had_flat else 0)


def evolve_add_columns(
    spark: SparkSession, path: str, cols_ddl: str, compare: bool = True
) -> None:
    """Schema-evolution door for the bucketed stores: ADD columns by
    bumping the pinned ``_schema.json`` — ZERO data rewritten; existing
    files read back NULL-extended under the declared schema and later
    appends carry the new columns. When the store maintains a
    ``_checksums/`` summary and ``compare=True``, the new columns join
    the compared set, which changes every row hash — the summary is
    re-seeded in ONE deliberate full pass (the only case that needs
    one; an all-NULL column still shifts xxhash64 completely, there is
    no metadata shortcut). ``compare=False`` leaves the comparison pin
    untouched: diffs keep ignoring the new columns and the summary
    survives as-is — the zero-cost evolution for bookkeeping columns."""
    from pyspark.sql.types import StructType

    pinned = read_pinned_schema(path)
    if pinned is None:
        raise ValueError(
            f"{path}: no pinned schema to evolve — write the store "
            "through write_bucketed first"
        )
    path = resolve_root(path)
    add = StructType.fromDDL(cols_ddl)
    clash = {f.name for f in add.fields} & {f.name for f in pinned.fields}
    if clash:
        raise ValueError(f"{path}: columns already exist: {sorted(clash)}")
    # keep kb last (partition column position convention)
    fields = [f for f in pinned.fields if f.name != "kb"]
    kb = [f for f in pinned.fields if f.name == "kb"]
    new_schema = StructType(fields + list(add.fields) + kb)
    write_schema(path, new_schema)

    meta_path = os.path.join(path, "_checksums", "_meta.json")
    if compare and os.path.isfile(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        from etl_8million_data__spark.operators.diff import checksums_init

        checksums_init(
            spark,
            path,
            meta["keys"],
            sorted(meta["cols"] + [f.name for f in add.fields]),
            meta["nb"],
        )


NB_LADDER = (
    16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
    8192, 16384, 32768, 65536, 131072, 262144, 524288, 1048576,
)
# per-bucket byte budget: bounds both the per-bucket task size and the
# worst-case relation a door's join could materialize for one bucket —
# 256 MiB is the conventional comfortable task/HDFS-block scale; the
# top ladder power x this budget covers a 256 TiB table
TARGET_BUCKET_BYTES = 256 << 20


def recommend_nb(
    churn_col,
    rows_col,
    target_inverse: int = 16,
    min_rows_per_bucket: int = 64,
    bytes_col=None,
    target_bucket_bytes: int = TARGET_BUCKET_BYTES,
):
    """Column expression recommending a bucket modulus from MEASURED
    churn — the advisor arm for :func:`rebucket`, making the one
    hand-set physical-design knob of this family data-driven. Model:
    a change set of c keys touches <= c buckets, so the per-apply read
    fraction is ~c/nb; a target fraction of 1/``target_inverse`` wants
    nb >= target_inverse * c, rounded UP to the next power of two on
    the ladder. The opposing pressure is small files: nb is capped at
    the LARGEST ladder power keeping >= ``min_rows_per_bucket`` rows
    per bucket (tiny buckets turn every scan into a listing storm), and
    the cap wins — a small table never gets a huge modulus no matter
    the churn. With ``bytes_col`` (the table's measured bytes — e.g.
    :func:`store_bytes` off the store's own listing) a third arm binds
    on LARGE tables: nb must also keep every bucket under
    ``target_bucket_bytes`` (the per-bucket task/rewrite unit — a row
    floor alone would let a 100 TB table sit at 4096 buckets of ~24 GB
    each), and this byte FLOOR overrides the rows cap — a huge table
    is never left with oversized buckets, while a toy table's bytes
    round to the smallest power and change nothing. Pure integer
    arithmetic (comparison ladders over the 17 powers, no log/pow
    floats), so a DuckDB oracle reproduces it bit-for-bit."""
    raw = F.lit(target_inverse) * churn_col
    up = F.lit(NB_LADDER[-1])
    for p in reversed(NB_LADDER):
        up = F.when(raw <= p, F.lit(p)).otherwise(up)
    cap = F.lit(NB_LADDER[0])
    for p in NB_LADDER:
        cap = F.when(rows_col >= p * min_rows_per_bucket, F.lit(p)).otherwise(
            cap
        )
    out = F.least(up, cap)
    if bytes_col is not None:
        bup = F.lit(NB_LADDER[-1])
        for p in reversed(NB_LADDER):
            bup = F.when(
                bytes_col <= F.lit(p * target_bucket_bytes), F.lit(p)
            ).otherwise(bup)
        out = F.greatest(out, bup)
    return out.cast("int")


def sql_recommend_nb(
    churn_sql: str,
    rows_sql: str,
    target_inverse: int = 16,
    min_rows_per_bucket: int = 64,
    bytes_sql: str | None = None,
    target_bucket_bytes: int = TARGET_BUCKET_BYTES,
) -> str:
    """The DuckDB twin of :func:`recommend_nb` (same ladders, same
    integer arithmetic)."""
    raw = f"({target_inverse} * ({churn_sql}))"
    up = f"CASE WHEN {raw} <= 16 THEN 16"
    for p in NB_LADDER[1:]:
        up += f" WHEN {raw} <= {p} THEN {p}"
    up += f" ELSE {NB_LADDER[-1]} END"
    cap = f"CASE WHEN ({rows_sql}) >= {NB_LADDER[-1] * min_rows_per_bucket} THEN {NB_LADDER[-1]}"
    for p in reversed(NB_LADDER[:-1]):
        cap += f" WHEN ({rows_sql}) >= {p * min_rows_per_bucket} THEN {p}"
    cap += f" ELSE {NB_LADDER[0]} END"
    out = f"least({up}, {cap})"
    if bytes_sql is not None:
        bup = f"CASE WHEN ({bytes_sql}) <= {NB_LADDER[0] * target_bucket_bytes} THEN {NB_LADDER[0]}"
        for p in NB_LADDER[1:]:
            bup += f" WHEN ({bytes_sql}) <= {p * target_bucket_bytes} THEN {p}"
        bup += f" ELSE {NB_LADDER[-1]} END"
        out = f"greatest({out}, {bup})"
    return f"CAST({out} AS INTEGER)"


def store_bytes(root: str) -> int:
    """Total parquet bytes of a store, off its own directory listing —
    the measured input for :func:`recommend_nb`'s byte arm. Driver-side
    walk bounded by the layout's bucket/file count (the same listing a
    compaction census pays)."""
    total = 0
    for dirpath, _dirs, files in os.walk(resolve_root(root)):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    continue
    return total


_STATS_FILE = "_door_stats.jsonl"
_STATS_KEEP = 1000  # advisor window; rotation threshold is 2x


def record_door_stats(root: str, op: str, n_keys: int, n_buckets: int) -> None:
    """Append one telemetry line per door apply — the churn the nb
    advisor wants is ALREADY in the driver's hand at every apply (the
    change-key count and its touched-bucket list), so recording it is
    a local file append, zero Spark jobs. ROTATED: past 2x the advisor
    window the file rewrites to its newest ``_STATS_KEEP`` lines, so a
    store absorbing millions of applies carries a bounded sidecar (and
    the advice tracks RECENT churn — drifting workloads age out, the
    advisor_layout_drift discipline). Best-effort: telemetry never
    fails a door."""
    p = os.path.join(resolve_root(root), _STATS_FILE)
    with contextlib.suppress(OSError):
        with open(p, "a") as fh:
            fh.write(
                json.dumps(
                    {"op": op, "n_keys": n_keys, "n_buckets": n_buckets}
                )
                + "\n"
            )
        if os.path.getsize(p) > 0:
            with open(p) as fh:
                lines = fh.readlines()
            if len(lines) > 2 * _STATS_KEEP:
                write_durable(p, "".join(lines[-_STATS_KEEP:]))


def read_door_stats(root: str) -> list[dict]:
    out = []
    try:
        with open(os.path.join(resolve_root(root), _STATS_FILE)) as fh:
            for line in fh:
                try:
                    out.append(json.loads(line))
                except ValueError:
                    continue
    except OSError:
        pass
    return out


def advise_rebucket(spark: SparkSession, path: str) -> dict:
    """The measure-then-advise closure for the bucket modulus: read the
    store's OWN door telemetry (per-apply change-set sizes recorded by
    append/delete/CDC doors — no workload proxy), take the p95 churn,
    and recommend a modulus via the same integer ladder as
    :func:`recommend_nb`. Returns {nb_current, n_applies, churn_p95,
    table_rows, nb_recommended, action} with action 'rebucket' only
    when the recommendation differs from the layout AND there is
    enough evidence (>= 5 recorded applies). The execution door is
    :func:`rebucket`; the advisor itself reads one count off the store
    and a driver-side sidecar — it never rewrites data."""
    stats = [s for s in read_door_stats(path) if s.get("n_keys")]
    nb_cur = try_read_nb(path)
    n_rows = read_store_pinned(spark, path).count()
    n_bytes = store_bytes(path)
    if len(stats) < 5:
        return {
            "nb_current": nb_cur,
            "n_applies": len(stats),
            "churn_p95": None,
            "table_rows": n_rows,
            "table_bytes": n_bytes,
            "nb_recommended": nb_cur,
            "action": "keep (insufficient telemetry: < 5 applies)",
        }
    churns = sorted(s["n_keys"] for s in stats)
    p95 = churns[min(len(churns) - 1, (len(churns) * 95) // 100)]
    rec = (
        spark.createDataFrame(
            [(p95, n_rows, n_bytes)], "churn bigint, rows bigint, bts bigint"
        )
        .select(
            recommend_nb(
                F.col("churn"), F.col("rows"), bytes_col=F.col("bts")
            ).alias("nb")
        )
        .first()["nb"]
    )
    return {
        "nb_current": nb_cur,
        "n_applies": len(stats),
        "churn_p95": p95,
        "table_rows": n_rows,
        "table_bytes": n_bytes,
        "nb_recommended": rec,
        "action": "rebucket" if rec != nb_cur else "keep",
    }


_PENDING_FILE = "_pending_summary.json"


def write_pending(root: str, batch_id, kbs: list[int]) -> None:
    """Crash-recovery marker for the append doors: written BEFORE the
    data append, cleared after the summary update, so a successor can
    see a predecessor died between the two and re-derive exactly the
    touched buckets' summary rows from the table (the half-applied
    window the skip-existing replay can never repair on its own)."""
    root = resolve_root(root)
    os.makedirs(root, exist_ok=True)
    write_durable(
        os.path.join(root, _PENDING_FILE),
        json.dumps({"batch_id": batch_id, "kbs": list(kbs)}),
    )


def read_pending(root: str) -> dict | None:
    p = os.path.join(resolve_root(root), _PENDING_FILE)
    if not os.path.isfile(p):
        return None
    try:
        with open(p) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def clear_pending(root: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(os.path.join(resolve_root(root), _PENDING_FILE))
