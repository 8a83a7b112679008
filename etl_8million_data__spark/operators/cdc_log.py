"""Streaming CDC producer — the SEND side of continuous replication,
closing the loop the apply side (operators/diff.stream_apply_changes)
already runs: a versioned table's commits (operators/versioned.py) are
tailed into a FILE-BASED CHANGE LOG that Spark's file stream source
consumes, so the whole replicate-apply-verify pipeline is continuous
end to end:

    commits on A  ->  publish_changes (tail new versions into the log)
                  ->  changes_stream (readStream over the log)
                  ->  stream_apply_changes on replica B (versioned,
                      max-version-wins — safe under redelivery AND
                      reordering)
                  ->  summarized diff_tables audit (2 x nb rows)

Each published version becomes one batch of change rows carrying
``_commit_version`` (table_changes_pruned with ``include_version=True``
— on manifest-summarized tables the change computation reads only the
differing buckets, phase 1 from driver metadata alone). Files are
version-named (``v{version:012d}-...parquet``) so retention can target
them. Three sidecars govern the log:

- ``_published.json`` — the producer watermark (resumable, idempotent:
  re-running publishes nothing new; a crash mid-version re-publishes
  that version's frame whole — harmless, the versioned apply
  converges) AND the REPLAY HORIZON: the lowest version the log can
  still redeliver, advanced only by :func:`truncate_published`.
  ``diff.vacuum_tombstones`` validates its version floor against this
  horizon — a tombstone may be reclaimed only when every change the
  log can still redeliver is at least as new as it, else a redelivered
  pre-delete change would resurrect the key.
- ``_schema.json`` — the PINNED change-frame schema. A file-source
  stream needs one declared schema; deriving it from one arbitrary
  footer of a mixed-generation log silently DROPS columns published
  after a source schema evolution (the column never reaches the
  replica's loud extra-column guard — silent partial replication).
  The pin is written at first publish and BUMPED when a later
  version's frame widens it (new columns append; older frames
  NULL-extend under the wider declared schema, exactly the
  bucket_store pinned-read discipline); a type conflict on an
  existing column refuses loudly.

Zero-change versions still advance the watermark (nothing to ship).
At 100 TB the log is a bounded stream of drift-sized frames whose file
count is bounded by retention (:func:`truncate_published`), and the
file source's own checkpointing gives the consumer exactly-once batch
tracking on top of the apply door's convergence.

Reference semantics: the reference reloads tables wholesale and
validates by row counts (details.py's read-back counting); this is the
continuous content-level replication upgrade, SURVEY §7.2's
ops-extension brief.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from etl_8million_data__spark.operators.maintenance import write_durable

_WATERMARK = "_published.json"
_LOG_SCHEMA = "_schema.json"


def _read_state(log_dir: str) -> dict:
    p = os.path.join(log_dir, _WATERMARK)
    try:
        with open(p) as fh:
            st = json.load(fh)
        return {"upto": int(st["upto"]), "horizon": int(st.get("horizon", 1))}
    except (OSError, ValueError, KeyError, TypeError):
        return {"upto": 0, "horizon": 1}


def _write_state(log_dir: str, upto: int, horizon: int) -> None:
    os.makedirs(log_dir, exist_ok=True)
    write_durable(
        os.path.join(log_dir, _WATERMARK),
        json.dumps({"upto": upto, "horizon": horizon}),
    )


def replay_horizon(log_dir: str) -> int:
    """The lowest commit version the log can still redeliver. A
    consumer replaying from a fresh checkpoint sees every retained
    version >= this; anything below has been truncated and can never
    arrive again — the fact ``diff.vacuum_tombstones`` needs to prove
    a tombstone unreachable before reclaiming it."""
    return _read_state(log_dir)["horizon"]


def read_log_schema(log_dir: str):
    """The pinned change-frame StructType, or None for a log that has
    never published (or a legacy log from before the pin existed)."""
    p = os.path.join(log_dir, _LOG_SCHEMA)
    if not os.path.isfile(p):
        return None
    from pyspark.sql.types import StructType

    with open(p) as fh:
        return StructType.fromJson(json.load(fh))


def _write_log_schema(log_dir: str, schema) -> None:
    os.makedirs(log_dir, exist_ok=True)
    write_durable(os.path.join(log_dir, _LOG_SCHEMA), schema.json())


def _pin_schema(log_dir: str, frame_schema):
    """Reconcile a version's frame schema with the log's pin: first
    publish writes the pin; a WIDENING frame (source evolved — new
    columns) bumps the pin, appending the new fields so every retained
    older frame reads back NULL-extended; a type conflict on an
    existing column raises — silently coercing would corrupt the
    replica. Returns the (possibly bumped) pinned schema."""
    from pyspark.sql.types import StructType

    pin = read_log_schema(log_dir)
    if pin is None:
        _write_log_schema(log_dir, frame_schema)
        return frame_schema
    by_name = {f.name: f for f in pin.fields}
    added = []
    for f in frame_schema.fields:
        have = by_name.get(f.name)
        if have is None:
            added.append(f)
        elif have.dataType != f.dataType:
            raise ValueError(
                f"{log_dir}: change frame column '{f.name}' has type "
                f"{f.dataType.simpleString()} but the log's pinned schema "
                f"says {have.dataType.simpleString()} — a CDC log cannot "
                "carry two types for one column; republish to a fresh log"
            )
    if added:
        pin = StructType(list(pin.fields) + added)
        _write_log_schema(log_dir, pin)
    return pin


def publish_changes(
    spark: SparkSession,
    table_path: str,
    log_dir: str,
    keys: list[str],
    from_version: int | None = None,
    retain_last: int | None = None,
) -> int:
    """Tail the versioned table's commits into the change log: every
    version AFTER the published watermark (or ``from_version`` when the
    log is fresh — the replica's seed version) ships one batch of
    ``table_changes_pruned(v-1, v, include_version=True)`` rows under
    ``log_dir/data/`` as version-named files. Returns the number of
    versions published.

    Idempotent and resumable: the watermark advances only after a
    version's frame is fully written, so a crash re-publishes that one
    version whole — duplicate rows are harmless downstream because the
    versioned apply is max-version-wins (a half-moved frame's files are
    simply joined by the re-publish's full set; same deterministic
    rows, so redundant files carry identical content). Cost per version
    is the metadata-pruned CDC (differing buckets only); a version with
    zero changes writes nothing and still advances the watermark.

    Every version's frame schema reconciles with the log's pinned
    ``_schema.json`` BEFORE its files land (see :func:`_pin_schema`):
    a consumer can never list a file whose columns exceed the pin, so
    an evolved column is never silently dropped by the stream.

    ``retain_last=N`` folds retention into the producer's own cadence:
    after publishing, :func:`truncate_published` keeps the newest N
    versions (a window already at or under N is a no-op), so a
    long-running producer bounds its log without a separate scheduled
    door. The horizon advances accordingly — replicas vacuuming with
    ``log_dir`` validation pick the wider floor up automatically."""
    import shutil
    import uuid

    from etl_8million_data__spark.operators.versioned import (
        _load_manifest,
        table_changes_pruned,
    )

    current = _load_manifest(table_path)["current"]
    st = _read_state(log_dir)
    last = st["upto"]
    if last == 0 and from_version is not None:
        last = from_version
        _write_state(log_dir, last, from_version + 1)
        st = _read_state(log_dir)
    data_dir = os.path.join(log_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    published = 0
    for v in range(last + 1, current + 1):
        ch = table_changes_pruned(
            spark, table_path, keys, v - 1, v, include_version=True
        )
        _pin_schema(log_dir, ch.schema)
        # stage the frame, then move its parquet files in under
        # version-prefixed names: retention (truncate_published) can
        # then delete exactly one version's files, and NO coalesce(1) —
        # a high-drift version's frame must not funnel through a single
        # task; the file source delivers the files in whatever
        # micro-batches it forms (the versioned apply converges under
        # ANY grouping, the property-tested max-version-wins guarantee)
        stage = os.path.join(log_dir, f"_stage_v{v}")
        shutil.rmtree(stage, ignore_errors=True)
        ch.write.mode("overwrite").parquet(stage)
        for i, f in enumerate(
            sorted(x for x in os.listdir(stage) if x.endswith(".parquet"))
        ):
            os.rename(
                os.path.join(stage, f),
                os.path.join(
                    data_dir, f"v{v:012d}-{uuid.uuid4().hex[:8]}-{i}.parquet"
                ),
            )
        shutil.rmtree(stage, ignore_errors=True)
        _write_state(log_dir, v, st["horizon"])
        published += 1
    if retain_last is not None:
        if retain_last < 1:
            raise ValueError(
                f"retain_last must be >= 1, got {retain_last} — a log "
                "retaining zero versions could redeliver nothing"
            )
        floor = _read_state(log_dir)["upto"] - retain_last + 1
        if floor > _read_state(log_dir)["horizon"]:
            truncate_published(log_dir, below_version=floor)
    return published


def truncate_published(log_dir: str, below_version: int) -> int:
    """RETENTION door: delete the log's change files for every version
    < ``below_version`` and advance the replay horizon, so the file
    count stays bounded however many versions the producer ships. The
    horizon is the log's public promise — "versions below this can
    never be redelivered" — which is exactly what
    ``diff.vacuum_tombstones`` needs before reclaiming a delete
    tombstone (a reclaimed tombstone + a redelivered pre-delete change
    = a resurrected key). Monotonic and bounded: a floor at or below
    the current horizon is a no-op; a floor above the next unpublished
    version raises (it would promise non-redelivery of versions that
    were never shipped — callers wanting "truncate everything" pass
    upto + 1). Returns the number of files deleted. Files not matching
    the version-named pattern (a legacy pre-retention log) are KEPT —
    they cannot be attributed to a version, and deleting them could
    break a resumed consumer's redelivery promise."""
    st = _read_state(log_dir)
    if below_version <= st["horizon"]:
        return 0
    if below_version > st["upto"] + 1:
        raise ValueError(
            f"{log_dir}: cannot truncate below version {below_version} — "
            f"only versions up to {st['upto']} were published"
        )
    data_dir = os.path.join(log_dir, "data")
    deleted = 0
    if os.path.isdir(data_dir):
        for f in os.listdir(data_dir):
            if not (f.startswith("v") and f.endswith(".parquet")):
                continue
            try:
                v = int(f[1:13])
            except ValueError:
                continue
            if v < below_version:
                os.remove(os.path.join(data_dir, f))
                deleted += 1
    _write_state(log_dir, st["upto"], below_version)
    return deleted


def changes_stream(spark: SparkSession, log_dir: str) -> DataFrame:
    """The consumer half: a file-source stream over the published log,
    declared with the log's PINNED schema (``_schema.json``) — never a
    single arbitrary footer, which on a mixed-generation log (a source
    schema evolution mid-stream) could resolve to the OLD shape and
    silently drop the evolved column from every newer frame. Older
    frames read back NULL-extended under the pin; the evolved column
    reaches the replica, whose apply door loudly demands
    ``evolve_add_columns`` first. Legacy logs without a pin fall back
    to an eager ``mergeSchema`` footer-merge (still never one arbitrary
    footer). Feed this to operators/diff.stream_apply_changes — the
    ``_commit_version`` column routes it to the max-version-wins
    apply."""
    data_dir = os.path.join(log_dir, "data")
    has_frames = os.path.isdir(data_dir) and any(
        f.endswith(".parquet") for f in os.listdir(data_dir)
    )
    schema = read_log_schema(log_dir)
    if schema is None:
        if not has_frames:
            raise ValueError(
                f"{log_dir}: no published change frames yet — run "
                "publish_changes first so the consumer can derive the "
                "change-frame schema (file sources need a declared schema)"
            )
        schema = (
            spark.read.option("mergeSchema", "true").parquet(data_dir).schema
        )
    return spark.readStream.schema(schema).parquet(data_dir)


def fsck_log(log_dir: str) -> dict:
    """Health audit of a CDC log — the fsck the other persisted
    artifacts of this family already have (index_fsck for the linkage
    stores, checksums_fsck for the bucketed tables). Four invariants,
    each checkable from the log's own listing + parquet footers (via
    pyarrow, driver-side, bounded by the log's file count — no Spark
    jobs):

    - ``n_orphan_stages``: ``_stage_v*`` dirs a crashed publish left
      behind (harmless — the re-publish rmtree's its own stage — but
      they hold disk until swept);
    - ``n_subhorizon_files``: version-named change files BELOW the
      replay horizon. Retention's public promise is that these can
      never be redelivered; a consumer starting fresh would list them
      and redeliver a version ``vacuum_tombstones`` was told is
      impossible — the exact resurrection window the horizon exists to
      close. These are delete-now.
    - ``n_unversioned_files``: parquet files not matching the
      version-named pattern (a legacy pre-retention log): attributable
      to no version, excluded from retention by design, surfaced here
      so an operator knows truncation cannot bound them;
    - ``n_pin_violations``: files whose footer carries a column the
      pinned schema lacks — a publish that bypassed the pin door
      (every column a consumer's declared read would silently drop).

    Returns the counts plus ``consistent`` (1 when all four are zero).
    Repair: :func:`repair_log`."""
    import glob

    pin = read_log_schema(log_dir)
    pin_names = {f.name for f in pin.fields} if pin is not None else None
    horizon = replay_horizon(log_dir)
    n_orphan = len(glob.glob(os.path.join(log_dir, "_stage_v*")))
    data_dir = os.path.join(log_dir, "data")
    n_sub = n_unv = n_pin = 0
    if os.path.isdir(data_dir):
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow is baked in
            pq = None
        for f in sorted(os.listdir(data_dir)):
            if not f.endswith(".parquet"):
                continue
            v = None
            if f.startswith("v"):
                try:
                    v = int(f[1:13])
                except ValueError:
                    v = None
            if v is None:
                n_unv += 1
            elif v < horizon:
                n_sub += 1
            if pin_names is not None and pq is not None:
                cols = set(
                    pq.read_schema(os.path.join(data_dir, f)).names
                )
                if cols - pin_names:
                    n_pin += 1
    return {
        "n_orphan_stages": n_orphan,
        "n_subhorizon_files": n_sub,
        "n_unversioned_files": n_unv,
        "n_pin_violations": n_pin,
        "consistent": int(not (n_orphan or n_sub or n_unv or n_pin)),
    }


def repair_log(log_dir: str) -> dict:
    """Repair the repairable fsck findings: sweep orphaned publish
    stages (crash debris — content is re-derivable, the watermark never
    advanced past it) and delete sub-horizon change files (retention's
    promise made true on disk). Unversioned legacy files and pin
    violations are surfaced, never auto-deleted — both hold data whose
    provenance an operator must decide on (re-publish to a fresh log is
    the documented route). Returns {n_stages_swept, n_files_deleted}."""
    import glob
    import shutil

    n_stages = 0
    for d in glob.glob(os.path.join(log_dir, "_stage_v*")):
        shutil.rmtree(d, ignore_errors=True)
        n_stages += 1
    horizon = replay_horizon(log_dir)
    data_dir = os.path.join(log_dir, "data")
    n_files = 0
    if os.path.isdir(data_dir):
        for f in os.listdir(data_dir):
            if not (f.startswith("v") and f.endswith(".parquet")):
                continue
            try:
                v = int(f[1:13])
            except ValueError:
                continue
            if v < horizon:
                os.remove(os.path.join(data_dir, f))
                n_files += 1
    return {"n_stages_swept": n_stages, "n_files_deleted": n_files}
