"""One measurement core: the session warm-up, the one timing loop
(``sample``), the query bench's timed boundary (``time_query``), a
job-group counter (``count_jobs``) and the executed-plan scan metrics
(``scan_partition_metrics``), for ``bench.py``, ``tools/`` and the
tests.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from types import SimpleNamespace
from typing import Any, Callable, Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# The local properties SparkContext.setJobGroup sets, saved and
# restored around a count_jobs block.
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def warm_session(spark: SparkSession) -> None:
    """Warm up JVM/codegen/parquet-footer paths, and the Python/Arrow
    worker pool so the first pandas-UDF query is not charged ~2 s of
    interpreter startup."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    noop_write(spark.range(100).mapInPandas(lambda it: it, "id long"))


def noop_write(df: DataFrame) -> None:
    """Execute ``df`` through the noop sink: the whole plan runs, but no
    rows are materialized on the driver."""
    df.write.format("noop").mode("overwrite").save()


def sample(fn: Callable[[], Any], n: int, warm: int = 0) -> tuple[list[float], Any]:
    """Call ``fn`` ``warm`` times untimed, then ``n`` times each timed
    with ``time.perf_counter``. Returns the ``n`` samples in seconds and
    the last call's result."""
    for _ in range(warm):
        fn()
    samples, result = [], None
    for _ in range(n):
        t0 = time.perf_counter()
        result = fn()
        samples.append(time.perf_counter() - t0)
    return samples, result


def time_query(spark: SparkSession, query, sf_dir: str, n: int, warm: int = 0) -> list[float]:
    """Time ``n`` noop-sink executions of a registered query, after
    ``warm`` discarded build-and-execute passes. Each sample builds a
    fresh plan.

    TIMED-BOUNDARY CONTRACT: the clock starts AFTER ``build()``, so
    anything ``build()`` eagerly materializes
    (``localCheckpoint(eager=True)``) runs untimed. The rule for query
    authors: no NEW eager materialization may be added to a build path
    unless the materialized frame is provably O(model) — k centroids, a
    codebook, a band signature — never O(data). Data-sized staging must
    be lazy (``eager=False``) so it computes inside the timed region.
    ``tests/test_plan_invariants.py::test_fit_checkpoints_are_model_sized``
    pins the fit lane's side of this contract."""
    samples: list[float] = []
    for _ in range(warm + n):
        df = query.build(spark, sf_dir)
        samples += sample(lambda: noop_write(df), 1)[0]
    return samples[warm:]


@contextmanager
def count_jobs(sc: SparkContext, group: str) -> Iterator[SimpleNamespace]:
    """Run a ``with`` block under job group ``group``. On exit the
    yielded counter's ``n`` is the number of jobs the block added to
    that group, and the caller's previous job group (or none) is set
    again, so later jobs are not charged to ``group``."""
    prev = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    job_ids = sc.statusTracker().getJobIdsForGroup
    before, jobs = set(job_ids(group)), SimpleNamespace(n=0)
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        jobs.n = len(set(job_ids(group)) - before)
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def scan_partition_metrics(df: DataFrame, path_fragment: str) -> list[dict]:
    """Execute ``df`` and return the {numFiles, numPartitions} metrics
    of every FileSourceScan whose location contains ``path_fragment`` —
    the ground truth for partition-pruning claims (plan text can carry
    a dynamicpruning filter that degrades to `true` at runtime; these
    metrics cannot lie)."""
    df.collect()
    found: list[dict] = []
    seen: set[str] = set()

    def matches(node) -> bool:
        # node.toString() TRUNCATES long locations — when pytest's
        # numbered temp directory gained a digit, the index dir name
        # fell off the truncated string and this helper silently found
        # no scans. The file index's rootPaths are never truncated;
        # toString stays as fallback.
        try:
            roots = node.relation().location().rootPaths().mkString(",")
            if path_fragment in roots:
                return True
        except Exception:
            pass
        return path_fragment in node.toString()

    def walk(node):
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name and matches(node):
            key = node.toString().splitlines()[0]
            if key not in seen:
                seen.add(key)
                m = node.metrics()
                it = m.keys().iterator()
                vals = {}
                while it.hasNext():
                    k = it.next()
                    vals[k] = m.get(k).get().value()
                found.append(vals)
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())
        for attr in ("executedPlan", "finalPhysicalPlan", "plan"):
            try:
                walk(getattr(node, attr)())
            except Exception:
                pass

    walk(df._jdf.queryExecution().executedPlan())
    return found
