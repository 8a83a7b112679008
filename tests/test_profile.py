"""The measurement core (etl_8million_data__spark/profile.py): the
sampling primitive, the job-group counter, and an import smoke test of
every script that times through it."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

from etl_8million_data__spark import profile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sample_discards_warm_calls_and_returns_last_result():
    calls = []

    def fn():
        calls.append(len(calls))
        return len(calls)

    samples, last = profile.sample(fn, 3, warm=2)
    assert len(calls) == 5
    assert len(samples) == 3 and all(s >= 0 for s in samples)
    assert last == 5
    assert profile.sample(fn, 0) == ([], None)


def test_count_jobs_counts_only_its_own_jobs_and_restores_the_group(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("profile-outer", "outer description")
    try:
        sc.parallelize([1, 2, 3]).count()
        with profile.count_jobs(sc, "profile-inner") as jobs:
            sc.parallelize([1, 2, 3]).count()
            sc.parallelize([4, 5]).count()
        assert jobs.n == 2
        assert sc.getLocalProperty("spark.jobGroup.id") == "profile-outer"
        assert sc.getLocalProperty("spark.job.description") == "outer description"
        sc.parallelize([1]).count()
        assert len(tracker.getJobIdsForGroup("profile-outer")) == 2
        assert len(tracker.getJobIdsForGroup("profile-inner")) == 2
        # re-entering the same group counts only the new block's jobs
        with profile.count_jobs(sc, "profile-inner") as again:
            sc.parallelize([1]).count()
        assert again.n == 1
    finally:
        for key in profile._JOB_GROUP_PROPS:
            sc.setLocalProperty(key, None)
    # with no group set before, none is left set after
    with profile.count_jobs(sc, "profile-bare"):
        sc.parallelize([1]).count()
    assert sc.getLocalProperty("spark.jobGroup.id") is None


@pytest.mark.parametrize(
    "path",
    [os.path.join(REPO, "bench.py")] + sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))),
    ids=os.path.basename,
)
def test_entry_script_imports(path, monkeypatch):
    """Every script's work sits under its __main__ guard, so importing
    runs nothing; a script importing a name the package no longer has
    fails here."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = f"_import_smoke_{os.path.splitext(os.path.basename(path))[0]}"
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, module)
    spec.loader.exec_module(module)
    assert callable(module.main)
