"""bench.py's regression adjudication path: the shared regression rule
(boot-normalized 25% + noise floor), the committed-baseline policy
(isolated min carries forward so a cleared flag cannot re-flag next
round off its own inflated in-run sample), and the lane flow itself,
driven by a stub sampler so it runs without Spark."""

from __future__ import annotations

import json
import os
import shutil
from types import SimpleNamespace

import pytest

import bench
from bench import (
    SENTINELS,
    commit_baseline,
    regressed,
    run_bench,
    run_lane,
    summary_line,
)


def test_regression_rule():
    # no prior -> never regressed
    assert not regressed(5.0, None, 0.15, 1.0)
    assert not regressed(5.0, 0.0, 0.15, 1.0)
    # clear regression: 1.0 -> 2.0, beyond 25% and noise
    assert regressed(2.0, 1.0, 0.15, 1.0)
    # within the 25% band
    assert not regressed(1.2, 1.0, 0.15, 1.0)
    # beyond 25% but inside the noise floor (tiny absolute delta)
    assert not regressed(0.05, 0.02, 0.15, 1.0)
    # boot factor normalizes a slow host out of the comparison
    assert not regressed(2.0, 1.0, 0.15, 2.1)
    assert regressed(4.0, 1.0, 0.15, 2.0)
    # FAST boots clamp to raw comparison: a flat raw time is never a
    # regression just because the sentinels sped up...
    assert not regressed(1.0, 1.0, 0.15, 0.7)
    # ...but raw growth on a fast boot still flags
    assert regressed(1.6, 1.0, 0.15, 0.7)
    # measured spread wider than the delta -> noise, not regression
    assert not regressed(2.0, 1.0, 1.5, 1.0)


def test_commit_baseline_carries_isolated_min_forward():
    timings = {"a": 2.0, "b": 1.0, "c": 3.0}
    isolated = {"a": 1.1, "c": 3.4}  # a cleared in isolation; c did not improve
    out = commit_baseline(timings, isolated)
    # cleared flag: the isolated (reproducible) min is committed
    assert out["a"] == 1.1
    # isolation never WORSENS the committed baseline
    assert out["c"] == 3.0
    # un-flagged queries keep their in-run time
    assert out["b"] == 1.0
    # inputs are not mutated
    assert timings["a"] == 2.0


def test_tail_rotation_covers_everything_deterministically():
    from bench import TAIL_PER_ROUND, tail_rotation

    names = [f"q{i:03d}" for i in range(137)]
    benched = {f"q{i:03d}" for i in range(0, 137, 5)}  # 28 "headline" names
    tail = sorted(set(names) - benched)

    # deterministic: same inputs -> same sample
    assert tail_rotation(names, benched, 3) == tail_rotation(names, benched, 3)
    # never samples a headline/baseline query, always <= k names
    for r in range(1, 10):
        s = tail_rotation(names, benched, r)
        assert not set(s) & benched
        assert len(s) == min(TAIL_PER_ROUND, len(tail))
    # full coverage within ceil(|tail|/k) consecutive rounds
    import math

    need = math.ceil(len(tail) / TAIL_PER_ROUND)
    covered = set()
    for r in range(1, need + 1):
        covered |= set(tail_rotation(names, benched, r))
    assert covered == set(tail)
    # a tail smaller than k is fully sampled every round
    assert tail_rotation(["a", "b"], [], 7) == ["a", "b"]
    # empty tail is fine
    assert tail_rotation(list(benched), benched, 1) == []


def _stub_sampler(values):
    """measure(name, n) stub: each call takes the next value queued for
    ``name`` and returns it as n identical samples."""
    calls = []

    def measure(name, n):
        calls.append((name, n))
        return [values[name].pop(0)] * n

    return measure, calls


def test_lane_adjudicates_candidates_in_isolation():
    prior = {q: {"t": 1.0, "spread": 0.0} for q in ("cleared", "slow", "flat")}
    measure, calls = _stub_sampler(
        {"cleared": [2.0, 1.05], "slow": [2.0, 2.0], "flat": [1.0]}
    )
    isolations = []
    lane = run_lane(
        measure,
        lambda: isolations.append(len(calls)),
        ["cleared", "slow", "flat"],
        3,
        prior,
        lambda first: 1.0,
    )
    assert lane.first_pass == {"cleared": 2.0, "slow": 2.0, "flat": 1.0}
    assert set(lane.candidates) == {"cleared", "slow"}
    # caches are cleared once, after the first pass, before the reruns
    assert isolations == [3]
    assert calls == [
        ("cleared", 3), ("slow", 3), ("flat", 3), ("cleared", 3), ("slow", 3)
    ]
    assert lane.isolated == {"cleared": 1.05, "slow": 2.0}
    # a flag that clears in isolation is no regression, and its
    # isolated min is what gets committed
    assert "cleared" not in lane.regressions
    assert commit_baseline(lane.first_pass, lane.isolated)["cleared"] == 1.05
    # a flag that stays slow is confirmed
    assert lane.regressions["slow"].endswith("CONFIRMED")
    assert "isolated rerun 2.00s" in lane.regressions["slow"]


def test_bench_round_records_tail_history_and_keeps_the_record_shape():
    all_names = SENTINELS + ["tail_x", "tail_y"]
    prev = {
        "queries": {s: 1.0 for s in SENTINELS},
        "spread": {},
        "sentinel_total": 3.0,
        "tail_round": 4,
        "tail_history": {"tail_x": {"t": 0.5, "spread": 0.0, "round": 3}},
    }
    values = {s: [1.0] for s in SENTINELS}
    values.update({"tail_x": [2.0, 2.0], "tail_y": [0.3]})
    measure, _ = _stub_sampler(values)
    full = run_bench(prev, all_names, measure, lambda: None)

    assert full["tail_round"] == 5
    assert full["tail_sampled"] == ["tail_x", "tail_y"]
    assert full["tail_history"]["tail_x"] == {"t": 2.0, "spread": 0.0, "round": 5}
    assert full["tail_history"]["tail_y"] == {"t": 0.3, "spread": 0.0, "round": 5}
    msg = full["tail_regressions_vs_last_sample"]["tail_x"]
    assert msg.startswith("0.50s (round 3) -> 2.00s raw") and msg.endswith("CONFIRMED")
    assert full["regressions_vs_prev"] == {}
    assert full["value"] == 3.0 and full["sentinel_total"] == 3.0

    # the record and the stdout line keep the committed key sets
    full["sf"] = 0.01
    with open(os.path.join(os.path.dirname(__file__), "..", "BENCH_FULL.json")) as f:
        assert set(full) == set(json.load(f))
    line = summary_line(full)
    assert set(json.loads(line)) == {
        "metric", "value", "unit", "queries", "sf", "n_queries",
        "baseline_lane_total", "sentinel_total", "regressions", "tail", "full",
    }
    assert json.loads(line)["tail"] == {"round": 5, "n": 2, "total": 2.3, "regressions": 1}


def _stub_main(monkeypatch, tmp_path, sf_dir):
    """Point ``bench.main`` at a copy of the committed BENCH_FULL.json
    in ``tmp_path`` and at Spark-free stand-ins; returns the copy."""
    record = tmp_path / "BENCH_FULL.json"
    shutil.copy(os.path.join(os.path.dirname(__file__), "..", "BENCH_FULL.json"), record)
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
        catalog=SimpleNamespace(clearCache=lambda: None),
        stop=lambda: None,
    )
    names = SENTINELS + ["tail_x"]
    query = SimpleNamespace(build=lambda spark, sf_dir: None)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "DEFAULT_SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "get_spark", lambda app: spark)
    monkeypatch.setattr(bench, "all_queries", lambda: dict.fromkeys(names, query))
    monkeypatch.setattr(bench.profile, "warm_session", lambda spark: None)
    monkeypatch.setattr(bench.profile, "noop_write", lambda df: None)
    monkeypatch.setattr(
        bench.profile, "time_query", lambda spark, q, sf_dir, n: [0.5] * n
    )
    return record


def test_main_refuses_priors_of_another_scale_factor(monkeypatch, tmp_path, capsys):
    # the found case: an sf0.01 run against the committed sf0.1 record
    record = _stub_main(monkeypatch, tmp_path, "/data/sf0.01")
    committed = record.read_bytes()
    assert json.loads(committed)["sf"] == 0.1
    with pytest.raises(SystemExit, match="sf=0.1 but this run is sf=0.01"):
        bench.main()
    assert record.read_bytes() == committed

    # a run at the record's own scale factor compares and rewrites it
    _stub_main(monkeypatch, tmp_path, "/data/sf0.1")
    bench.main()
    assert json.loads(record.read_text())["sf"] == 0.1
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["sf"] == 0.1
