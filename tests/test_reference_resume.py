"""Resumable reference pipeline (tools/reference_scale_run.run_resume):
the full ingest -> unpivot -> upsert chain against a PERSISTENT
workdir must be (a) a provable end-to-end no-op when nothing changed —
skip-existing ingest (details.py:277-281) finds zero symbols, the
fact watermark admits zero payloads, and the fact's files are not
rewritten — and (b) exactly incremental when the universe grows: only
the delta is fetched, only its fact rows are upserted, and the row
count grows by precisely delta x fan-out (Financilas.py:175-182
batch-upsert semantics). Scale-reduced here for suite time; the same
tool runs the full 5,510-symbol scale from the CLI (REFERENCE_SCALE.md
records the measured passes)."""

from __future__ import annotations

import os

import pytest

from tools.reference_scale_run import FOLDERS, N_METRICS, QUARTERLY_DATES, YEARLY_DATES, run_resume

_FANOUT = len(FOLDERS) * (len(YEARLY_DATES) + len(QUARTERLY_DATES)) * N_METRICS
_N = 300


def _file_state(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size)
    return out


@pytest.mark.slow
def test_resume_noop_then_exact_delta(spark, tmp_path):
    wd = str(tmp_path / "ref_resume")

    m1 = run_resume(spark, wd, n_symbols=_N)
    assert m1["n_new_symbols"] == _N
    assert m1["n_fresh_payloads"] == _N
    assert m1["fact_upsert_ran"]
    assert m1["n_fact_rows"] == _N * _FANOUT

    fact_dir = os.path.join(wd, "financials")
    before = _file_state(fact_dir)

    # pass 2: nothing changed -> end-to-end no-op, fact bytes untouched
    m2 = run_resume(spark, wd, n_symbols=_N)
    assert m2["n_new_symbols"] == 0
    assert m2["n_fresh_payloads"] == 0
    assert not m2["fact_upsert_ran"]
    assert m2["n_fact_rows"] == _N * _FANOUT
    assert _file_state(fact_dir) == before

    # pass 3: 7 new symbols -> only the delta is fetched and upserted
    m3 = run_resume(spark, wd, delta=7, n_symbols=_N)
    assert m3["n_new_symbols"] == 7
    assert m3["n_fresh_payloads"] == 7
    assert m3["fact_upsert_ran"]
    assert m3["n_fact_rows"] == (_N + 7) * _FANOUT

    # blast radius: the bucketed layout leaves most partition
    # directories' files byte-identical (only touched (statement,
    # bucket) dirs were swapped in by the commit door)
    after = _file_state(fact_dir)
    untouched = sum(
        1 for k, v in before.items() if after.get(k) == v and k.endswith(".parquet")
    )
    total = sum(1 for k in before if k.endswith(".parquet"))
    assert untouched >= 0.5 * total, (untouched, total)

    # pass 4: the grown universe replays as a no-op again
    m4 = run_resume(spark, wd, delta=7, n_symbols=_N)
    assert m4["n_new_symbols"] == 0
    assert not m4["fact_upsert_ran"]
    assert m4["n_fact_rows"] == (_N + 7) * _FANOUT
