"""The full three-step DAG (SURVEY §3.4): CSV universe -> bronze ->
fact + dim + quotes, idempotent under re-run, and incremental: the
fact and the dim are derived from only the bronze rows newer than the
warehouse's loaded_at watermark."""

from __future__ import annotations

import os
import time

import pytest

from etl_8million_data__spark.pipelines import run as run_mod
from etl_8million_data__spark.pipelines.run import WATERMARK_FILE, run_all
from etl_8million_data__spark.sources.pyds import _fetch_one

# fixture payload: 3 statements x 2 freqs x 2 dates x 3 metrics
_ROWS_PER_SYMBOL = 36
_BASE = ["AAA", "BBB", "CCC", "DDD", "EEE", "FFF"]


def _universe(tmp_path, symbols: list[str]) -> str:
    csv = tmp_path / "universe.csv"
    csv.write_text("symbol\n" + "".join(f"{s}\n" for s in symbols))
    return str(csv)


def _watermark(wh: str) -> str | None:
    path = os.path.join(wh, WATERMARK_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


def _fact_files(fact: str) -> dict[str, tuple[int, int]]:
    """(mtime_ns, size) of every parquet file, keyed by relative path."""
    out = {}
    for dirpath, _, files in os.walk(fact):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                out[os.path.relpath(p, fact)] = (st.st_mtime_ns, st.st_size)
    return out


def test_run_all_stages_end_to_end(spark, tmp_path):
    csv = tmp_path / "stocks_full.csv"
    csv.write_text(
        "symbol,company,industry,market_cap\n"
        "AAA,Alpha,Tech,32.42B\n"
        "BBB ,Beta,Energy,963.4M\n"   # needs strip-cleaning
        "AAA,Alpha Dup,Tech,32.42B\n"  # dedup on symbol
        ",NoSym,None,1B\n"             # dropped
        "CCC,Gamma,Retail,-\n"
    )
    wh = str(tmp_path / "wh")
    counts = run_all(spark, str(csv), wh, _fetch_one)
    assert counts["new_symbols"] == 3  # AAA BBB CCC
    assert counts["financials"] == 3 * _ROWS_PER_SYMBOL
    assert counts["summary"] == 3
    assert counts["quotes"] == 2  # head(2) quote slice parity

    # re-run: incremental anti-join + keyed upserts => no growth
    again = run_all(spark, str(csv), wh, _fetch_one)
    assert again == {**counts, "new_symbols": 0}

    # a warehouse written before the watermark existed derives every
    # stored row once: same counts, and the watermark is the store's max
    mark = _watermark(wh)
    os.remove(os.path.join(wh, WATERMARK_FILE))
    assert run_all(spark, str(csv), wh, _fetch_one) == again
    assert _watermark(wh) == mark


def test_replay_and_one_symbol_delta_touch_only_their_partitions(spark, tmp_path):
    wh = str(tmp_path / "wh")
    fact = os.path.join(wh, "financials")
    run_all(spark, _universe(tmp_path, _BASE), wh, _fetch_one)
    cold = _fact_files(fact)

    # replay: nothing new, so the fact's files are left exactly as they were
    replay = run_all(spark, _universe(tmp_path, _BASE), wh, _fetch_one)
    assert replay["new_symbols"] == 0
    assert _fact_files(fact) == cold

    # a 1-symbol delta rewrites only the partitions of that symbol's bucket
    delta = run_all(spark, _universe(tmp_path, _BASE + ["ZZZ"]), wh, _fetch_one)
    assert delta["new_symbols"] == 1
    assert delta["financials"] == (len(_BASE) + 1) * _ROWS_PER_SYMBOL
    (bucket,) = {
        r.stock_bucket
        for r in spark.read.parquet(fact).filter("stock = 'ZZZ'").select("stock_bucket").collect()
    }
    after = _fact_files(fact)
    outside = {k: v for k, v in cold.items() if f"stock_bucket={bucket}/" not in k}
    assert outside, "every base symbol shares the delta's bucket: the check is vacuous"
    assert {k: after.get(k) for k in outside} == outside


def test_crash_between_sinks_rederives_on_next_run(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    run_all(spark, _universe(tmp_path, _BASE), wh, _fetch_one)
    mark = _watermark(wh)
    assert mark is not None

    def crash(*a, **kw):
        raise RuntimeError("crash after the fact commit")

    universe = _universe(tmp_path, _BASE + ["XXX", "YYY"])
    monkeypatch.setattr(run_mod, "build_summary_dim", crash)
    with pytest.raises(RuntimeError, match="crash after the fact commit"):
        run_all(spark, universe, wh, _fetch_one)
    # the fact committed but the dim did not: the watermark must not move
    assert _watermark(wh) == mark
    monkeypatch.undo()

    counts = run_all(spark, universe, wh, _fetch_one)
    assert counts["new_symbols"] == 0  # ingested by the crashed run
    assert counts["financials"] == (len(_BASE) + 2) * _ROWS_PER_SYMBOL
    assert counts["summary"] == len(_BASE) + 2
    dim = spark.read.parquet(os.path.join(wh, "summary"))
    assert dim.select("stock").distinct().count() == len(_BASE) + 2
    assert int(_watermark(wh)) > int(mark)


def test_delta_arrives_when_python_tz_is_not_utc(spark, tmp_path):
    """The watermark is epoch micros: a naive local datetime written as
    text and parsed back in the session's UTC would sit 9 h ahead under
    Asia/Tokyo and skip the delta batch."""
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"
    time.tzset()
    try:
        wh = str(tmp_path / "wh")
        run_all(spark, _universe(tmp_path, _BASE), wh, _fetch_one)
        delta = run_all(spark, _universe(tmp_path, _BASE + ["ZZZ"]), wh, _fetch_one)
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert delta["new_symbols"] == 1
    assert delta["financials"] == (len(_BASE) + 1) * _ROWS_PER_SYMBOL
    assert delta["summary"] == len(_BASE) + 1
