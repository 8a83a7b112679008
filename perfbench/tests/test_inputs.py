import json
from collections import Counter

import pyarrow.parquet as pq
import pytest
from inputs import (
    ROWS_PER_SYMBOL,
    FetchFn,
    etl_symbols,
    fact_bucket,
    symbol_name,
    write_tables,
    write_universe,
)

from etl_8million_data__spark.catalog import TABLES


def test_tables_are_seeded(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    write_tables(a, 0.001, seed=3)
    write_tables(b, 0.001, seed=3)
    write_tables(c, 0.001, seed=4)
    for t in TABLES:
        ta, tb = (pq.read_table(f"{d}/{t}.parquet") for d in (a, b))
        assert ta.equals(tb), t
    assert not pq.read_table(f"{a}/orders.parquet").equals(pq.read_table(f"{c}/orders.parquet"))


def test_etl_symbols_spread_evenly_over_buckets():
    base, delta = etl_symbols(seed=9, n_base=40, n_delta=10)
    assert len(set(base + delta)) == 50
    per_bucket = Counter(fact_bucket(s) for s in base)
    assert len(per_bucket) == 16 and set(per_bucket.values()) == {2, 3}
    assert {fact_bucket(s) for s in delta} <= set(per_bucket)
    assert (base, delta) == etl_symbols(seed=9, n_base=40, n_delta=10)
    assert base != etl_symbols(seed=10, n_base=40, n_delta=10)[0]


def test_fetch_fn_branches():
    symbols = [symbol_name(i) for i in range(30)]
    fetch = FetchFn(seed=1, failing=symbols[:3], double=symbols[3:6])
    for s in symbols[:3]:
        with pytest.raises(RuntimeError):
            fetch(s)
    for s in symbols[3:]:
        out = fetch(s)
        assert isinstance(out, str) == (s in symbols[3:6])
        payload = json.loads(out) if isinstance(out, str) else out
        assert payload == (json.loads(fetch(s)) if isinstance(out, str) else fetch(s))
        n = sum(len(m) for f in ("cashflow", "balancesheet", "incomestatement")
                for freq in payload[f].values() for m in freq.values())
        assert n == ROWS_PER_SYMBOL == 1440
        prose = payload["info"]["longBusinessSummary"]
        assert "founded in" in prose and "formerly known as" in prose and "headquartered in" in prose


def test_universe_has_dirty_rows(tmp_path):
    path = str(tmp_path / "u.csv")
    write_universe(path, ["AAA", "BBB"])
    lines = open(path).read().splitlines()
    assert lines[0] == "symbol,company" and len(lines) == 1 + 2 + 3
