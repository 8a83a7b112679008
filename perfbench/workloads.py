"""The benchmark's workloads. Each runs one client in a closed loop: the
next operation starts when the previous one has finished.

An operation is one registry query (``Query.build`` then a noop write)
for the query mixes, and one ``run_all`` pass for the reference ETL.
Output checks run outside the timed region; a failed check or an
exception marks the operations it covers as failed and the run goes on.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import inputs
from measure import fs_diff, fs_snapshot

from etl_8million_data__spark.catalog import TABLES
from etl_8million_data__spark.pipelines import run as run_mod
from etl_8million_data__spark.plans import all_queries
from etl_8million_data__spark.schemas import FINANCIALS_KEYS

SF = 0.01  # scale factor of the generated query tables

# Arrow/pandas UDF kernels and model fits (operators.similarity, .dedup).
VECTOR = (
    "similarity_knn_bruteforce",
    "similarity_knn_int8",
    "multimodal_feature_extract",
    "dedup_minhash_lsh_pairs",
)

ETL_SYMBOLS = 40  # cold-load universe
ETL_DELTA = 10  # symbols appended before the delta pass


@dataclass
class Run:
    """What one workload run produced: per-operation wall and CPU times
    and outcomes, per-iteration wall and CPU times, and
    workload-specific extras."""

    op_s: list[float] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)
    op_ok: list[bool] = field(default_factory=list)
    iter_s: list[float] = field(default_factory=list)
    iter_cpu_s: list[float] = field(default_factory=list)
    extra: dict[str, list[float]] = field(default_factory=dict)

    def add_extra(self, name: str, value: float) -> None:
        self.extra.setdefault(name, []).append(value)


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


# --- query mixes ------------------------------------------------------------


def _norm(v) -> str:
    """Type-tagged canonical text of one value, so that Spark and DuckDB
    results hash alike exactly when they agree in value and kind."""
    import datetime as dt
    import math
    from decimal import Decimal

    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"d:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def result_digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the values, with the
    columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join([",".join(sorted(columns))] + lines).encode())
    return len(rows), h.hexdigest()


def oracle_digest(sql: str, sf_dir: str) -> tuple[int, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        tbl = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    cols = tbl.column_names
    return result_digest(cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()])


class QueryMix:
    # CPU per pass (JIT left out) on 4 cores: 19 s, 5.3, 4.7, 4.2, then
    # 3.4-4.1 s from the fifth pass on. With fewer warm passes the median
    # over the timed loop depends on how many passes it fits.
    warm_passes = 4

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name, self.queries = name, queries

    def prepare(self, ctx) -> None:
        inputs.write_tables(ctx.data_dir, SF, ctx.seed)

    def iteration(self, ctx, run: Run, tracer=None) -> None:
        registry = all_queries()
        t_iter, c_iter = time.perf_counter(), ctx.cpu.now()
        for name in self.queries:
            query = registry[name]
            t0, c0 = time.perf_counter(), ctx.cpu.now()
            try:
                with tracer.call("plans.build") if tracer else nullcontext():
                    df = query.build(ctx.spark, ctx.data_dir)
                with tracer.call("exec") if tracer else nullcontext():
                    df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception:
                _log_failure(name)
                ok = False
            run.op_s.append(time.perf_counter() - t0)
            run.op_cpu_s.append(ctx.cpu.now() - c0)
            run.op_ok.append(ok)
            if tracer and ok:
                tracer.catalyst_phases(df)
        run.iter_s.append(time.perf_counter() - t_iter)
        run.iter_cpu_s.append(ctx.cpu.now() - c_iter)

    def check(self, ctx, run: Run) -> None:
        """Compare each query once with its DuckDB oracle; operations of a
        query that does not match count as failed."""
        registry = all_queries()
        bad = set()
        for name in self.queries:
            query = registry[name]
            try:
                df = query.build(ctx.spark, ctx.data_dir)
                got = result_digest(df.columns, [tuple(r) for r in df.collect()])
                want = oracle_digest(query.oracle, ctx.data_dir)
                if got != want:
                    print(f"perfbench: {name}: spark {got} != oracle {want}", file=sys.stderr)
                    bad.add(name)
            except Exception:
                _log_failure(f"check of {name}")
                bad.add(name)
        n = len(self.queries)
        run.op_ok = [ok and self.queries[i % n] not in bad for i, ok in enumerate(run.op_ok)]


# --- reference ETL ----------------------------------------------------------


class EtlReference:
    name = "etl_reference"
    # CPU per cycle (JIT left out) on 4 cores: 36 s, 19.5 s, then
    # 15.5-17 s from the third cycle on
    warm_passes = 2

    def prepare(self, ctx) -> None:
        os.makedirs(ctx.data_dir, exist_ok=True)
        self.base, self.delta = inputs.etl_symbols(ctx.seed, ETL_SYMBOLS, ETL_DELTA)
        rng = random.Random(ctx.seed)
        # a fixed share of calls fail or come back double-encoded
        failing = rng.sample(self.base, ETL_SYMBOLS // 20) + rng.sample(self.delta, 1)
        good = [s for s in self.base + self.delta if s not in failing]
        self.fetch = inputs.FetchFn(ctx.seed, failing, rng.sample(good, len(good) // 10))
        self.csv = os.path.join(ctx.data_dir, "universe.csv")
        self._cycle = 0

    def _expected_rows(self, symbols: list[str]) -> int:
        return inputs.ROWS_PER_SYMBOL * sum(s not in self.fetch.failing for s in symbols)

    def _pass(self, ctx, run: Run, wh: str, tracer) -> dict | None:
        t0, c0 = time.perf_counter(), ctx.cpu.now()
        try:
            with tracer.call("exec") if tracer else nullcontext():
                counts = run_mod.run_all(ctx.spark, self.csv, wh, self.fetch)
        except Exception:
            _log_failure("run_all")
            counts = None
        run.op_s.append(time.perf_counter() - t0)
        run.op_cpu_s.append(ctx.cpu.now() - c0)
        run.op_ok.append(counts is not None)
        if tracer and counts is not None:
            # the quote snapshot is written by run_all itself after the
            # summary stage returns, so its span is the rest of the pass
            ends = {name: t1 for name, _, _, t1 in tracer.spans[-4:]}
            tracer.counters["quotes.s"] += ends["exec"] - ends["summary"]
        return counts

    def _check(self, ctx, wh: str, counts: dict, symbols: list[str], n_new: int) -> bool:
        fact = ctx.spark.read.parquet(os.path.join(wh, "financials"))
        summary = ctx.spark.read.parquet(os.path.join(wh, "summary"))
        checks = {
            "new symbols": counts["new_symbols"] == n_new,
            "fact rows": counts["financials"] == self._expected_rows(symbols),
            "fact key unique": fact.select(*FINANCIALS_KEYS).distinct().count() == counts["financials"],
            "one summary row per symbol": counts["summary"] == len(symbols)
            and summary.select("stock").distinct().count() == len(symbols),
        }
        for what, ok in checks.items():
            if not ok:
                print(f"perfbench: etl check failed: {what} ({counts})", file=sys.stderr)
        return all(checks.values())

    def iteration(self, ctx, run: Run, tracer=None) -> None:
        base, new = self.base, self.delta
        self._cycle += 1
        wh = os.path.join(ctx.data_dir, f"warehouse-{self._cycle}")
        inputs.write_universe(self.csv, base)
        with _trace_stages(tracer) if tracer else nullcontext():
            cold = self._pass(ctx, run, wh, tracer)
            cold_ok = cold is not None and self._check(ctx, wh, cold, base, len(base))
            run.op_ok[-1] = cold_ok
            inputs.write_universe(self.csv, base + new)
            sink = os.path.join(wh, "financials")
            before, before_sink = fs_snapshot(wh), fs_snapshot(sink)
            delta = self._pass(ctx, run, wh, tracer)
        ok = (
            cold_ok
            and delta is not None
            and self._check(ctx, wh, delta, base + new, len(new))
            and delta["financials"] - cold["financials"] == self._expected_rows(new)
        )
        run.op_ok[-1] = ok
        run.iter_s.append(run.op_s[-2] + run.op_s[-1])
        run.iter_cpu_s.append(run.op_cpu_s[-2] + run.op_cpu_s[-1])
        run.add_extra("run_all.cold_s", run.op_s[-2])
        run.add_extra("run_all.delta_s", run.op_s[-1])
        delta_rows = delta["financials"] - cold["financials"] if ok else 0
        if delta_rows:
            after, after_sink = fs_snapshot(wh), fs_snapshot(sink)
            # bytes of the delta's own rows: its share of the fact's data files
            fact_bytes = fs_diff({}, after_sink)[0]
            delta_bytes = delta_rows * fact_bytes / delta["financials"]
            run.add_extra("upsert.delta_write_amp", fs_diff(before, after)[0] / delta_bytes)
            run.add_extra("financials.rows_out", delta["financials"])
            if tracer:
                b, f, d = fs_diff(before_sink, after_sink)
                run.add_extra("upsert.bytes_written", b)
                run.add_extra("upsert.files_written", f)
                run.add_extra("upsert.partitions_rewritten", d)
        shutil.rmtree(wh, ignore_errors=True)

    def check(self, ctx, run: Run) -> None:
        """The ETL checks each pass as it goes (see ``iteration``)."""


class _trace_stages:
    """Wrap the stage functions ``run_all`` calls so each gets its own
    span and job group; restores the originals on exit."""

    STAGES = {
        "ingest": "ingest",
        "build_financials_fact": "financials",
        "build_summary_dim": "summary",
    }

    def __init__(self, tracer):
        self.tracer, self.saved = tracer, {}

    def __enter__(self):
        tracer = self.tracer
        for attr, layer in self.STAGES.items():
            fn = self.saved[attr] = getattr(run_mod, attr)

            def wrapped(*a, _fn=fn, _layer=layer, **kw):
                with tracer.call(_layer):
                    out = _fn(*a, **kw)
                if _layer == "ingest":
                    tracer.counters["ingest.symbols_fetched"] += out
                return out

            setattr(run_mod, attr, wrapped)
        return self

    def __exit__(self, *exc):
        for attr, fn in self.saved.items():
            setattr(run_mod, attr, fn)


WORKLOADS = {
    w.name: w
    for w in (
        EtlReference(),
        QueryMix("query_vector", VECTOR),
    )
}
