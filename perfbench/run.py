"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process: pins the environment,
starts the session on local[<cores>], generates the workload's inputs
from the seed, runs untimed warm passes, then runs the workload in a
closed loop for S seconds and checks every output. The end-to-end times
are CPU seconds of the whole process tree (see ``measure.CpuClock``);
wall times are printed beside them. With ``--trace 1`` it
then runs the same loop again with spans and Spark counters around each
call into a layer, and reports the per-layer numbers and the overhead.

Earlier stdout lines describe the run; the last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402  (imports the engine: fails fast without it)

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "run_cpu_s": "s",
    "op_cpu_p50_s": "s",
    "op_cpu_tail_s": "s",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "ingest.s": "s",
    "ingest.jobs": "count",
    "ingest.symbols_fetched": "count",
    "financials.s": "s",
    "financials.jobs": "count",
    "financials.rows_out": "count",
    "summary.s": "s",
    "quotes.s": "s",
    "run_all.cold_s": "s",
    "run_all.delta_s": "s",
    "upsert.bytes_written": "bytes",
    "upsert.files_written": "count",
    "upsert.partitions_rewritten": "count",
    "upsert.delta_write_amp": "ratio",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_tasks": "count",
    "plans.build_core_busy": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.core_busy": "ratio",
    "exec.task_cpu_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_eval_s": "s",
    "exec.failed_tasks": "count",
    "trace.overhead_s": "s",
}
# per-layer metric -> tracer counter, where the names differ
_COUNTER = {
    "plans.build_s": "plans.build.s",
    "plans.build_jobs": "plans.build.jobs",
    "plans.build_tasks": "plans.build.tasks",
}
SETUP_REPEATS = 3


class Context:
    def __init__(self, spark, data_dir: str, seed: int, cpu: measure.CpuClock):
        self.spark, self.data_dir, self.seed, self.cpu = spark, data_dir, seed, cpu


def pin_environment(work: str, cores: int) -> dict:
    """Everything the run writes goes under ``work``: temp files,
    Spark's local dirs, the JVM's tmpdir and Derby's home."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            # JIT threads that come and go could end between two CPU
            # readings and escape CpuClock's JIT exclusion
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UseDynamicNumberOfCompilerThreads' "
            "pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def timed_loop(workload, ctx, seconds: float, tracer=None) -> workloads.Run:
    """Closed loop, one client: whole iterations until ``seconds`` of
    operation time have been spent (at least one iteration)."""
    run = workloads.Run()
    while not run.iter_s or sum(run.iter_s) < seconds:
        workload.iteration(ctx, run, tracer)
    return run


def per_layer(tracer: measure.Tracer, run: workloads.Run, start_s: float, overhead_s: float,
              rss_mb: float) -> dict:
    n = len(run.iter_s)
    out = {}
    for name in PER_LAYER:
        if name in run.extra:
            out[name] = measure.median(run.extra[name])
        elif name == "plans.build_core_busy":
            out[name] = tracer.core_busy("plans.build")
        elif name == "exec.core_busy":
            out[name] = tracer.core_busy("exec")
        else:
            out[name] = tracer.counters.get(_COUNTER.get(name, name), 0.0) / n
    out["session.start_s"] = start_s
    out["peak_rss_mb"] = rss_mb
    out["trace.overhead_s"] = overhead_s
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process the run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    descendants = measure.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    measure.wait_gone(descendants, timeout_s=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    workload = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        env = pin_environment(work, cores)
        from pyspark import __version__ as pyspark_version
        from pyspark import cloudpickle

        # the generated fetch_fn ships to Python workers by value: the
        # benchmark's modules are not importable there
        cloudpickle.register_pickle_by_value(inputs)

        from etl_8million_data__spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        start_s = t_session - T_PROCESS

        cpu = measure.CpuClock()
        gen_s = []
        for i in range(SETUP_REPEATS):
            ctx = Context(spark, os.path.join(work, f"data-{i}"), args.seed, cpu)
            t = time.perf_counter()
            workload.prepare(ctx)
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = workloads.Run()
        for _ in range(workload.warm_passes):
            workload.iteration(ctx, warm)
        warm_s = time.perf_counter() - t
        setup_s = start_s + measure.median(gen_s) + warm_s

        print("perfbench env: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "pyspark": pyspark_version,
            "scale_factor": workloads.SF, "etl_symbols": workloads.ETL_SYMBOLS,
            "etl_delta": workloads.ETL_DELTA,
            **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")},
        }), flush=True)

        t, jit_warm = time.perf_counter(), cpu.jit_s
        with measure.RssSampler(cpu) as rss:
            run = timed_loop(workload, ctx, args.seconds)
        t_check, jit_run = time.perf_counter(), cpu.jit_s - jit_warm
        workload.check(ctx, run)
        print(f"perfbench: setup = {start_s:.2f} s to session + {measure.median(gen_s):.2f} s inputs "
              f"(median of {SETUP_REPEATS}) + {warm_s:.2f} s warm-up ({len(warm.iter_s)} passes); timed loop {t_check - t:.2f} s; "
              f"checks {time.perf_counter() - t_check:.2f} s; JIT CPU left out {jit_warm:.2f} s in set-up, "
              f"{jit_run:.2f} s in the timed loop", flush=True)
        runs = [run]

        if args.trace:
            tracer = measure.Tracer(spark, cores)
            traced = timed_loop(workload, ctx, args.seconds, tracer)
            workload.check(ctx, traced)
            runs.append(traced)
            overhead = measure.median(traced.iter_s) - measure.median(run.iter_s)

        attempted = sum(len(r.op_ok) for r in runs)
        failed = sum(not ok for r in runs for ok in r.op_ok)
        tail_s, tail_pct, n_ops = measure.tail(run.op_cpu_s)
        e2e = {
            "setup_s": setup_s,
            "run_cpu_s": measure.median(run.iter_cpu_s),
            "op_cpu_p50_s": measure.median(run.op_cpu_s),
            "op_cpu_tail_s": tail_s,
            "ok_ratio": (attempted - failed) / attempted,
        }
        print(f"perfbench: {len(run.iter_s)} iterations, {n_ops} operations; "
              f"op_cpu_tail_s is p{tail_pct} of {n_ops}", flush=True)
        print("perfbench: warm-up iterations, wall / CPU s: "
              + " ".join(f"{w:.3f}/{c:.3f}" for w, c in zip(warm.iter_s, warm.iter_cpu_s)))
        print("perfbench: timed iterations, wall / CPU s: "
              + " ".join(f"{w:.3f}/{c:.3f}" for w, c in zip(run.iter_s, run.iter_cpu_s)))
        print("perfbench: operations, wall / CPU s: "
              + " ".join(f"{w:.3f}/{c:.3f}" for w, c in zip(run.op_s, run.op_cpu_s)), flush=True)
        for name, value in e2e.items():
            print(f"perfbench: {name} = {value:.6g} {END_TO_END[name]}")
        print(f"perfbench: wall time: run_s = {measure.median(run.iter_s):.6g} s, "
              f"op_p50_s = {measure.median(run.op_s):.6g} s; peak_rss_mb = {rss.peak_mb:.6g} MB")
        for name, values in sorted(run.extra.items()):
            print(f"perfbench: {name} = {measure.median(values):.6g} (median of {len(values)})")
        if args.trace:
            metrics = per_layer(tracer, traced, t_session - t0, overhead, rss.peak_mb)
            units = PER_LAYER
            for name, value in metrics.items():
                print(f"perfbench: {name} = {value:.6g} {units[name]}")
        else:
            metrics, units = e2e, END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
