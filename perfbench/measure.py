"""Measurement core: sample statistics, filesystem diffs, process-tree
CPU time and RSS, and the tracer that reads Spark's status stores per
call.

The tracer is only attached in traced runs; untraced runs time the same
calls with ``time.perf_counter`` and ``CpuClock`` and nothing else.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# --- statistics -----------------------------------------------------------


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least ten samples above it,
    by nearest rank: returns ``(value, percentile, n)``. Below 20
    samples that percentile would not be above the median, so the
    maximum is returned instead, as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("tail of no samples")
    p = 100 * (n - 10) // n
    if p < 50:
        return s[-1], 100, n
    return s[math.ceil(p * n / 100) - 1], p, n


# --- filesystem ---------------------------------------------------------


def fs_snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime_ns, inode) for every regular file under root."""
    snap = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            snap[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return snap


def fs_diff(before: dict, after: dict) -> tuple[int, int, int]:
    """Bytes and data files written between two snapshots (new or
    replaced files), and the number of directories they sit in. Spark's
    hidden and marker files (``.crc``, ``_SUCCESS``) are not data."""
    changed = [
        p
        for p, meta in after.items()
        if before.get(p) != meta and not os.path.basename(p).startswith((".", "_"))
    ]
    return (
        sum(after[p][0] for p in changed),
        len(changed),
        len({os.path.dirname(p) for p in changed}),
    )


# --- memory -------------------------------------------------------------


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``, from /proc."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive (zombies count as ended)."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str, with_children: bool) -> int:
    """utime + stime (and cutime + cstime) from a /proc stat file."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11 : 15 if with_children else 13])


# HotSpot's JIT compilers and code cache sweeper (names cut to 15 chars)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


class CpuClock:
    """CPU seconds spent by this process and all its descendants (the
    JVM and its Python workers), children that have exited included.

    On a shared host a slow run is mostly one whose CPUs were taken by
    someone else (steal) or whose threads queued for a core; neither is
    charged as CPU time, so CPU seconds measure the program's own work
    far more steadily than wall time does.

    Left out: the JVM's JIT compiler threads, which keep compiling for
    many passes after a warm-up and would make the figure drift, and the
    threads listed in ``exclude`` (the benchmark's own samplers). A left-out
    thread that ends keeps being subtracted at its last reading, because
    its time stays in its process's total. ``jit_s`` is the JIT time
    left out so far."""

    def __init__(self):
        self.exclude: list[int] = []
        self._left_out: dict[tuple[int, int], int] = {}
        self._jit: set[tuple[int, int]] = set()

    def _read_left_out(self, pid: int) -> None:
        task = f"/proc/{pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as f:
                    if not f.read().startswith(JIT_THREADS):
                        continue
                self._left_out[pid, int(tid)] = _cpu_ticks(f"{task}/{tid}/stat", with_children=False)
                self._jit.add((pid, int(tid)))
            except (OSError, IndexError, ValueError):
                continue  # the thread ended: its last reading stands

    def now(self) -> float:
        me = os.getpid()
        ticks = 0
        for pid in [me, *descendants(me)]:
            try:
                ticks += _cpu_ticks(f"/proc/{pid}/stat", with_children=True)
                if pid != me:
                    self._read_left_out(pid)
            except (OSError, IndexError, ValueError):
                continue  # ended between the listing and the read
        for tid in self.exclude:
            try:
                self._left_out[me, tid] = _cpu_ticks(f"/proc/{me}/task/{tid}/stat", with_children=False)
            except (OSError, IndexError, ValueError):
                continue
        return (ticks - sum(self._left_out.values())) * _TICK_S

    @property
    def jit_s(self) -> float:
        return sum(self._left_out[k] for k in self._jit) * _TICK_S


def _tree_rss_kb(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants (this
    Python process, the JVM, and its Python workers), summed as PSS so that
    pages the forked workers share are counted once."""
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory on a thread;
    ``peak_mb`` is the largest sum seen while the sampler ran. The
    thread's own CPU time is kept out of ``clock``."""

    def __init__(self, clock: CpuClock, period_s: float = 0.2):
        self.clock, self.period_s, self.peak_kb = clock, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        self.clock.exclude.append(threading.get_native_id())
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# --- tracing --------------------------------------------------------------

_SIZE = re.compile(r"([\d.]+) (ms|s|min|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
PY_TIME_METRIC = "time to run Python workers"


def _rendered_seconds(text: str) -> float:
    """Seconds from a rendered SQL timing metric: either ``"2.0 s"`` or
    ``"total (min, med, max ...)\\n2.0 s (...)"`` (the total comes first
    on the value line)."""
    line = text.strip().splitlines()[-1]
    m = _SIZE.search(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def _scala_keys(scala_map) -> list:
    it = scala_map.keys().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Tracer:
    """Spans and per-call Spark counters for a traced run.

    ``call(layer)`` runs a block under its own job group, times it, and
    afterwards adds to ``layer``'s counters the jobs, tasks, task time,
    CPU time, shuffle and spill bytes, failed tasks, and Python worker
    time of exactly the jobs that group launched, read from Spark's
    status stores. Spans are kept in memory: (name, parent, start, end).
    The reads happen after the block's wall time is taken; their cost
    shows as the traced run's overhead.
    """

    def __init__(self, spark, cores: int):
        self.spark, self.cores = spark, cores
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[tuple[str, str | None, float, float]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[str] = []
        self._calls: list[str] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((name, parent, t0, t1))
            self.counters[f"{name}.s"] += t1 - t0

    @contextmanager
    def call(self, layer: str):
        """Run a block as one call into ``layer``. Calls nest: an outer
        layer's counts include the jobs of the calls made inside it."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{layer}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, layer)
        self._calls.append(layer)
        t0 = time.perf_counter()
        try:
            with self.span(layer):
                yield
        finally:
            wall = time.perf_counter() - t0
            self._calls.pop()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev_desc or prev)
            self.counters[f"{layer}.busy_wall_s"] += wall
            for name, value in self._job_counts(group).items():
                for owner in [layer, *self._calls]:
                    self.counters[f"{owner}.{name}"] += value

    def _job_counts(self, group: str) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self.jsc.statusStore()
        jobs = set(tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(
            ("jobs", "tasks", "failed_tasks", "task_s", "task_cpu_s",
             "shuffle_write_bytes", "spill_bytes", "python_eval_s"),
            0.0,
        )
        out["jobs"] = len(jobs)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["task_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
        if jobs:
            out["python_eval_s"] = self._python_seconds(jobs)
        return out

    def _python_seconds(self, jobs: set[int]) -> float:
        """Python worker time of the SQL executions that ran ``jobs``
        (newest first; stops at the first execution older than them)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        ex = sql.executionsList()
        total, oldest = 0.0, min(jobs)
        for i in range(ex.size() - 1, -1, -1):
            e = ex.apply(i)
            ids = {int(j) for j in _scala_keys(e.jobs())}
            if ids and max(ids) < oldest:
                break
            if not ids & jobs:
                continue
            rendered = sql.executionMetrics(e.executionId())
            metrics = e.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == PY_TIME_METRIC:
                    v = rendered.get(m.accumulatorId())
                    if v.isDefined():
                        total += _rendered_seconds(v.get())
        return total

    def core_busy(self, layer: str) -> float:
        """Task time divided by (wall time x cores) over the layer's calls."""
        wall = self.counters.get(f"{layer}.busy_wall_s", 0.0)
        return self.counters.get(f"{layer}.task_s", 0.0) / (wall * self.cores) if wall else 0.0

    def catalyst_phases(self, df) -> None:
        """Analysis, optimization and planning time of ``df``'s own query
        execution, from Spark's planning tracker (forces planning of the
        frame; the noop write plans its own copy)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                self.counters[f"catalyst.{phase}_s"] += phases.apply(phase).durationMs() / 1e3
