"""Shared machinery of the benchmark: run environment, tracing spans,
Spark status reads, host context and the order statistics it reports.

Nothing here touches the program's internals.  Spans wrap the
benchmark's own calls into the program's public functions, and the Spark
figures come from the session's status store after each action.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` (inside the checkout) and size Spark to this host's cores.
    Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    # executor Python workers import the package the way an installed
    # deployment would, instead of relying on the driver's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- ops ----------------------------------------------------------------------


@dataclass
class Op:
    """One timed call into the program.  ``run(p, traced)`` is the call
    the clock covers, for pass ``p``; ``check(p, output)`` compares its
    output with the expected one after the time is taken."""

    name: str
    run: Callable[[object, bool], object]
    check: Callable[[object, object], bool]


# --- order statistics ---------------------------------------------------------


def p50(values):
    return statistics.median(values)


def tail(values):
    """(percentile, value, samples beyond it): the highest percentile that
    leaves at least ten samples above it.  With fewer than eleven samples
    no such percentile exists; the maximum is returned with 0 beyond."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return 100.0, v[-1], 0
    i = n - 11
    return round(100.0 * (i + 1) / n, 2), v[i], n - 1 - i


# --- tracing ------------------------------------------------------------------


class Tracer:
    """In-memory spans: [name, start, end, parent index, op id].

    A span's layer is its name up to the first dot.  Disabled tracers
    hand out one shared null context, so untraced runs pay one attribute
    lookup and a no-op ``with`` per call site."""

    _NULL = contextlib.nullcontext()

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id = 0

    def span(self, name: str):
        if not self.enabled:
            return self._NULL
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def new_op(self) -> None:
        self.op_id += 1

    def durations(self, name: str, lo: int = 0, hi: int | None = None) -> list[float]:
        return [s[2] - s[1] for s in self.spans[lo:hi] if s[0] == name]

    def self_times(self, lo: int = 0, hi: int | None = None) -> dict[str, float]:
        """Per layer: span durations minus the part their children cover."""
        hi = len(self.spans) if hi is None else hi
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans[lo:hi]:
            if s[3] is not None:
                kids.setdefault(s[3], []).append((s[1], s[2]))
        out: dict[str, float] = {}
        for i in range(lo, hi):
            name, t0, t1 = self.spans[i][:3]
            covered, edge = 0.0, t0
            for a, b in sorted(kids.get(i, [])):
                a = max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op}) + "\n")


# --- Spark status -------------------------------------------------------------


class SparkStatus:
    """Stage totals of the jobs run under one job group, read from the
    session's status store once the listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.group = None

    def begin(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group)

    def collect(self) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty(10_000)
        tot = {"tasks": 0, "executor_run_s": 0.0, "shuffle_bytes": 0,
               "spill_bytes": 0, "first_stage_tasks": 0}
        st = self.sc.statusTracker()
        first = None
        for job in sorted(st.getJobIdsForGroup(self.group)):
            info = st.getJobInfo(job)
            for sid in sorted(info.stageIds) if info else []:
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage the store never saw
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                if first is None:
                    first = sd.numTasks()
                tot["tasks"] += sd.numCompleteTasks()
                tot["executor_run_s"] += sd.executorRunTime() / 1000.0
                tot["shuffle_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        tot["first_stage_tasks"] = first or 0
        self.sc._jsc.clearJobGroup()
        return tot


# --- host context -------------------------------------------------------------


def canary_mb_s(n_mib: int = 64) -> float:
    """Single-core sha256 throughput: how fast one core runs right now."""
    buf = b"\xa5" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(n_mib):
        h.update(buf)
    return n_mib / (time.perf_counter() - t0)


def proc_stat():
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals)
    except (OSError, ValueError):
        return None


def proc_io() -> dict[str, int]:
    """This process's /proc/self/io counters (rchar, wchar, read_bytes...)."""
    out = {}
    try:
        with open("/proc/self/io") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k.strip()] = int(v)
    except OSError:
        pass
    return out


class Host:
    def __init__(self):
        self.canary_start = canary_mb_s()
        self.stat0 = proc_stat()

    def finish(self) -> dict[str, float]:
        canary_end = canary_mb_s()
        out = {"canary_mb_s": (self.canary_start + canary_end) / 2}
        stat1 = proc_stat()
        if self.stat0 and stat1 and stat1[1] > self.stat0[1]:
            out["steal_pct"] = 100.0 * (stat1[0] - self.stat0[0]) / (stat1[1] - self.stat0[1])
        else:
            out["steal_pct"] = 0.0
        out["load1"] = os.getloadavg()[0]
        return out


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total
