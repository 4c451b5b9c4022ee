"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload spark --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Spark runs as ``local[N]`` with N the
host's cores, one client drives a closed loop, and every scratch file
lives under ``.perfbench_work/`` (removed at exit).  Human-readable lines
name every metric with its unit; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer ones (``--trace 1``).  Traced
runs also write their spans to ``.perfbench_out/``.  See NOTES.md.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import ROOT, Host, Tracer, p50  # noqa: E402

WORKLOADS = ("spark", "random_access")

# the JSON line's metrics: the same names on every workload (BENCHMARK.json)
E2E = ("setup_s", "pass_s", "format_s")
PER_LAYER = (
    "pass.driver_s", "pass.driver_cpu_s", "pass.driver_read_bytes",
    "trace.overhead_pct", "host.canary_mb_s", "host.steal_pct", "host.load1",
)

# every end-to-end metric of every workload, printed on every run
REPORTED = (
    ("setup_s", "s", "all"), ("error_ratio", "ratio", "all"),
    ("pass_s", "s", "all"), ("format_s", "s", "all"),
    ("write_mb_s", "MB/s", "random_access"), ("scan_mb_s", "MB/s", "random_access"),
    ("spark_scan_mb_s", "MB/s", "spark"),
    ("spark_repack_mb_s", "MB/s", "spark"),
    ("bytes_per_user_byte", "ratio", "random_access"),
    ("getitem_p50_ms", "ms", "random_access"),
    ("getitem_tail_ms", "ms", "random_access"),
    ("lookup_p50_ms", "ms", "random_access"),
    ("lookup_tail_ms", "ms", "random_access"),
    ("spark_lookup_p50_s", "s", "spark"),
)


class Context:
    """What a workload needs: the session, the tracer, the run settings,
    the closed loop, and the counters and metric tables it fills in."""

    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.scale, self.work = args.scale, work
        self.tracer = Tracer(self.trace)
        self.spark = None
        self.attempted = self.failed = 0
        self.e2e: dict[str, tuple] = {}  # name -> (value, unit)
        self.tails: dict[str, str] = {}  # name -> "(pXX, k beyond, n=...)"
        self.layer: dict[str, tuple] = {}
        self.unmeasured: list[tuple[str, str]] = []  # (name, why)
        self.spark_ops: list[dict] = []  # status totals of traced Spark ops
        self.notes: list[str] = []
        self.traced_passes: list[tuple[int, int]] = []  # span index ranges
        self.self_times: dict[str, float] = {}
        self.device_read_bytes = 0
        self.corpus_bytes = 0  # user payload of the workload's corpus
        self._t_measure = None

    def setup_done(self) -> None:
        self._t_measure = time.perf_counter()
        self.e2e["setup_s"] = (self._t_measure - T0, "s")

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def loop(self, one_pass, min_passes: int = 1) -> None:
        """Closed loop of passes for ``seconds``, and at least
        ``min_passes`` untraced ones.  ``one_pass(p, traced)`` runs pass
        ``p`` and returns its timed seconds.  A traced run alternates
        untraced and traced passes (at least one traced) so the two can
        be compared; end-to-end figures come only from untraced passes,
        and each workload sets its own ``pass_s``.  A traced run prints
        no end-to-end figure, so one untraced pass is enough there."""
        if self.trace:
            min_passes = 1
        passes, traced = [], []
        cpu, rchar = [], []
        p = 0
        while (len(passes) < min_passes or (self.trace and not traced)
               or time.perf_counter() - self._t_measure < self.seconds):
            is_traced = self.trace and len(traced) < len(passes)
            self.tracer.enabled = is_traced
            lo, t0, io0 = len(self.tracer.spans), os.times(), harness.proc_io()
            dt = one_pass(p, is_traced)
            if is_traced:
                t1 = os.times()
                cpu.append(t1.user + t1.system - t0.user - t0.system)
                rchar.append(harness.proc_io()["rchar"] - io0["rchar"])
                traced.append(dt)
                self.traced_passes.append((lo, len(self.tracer.spans)))
            else:
                passes.append(dt)
            p += 1
        self.tracer.enabled = self.trace
        self.notes.append("untraced passes (s): " + " ".join(f"{t:.3f}" for t in passes))
        if not self.trace:
            return
        self.layer["trace.overhead_pct"] = (
            100.0 * (p50(traced) - p50(passes)) / p50(passes), "%")
        n = len(self.traced_passes)
        for lo, hi in self.traced_passes:
            for layer, v in self.tracer.self_times(lo, hi).items():
                self.self_times[layer] = self.self_times.get(layer, 0.0) + v / n
        self.layer["pass.driver_s"] = (
            sum(v for k, v in self.self_times.items() if k != "job"), "s")
        self.layer["pass.driver_cpu_s"] = (p50(cpu), "s")
        self.layer["pass.driver_read_bytes"] = (p50(rchar), "bytes")
        if self.spark_ops:
            self.layer["pass.spark_job_s"] = (self.self_times.get("job", 0.0), "s")
            for key, unit in (("executor_run_s", "s"), ("tasks", "count"),
                              ("spill_bytes", "bytes")):
                self.layer[f"exec.{key}"] = (
                    sum(s[key] for s in self.spark_ops) / n, unit)

    def durations(self, name: str) -> list[float]:
        """Durations of span ``name`` over the traced passes."""
        return [d for lo, hi in self.traced_passes
                for d in self.tracer.durations(name, lo, hi)]

    def tail(self, name: str, values: list, scale: float = 1.0) -> float:
        pct, v, beyond = harness.tail(values)
        self.tails[name] = f" (p{pct:g}, {beyond} samples beyond, n={len(values)})"
        return v * scale


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001 tables and a few-MB corpus (self-check)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "shardpack_spark", "__init__.py")):
        print(f"perfbench: no shardpack_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.prepare_env(work)
    ctx = Context(args, work)
    try:
        _run(ctx, args.workload)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    _report(ctx, args)
    return 0


def _run(ctx: Context, workload: str) -> None:
    import importlib

    sys.path.insert(0, ROOT)
    wl = importlib.import_module(f"wl_{workload}")
    host = Host()
    io0 = harness.proc_io()
    if wl.SPARK:
        with ctx.tracer.span("session.get_spark"):
            from shardpack_spark.session import get_spark

            ctx.spark = get_spark(f"perfbench_{workload}")
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.notes.append(f"session ready {time.perf_counter() - T0:.2f} s after start")
    try:
        wl.run(ctx)
    finally:
        if ctx.spark is not None:
            harness.stop_spark(ctx.spark)
    ctx.device_read_bytes = harness.proc_io().get("read_bytes", 0) - io0.get("read_bytes", 0)
    for k, v in host.finish().items():
        ctx.layer[f"host.{k}"] = (v, {"canary_mb_s": "MB/s", "steal_pct": "%", "load1": "count"}[k])
    if ctx.trace:
        if wl.SPARK:
            ctx.layer["session.get_spark_s"] = (ctx.tracer.durations("session.get_spark")[0], "s")
        else:
            ctx.unmeasured.append(("session.*, exec.*", "no Spark session on this workload"))
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        ctx.tracer.dump(os.path.join(out, f"spans-{workload}-seed{ctx.seed}.jsonl"))
        for layer, s in sorted(ctx.self_times.items()):
            ctx.layer[f"self_s.{layer}"] = (s, "s")


def _report(ctx: Context, args) -> None:
    p = print
    p(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
      f"trace={args.trace} scale={args.scale} cores={harness.cores()} "
      + (f"spark=local[{harness.cores()}] " if ctx.spark is not None else "spark=none ")
      + "clients=1 loop=closed")
    p("# storage: every read is served from the OS page cache (the format has no "
      f"block cache of its own); device reads by the driver process: "
      f"{ctx.device_read_bytes} bytes")
    p("# host: " + " ".join(f"{k}={_fmt(v)} {u}" for k, (v, u) in ctx.layer.items()
                            if k.startswith("host.")))
    for note in ctx.notes:
        p(f"# {note}")
    ratio = ctx.failed / max(1, ctx.attempted)
    e2e = dict(ctx.e2e, error_ratio=(ratio, "ratio"))
    if not ctx.trace:
        for name, unit, where in REPORTED:
            if name in e2e:
                p(f"metric {name} = {_fmt(e2e[name][0])} {unit}"
                  + (f" ({ctx.failed} of {ctx.attempted} ops)" if name == "error_ratio" else "")
                  + ctx.tails.get(name, ""))
            else:
                p(f"metric {name} = n/a {unit} (measured on {where})")
    else:
        p(f"metric error_ratio = {_fmt(ratio)} ratio ({ctx.failed} of {ctx.attempted} ops)")
        for name, (v, unit) in ctx.layer.items():
            p(f"layer {name} = {_fmt(v)} {unit}")
        for name, why in ctx.unmeasured:
            p(f"layer {name} = n/a ({why})")
    names = PER_LAYER if ctx.trace else E2E
    src = ctx.layer if ctx.trace else e2e
    metrics = {n: {"value": src[n][0], "unit": src[n][1]} for n in names if n in src}
    p(json.dumps({"correct": ctx.failed == 0 and len(metrics) == len(names),
                  "attempted": ctx.attempted, "failed": ctx.failed,
                  "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
