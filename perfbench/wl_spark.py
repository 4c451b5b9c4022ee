"""``spark``: every Spark path of the program, in one session.

Each pass runs, in an order shuffled by the seed, the 21 headline
labels of ``bench.py`` over parquet (``spark_queries``) and the three
DataSource ops over a packed corpus: full scan, point lookup and zstd
repack (``spark_datasource``).  Set-up loads the tables, packs the
corpus and runs every op once untimed.  The cache is cleared before
every op; only the op's call is timed, and its output is checked after.
"""

from __future__ import annotations

import random
import time
from concurrent.futures import ThreadPoolExecutor

import spark_datasource
import spark_queries
from harness import Op, SparkStatus, cores, p50

SPARK = True
# per-op medians over this many untraced passes at least: one slow job
# in one pass then does not move pass_s
MIN_PASSES = 2


def warm_up(ctx, queries: list[Op], legs: list[Op]) -> None:
    """Run every op once, untimed: JIT, Python workers, table footers and
    the codec paths.  The queries and the DataSource reads run a core's
    worth at a time, the reads one after another in one task started
    first; the repack runs alone after them (run beside other jobs, the
    Spark-side write fails with a Py4JJavaError).  The tracer is off:
    its span stack is per process, not per thread."""
    reads = [o for o in legs if o.name != "spark_repack"]
    writes = [o for o in legs if o.name == "spark_repack"]

    def chain():
        for o in reads:
            o.run("warm", False)

    enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
    with ThreadPoolExecutor(max_workers=cores()) as pool:
        reads_done = pool.submit(chain)
        list(pool.map(lambda o: o.run("warm", False), queries))
        reads_done.result()
    for o in writes:
        o.check("warm", o.run("warm", False))  # the check removes the output
    ctx.spark.catalog.clearCache()
    ctx.tracer.enabled = enabled


def run(ctx) -> None:
    spark, tr = ctx.spark, ctx.tracer
    marks = [("start", time.perf_counter())]
    queries = spark_queries.prepare(ctx)
    marks.append(("tables", time.perf_counter()))
    legs = spark_datasource.prepare(ctx)
    marks.append(("pack", time.perf_counter()))
    warm_up(ctx, queries, legs)
    marks.append(("warm_up", time.perf_counter()))
    ctx.notes.append("set-up after the session (s): " + " ".join(
        f"{name}={t - marks[i][1]:.2f}" for i, (name, t) in enumerate(marks[1:])))
    ops = queries + legs
    times: dict[str, list[float]] = {o.name: [] for o in ops}
    status_of: dict[str, list[dict]] = {o.name: [] for o in ops}

    def one_pass(p, traced: bool) -> float:
        status = SparkStatus(spark) if traced else None
        order = list(ops)
        random.Random(ctx.seed * 1000 + p).shuffle(order)
        total = 0.0
        for o in order:
            tr.new_op()
            spark.catalog.clearCache()
            if status:
                status.begin(f"pb-{tr.op_id}")
            t0 = time.perf_counter()
            out = o.run(p, traced)
            dt = time.perf_counter() - t0
            if status:
                totals = status.collect()
                ctx.spark_ops.append(totals)
                status_of[o.name].append(totals)
            else:  # end-to-end figures come from untraced passes only
                times[o.name].append(dt)
            ctx.count(o.check(p, out))
            total += dt
        return total

    ctx.setup_done()
    ctx.loop(one_pass, min_passes=MIN_PASSES)
    # bench.py's estimator: the sum of per-op medians over the passes
    ctx.e2e["pass_s"] = (sum(p50(v) for v in times.values()), "s")
    ctx.e2e["format_s"] = (sum(p50(times[o.name]) for o in legs), "s")
    ctx.notes.append("op medians (s): " + " ".join(
        f"{name.split('_')[0] if name in spark_queries.LABELS else name}={p50(v):.3f}"
        for name, v in times.items()))
    spark_datasource.report(ctx, times, status_of)
    if not ctx.trace:
        return
    spark_queries.report(ctx, status_of)
    ctx.unmeasured.append((
        "writer.*, commit.*, storage.*, codec.*, reader.*",
        "measured on random_access: the format work of Spark jobs runs in "
        "Spark's Python workers, separate processes"))
