"""The query ops of the ``spark`` workload: the 21 headline labels of
``bench.py`` over the parquet tables under ``perfbench/data``.

Each op rebuilds its plan and collects it (the cache is cleared before
every op).  Every result is hashed with ``oracle.value_hash`` and
compared with ``refs.json``.
"""

from __future__ import annotations

import importlib
import json
import os
from concurrent.futures import ThreadPoolExecutor

from harness import BENCH_DIR, Op, cores, p50

# label -> "module:function" actually timed.  Resolved from this table,
# not from the registry, so a builder swap behind a label cannot go
# unnoticed: registered labels must resolve to the registry's builder.
LABELS = {
    "q01_scan_count": "shardpack_spark.queries.relational:q01_scan_count",
    "q03_project_filter": "shardpack_spark.queries.relational:q03_project_filter",
    "q05_join_inner": "shardpack_spark.queries.relational:q05_join_inner",
    "q07_join_left": "shardpack_spark.queries.relational:q07_join_left",
    "q11_asof_join": "shardpack_spark.queries.relational:q11_asof_join",
    "q12_agg_tpch_q1": "shardpack_spark.queries.relational:q12_agg_tpch_q1",
    "q16_window_rank": "shardpack_spark.queries.relational:q16_window_rank",
    "q18_topk": "shardpack_spark.queries.relational:q18_topk",
    "q25_time_windows": "shardpack_spark.queries.streaming_batch:q25_time_windows",
    "q27_session_window": "shardpack_spark.queries.streaming_batch:q27_session_window",
    "q28_exact_dedup": "shardpack_spark.queries.llm:q28_exact_dedup",
    "q29_fuzzy_dedup_lsh": "shardpack_spark.queries.llm:fuzzy_dedup_lsh",
    "q30b_ann_suite": "shardpack_spark.queries.llm:q30b_ann_suite",
    "q31_text_stats": "shardpack_spark.queries.llm:q31_text_stats",
    "q34_lang_id": "shardpack_spark.queries.llm:q34_lang_id",
    "q42_window_analytics": "shardpack_spark.queries.relational_ext:q42_window_analytics",
    "q50_tpch_q3_shape": "shardpack_spark.queries.tpch_shapes:q50_tpch_q3_shape",
    "q51_tpch_q5_shape": "shardpack_spark.queries.tpch_shapes:q51_tpch_q5_shape",
    "q52_tpch_q10_shape": "shardpack_spark.queries.tpch_shapes:tpch_q10_variant",
    "q54_hypertable_rollup": "shardpack_spark.queries.llm_ext:q54_hypertable_rollup",
    "q57_pivot": "shardpack_spark.queries.pivot_explode:q57_pivot",
}

# bench-only labels: timed builders that are not registry entries; their
# references come from a variant of the named registered entry
BENCH_ONLY = {
    "q29_fuzzy_dedup_lsh": ("q29_fuzzy_dedup", "oph"),
    "q52_tpch_q10_shape": ("q52_tpch_shapes", "q10"),
}

# labels whose builders are operator chains (operators have no timer of
# their own; their cost shows in these labels' exec_s)
OPERATOR_LABELS = ("q11", "q27", "q28", "q29", "q30b", "q31", "q34", "q42")

SF = {"full": "sf0.01", "tiny": "sf0.001"}


def resolve(label: str):
    mod, _, fn = LABELS[label].partition(":")
    return getattr(importlib.import_module(mod), fn)


def builder_swaps() -> list[str]:
    """Registered labels whose registry builder is not the one timed."""
    from shardpack_spark.queries import load_all

    reg = load_all()
    return [
        label for label in LABELS
        if label not in BENCH_ONLY
        and (label not in reg or reg[label].builder is not resolve(label))
    ]


def prepare(ctx) -> list[Op]:
    """Load the tables and return one op per label."""
    from shardpack_spark.oracle import value_hash
    from shardpack_spark.tables import TABLE_NAMES, load_table

    spark, tr = ctx.spark, ctx.tracer
    sf = SF[ctx.scale]
    sf_dir = os.path.join(BENCH_DIR, "data", sf)
    with open(os.path.join(BENCH_DIR, "refs.json")) as f:
        refs = json.load(f)[sf]
    swapped = set(builder_swaps())
    if swapped:
        ctx.notes.append("builder swapped behind label(s): " + ", ".join(sorted(swapped)))

    # all tables at once, a core's worth at a time: one span for the lot
    with tr.span("tables.load_table"), ThreadPoolExecutor(max_workers=cores()) as pool:
        list(pool.map(lambda name: load_table(spark, sf_dir, name), TABLE_NAMES))

    def op(label: str) -> Op:
        builder = resolve(label)

        def run(p, traced: bool):
            with tr.span(f"queries.{label}.build"):
                df = builder(spark, sf_dir)
            with tr.span(f"job.{label}"):
                return df.columns, df.collect()

        def check(p, out) -> bool:
            cols, rows = out
            return (label not in swapped
                    and value_hash(cols, [tuple(r) for r in rows]) == refs[label]["hash"])

        return Op(label, run, check)

    return [op(label) for label in LABELS]


def report(ctx, status: dict) -> None:
    """Per-layer figures of the query ops, from the traced passes."""
    out = ctx.layer
    out["tables.load_table_s"] = (ctx.tracer.durations("tables.load_table")[0], "s")
    out["queries.build_s"] = (ctx.self_times.get("queries", 0.0), "s")
    for label in LABELS:
        out[f"queries.{label}.build_s"] = (p50(ctx.durations(f"queries.{label}.build")), "s")
        out[f"queries.{label}.exec_s"] = (p50(ctx.durations(f"job.{label}")), "s")
        out[f"exec.{label}.shuffle_bytes"] = (
            p50([s["shuffle_bytes"] for s in status[label]]), "bytes")
    out["operators.exec_s"] = (
        sum(p50(ctx.durations(f"job.{label}")) for label in LABELS
            if label.split("_")[0] in OPERATOR_LABELS), "s")
