"""Write ``refs.json``: the reference result hash of every query label
at each scale the benchmark runs (sf0.01 timed, sf0.001 self-check).

    python3 perfbench/make_refs.py

Registered labels take the hash of their DuckDB oracle SQL.  The two
bench-only builders take the hash of their variant's rows in the oracle
of the registered entry they come from (variant column dropped), and
each is confirmed against one Spark run of the builder before it is
written.  Every hash is ``oracle.value_hash`` of (columns, rows).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import BENCH_DIR, ROOT  # noqa: E402


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", "refs")
    harness.prepare_env(work)
    sys.path.insert(0, ROOT)
    from shardpack_spark.oracle import duckdb_connection, value_hash
    from shardpack_spark.queries import load_all
    from shardpack_spark.session import get_spark
    from spark_queries import BENCH_ONLY, LABELS, SF, builder_swaps, resolve

    if builder_swaps():
        print("builder swapped behind:", builder_swaps(), file=sys.stderr)
        return 1
    reg = load_all()
    spark = get_spark("perfbench_refs")
    out: dict[str, dict] = {}
    try:
        for sf in SF.values():
            sf_dir = os.path.join(BENCH_DIR, "data", sf)
            con = duckdb_connection(sf_dir)
            refs = out[sf] = {}
            for label in LABELS:
                if label in BENCH_ONLY:
                    entry, variant = BENCH_ONLY[label]
                    cur = con.execute(
                        f"SELECT * EXCLUDE (variant) FROM ({reg[entry].oracle}) "
                        f"WHERE variant = '{variant}'")
                    source = f"duckdb oracle of {entry}, variant '{variant}'"
                else:
                    cur = con.execute(reg[label].oracle)
                    source = "duckdb oracle"
                cols = [d[0] for d in cur.description]
                rows = [tuple(r) for r in cur.fetchall()]
                h = value_hash(cols, rows)
                if label in BENCH_ONLY:
                    df = resolve(label)(spark, sf_dir)
                    got = value_hash(df.columns, [tuple(r) for r in df.collect()])
                    if got != h:
                        print(f"{sf} {label}: Spark {got} != oracle {h}", file=sys.stderr)
                        return 1
                    source += "; confirmed by a Spark run of the builder"
                refs[label] = {"hash": h, "rows": len(rows), "source": source}
                print(sf, label, len(rows), h[:12], file=sys.stderr)
            con.close()
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(BENCH_DIR, "refs.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
