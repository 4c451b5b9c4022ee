"""Self-check of the benchmark at tiny scale (sf0.001 tables, a few-MB
corpus).  Each case runs ``perfbench/run.py`` as its own process, the way
the benchmark is meant to be run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from run import E2E, PER_LAYER, REPORTED, WORKLOADS  # noqa: E402

WORKLOAD_LAYERS = {
    "spark": ["session.get_spark_s", "tables.load_table_s", "queries.build_s",
              "queries.q29_fuzzy_dedup_lsh.build_s", "queries.q29_fuzzy_dedup_lsh.exec_s",
              "exec.q29_fuzzy_dedup_lsh.shuffle_bytes", "exec.spill_bytes",
              "exec.executor_run_s", "exec.tasks", "operators.exec_s",
              "datasource.plan_s", "datasource.scan_s", "datasource.lookup_s",
              "datasource.write_s", "datasource.partitions",
              "datasource.lookup_partitions", "datasource.pickled_bytes"],
    "random_access": ["writer.write_s", "writer.close_s", "commit.manifest_bytes",
                      "reader.open_s", "reader.bytes_read_per_lookup",
                      "reader.bytes_read_per_getitem", "reader.bytes_read_per_miss",
                      "reader.lookup_read_amplification", "codec.read_index_ms",
                      "codec.read_record_at_ms", "codec.encode_mb_s.zstd",
                      "codec.decode_mb_s.zstd", "codec.decode_mb_s.none",
                      "storage.bytes_written_per_user_byte",
                      "storage.bytes_read_per_scan_byte"],
}


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc, proc.stdout.strip().splitlines()


def metric_lines(lines: list[str], prefix: str) -> dict[str, str]:
    out = {}
    for line in lines:
        if line.startswith(prefix + " "):
            name, _, rest = line[len(prefix) + 1:].partition(" = ")
            out[name] = rest
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    proc, lines = bench(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    printed = metric_lines(lines, "metric")
    for name, unit, where in REPORTED:
        assert name in printed, name
        assert printed[name].split(" ")[1] == unit, (name, printed[name])
        if where in ("all", workload):
            float(printed[name].split(" ")[0])
    assert float(printed["error_ratio"].split(" ")[0]) == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == list(E2E)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_metric(workload):
    proc, lines = bench(workload, 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    layers = metric_lines(lines, "layer")
    for name in list(PER_LAYER) + WORKLOAD_LAYERS[workload]:
        assert name in layers, name
        float(layers[name].split(" ")[0])
    result = json.loads(lines[-1])
    assert result["correct"]
    assert list(result["metrics"]) == list(PER_LAYER)


def bench_copy(tmp_path, with_program: bool) -> str:
    """A checkout holding only the benchmark (and the program, linked)."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    if with_program:
        os.symlink(os.path.join(ROOT, "shardpack_spark"), tmp_path / "shardpack_spark")
    return str(tmp_path)


def test_wrong_reference_hash_counts_as_error(tmp_path):
    cwd = bench_copy(tmp_path, with_program=True)
    refs_path = os.path.join(cwd, "perfbench", "refs.json")
    with open(refs_path) as f:
        refs = json.load(f)
    refs["sf0.001"]["q18_topk"]["hash"] = "0" * 64
    with open(refs_path, "w") as f:
        json.dump(refs, f)
    proc, lines = bench("spark", 0, cwd=cwd)
    assert proc.returncode == 0, proc.stderr[-3000:]
    ratio = float(metric_lines(lines, "metric")["error_ratio"].split(" ")[0])
    assert ratio > 0
    result = json.loads(lines[-1])
    assert not result["correct"] and result["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    proc, lines = bench("random_access", 0, cwd=bench_copy(tmp_path, with_program=False))
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in lines)
