"""The DataSource ops of the ``spark`` workload: the format's Spark paths.

Set-up packs a seeded multimodal corpus with zstd through
``writer.open_writer``.  The three ops scan it through
``read_shardpack``, point-look-up one key through
``read_shardpack(...).filter(key == k)`` and repack it Spark-side with
``write.format("shardpack")`` (zstd) into a fresh directory.

Keys come from interleaved streams, so every shard's key range spans
almost the whole key space and the per-shard Bloom filters, not the
min/max ranges, choose the partition a Spark point lookup plans.
"""

from __future__ import annotations

import os
import random
import shutil

from corpus import Corpus, digest, interleaved_key, n_records_for, spark_digest_col
from harness import Op, p50

# corpus user bytes, target shard bytes (one shard per core at full scale)
SIZES = {"full": (30 << 20, 8 << 20), "tiny": (4 << 20, 1 << 20)}


def prepare(ctx) -> list[Op]:
    """Pack the corpus and return the scan, lookup and repack ops."""
    from pyspark.sql import functions as F

    from shardpack_spark.format.datasource import read_shardpack, register
    from shardpack_spark.format.reader import open_dataset
    from shardpack_spark.format.writer import open_writer

    spark, tr = ctx.spark, ctx.tracer
    corpus_bytes, shard_bytes = SIZES[ctx.scale]
    c = Corpus(ctx.seed, n_records_for(corpus_bytes), interleaved_key)
    n, ctx.corpus_bytes = len(c.records), c.user_bytes
    ctx.notes.append(
        f"corpus: {n} records, {c.user_bytes / 1e6:.1f} MB user payload, zstd, "
        f"{shard_bytes >> 20} MiB target shards; one Spark point lookup per pass")
    register(spark)
    root = os.path.join(ctx.work, "datasource")
    src = os.path.join(root, "src")
    w = open_writer(src, compression="zstd", target_shard_bytes=shard_bytes)
    w.write_all(c.records)
    w.close()
    digest_col = spark_digest_col()

    def planned(df, traced: bool):
        if traced:
            df._jdf.queryExecution().executedPlan()
        return df

    def scan(p, traced: bool) -> list:
        with tr.span("datasource.plan"):
            df = planned(read_shardpack(spark, src).select("key", digest_col), traced)
        with tr.span("job.scan"):
            return df.collect()

    def scan_ok(p, rows) -> bool:
        return len(rows) == n and all(c.digests.get(k) == d for k, d in rows)

    def key_of(p) -> str:
        return random.Random(f"{ctx.seed}-{p}").choice(c.keys)

    def lookup(p, traced: bool) -> list:
        with tr.span("datasource.plan"):
            df = planned(read_shardpack(spark, src).filter(F.col("key") == key_of(p))
                         .select("key", digest_col), traced)
        with tr.span("job.lookup"):
            return df.collect()

    def lookup_ok(p, rows) -> bool:
        key = key_of(p)
        return [tuple(r) for r in rows] == [(key, c.digests[key])]

    def repack(p, traced: bool) -> str:
        dst = os.path.join(root, f"p{p}-repack")
        with tr.span("job.repack"):
            read_shardpack(spark, src).write.format("shardpack").option(
                "compression", "zstd").option(
                "target_shard_bytes", str(shard_bytes)).mode("overwrite").save(dst)
        return dst

    def repack_ok(p, dst) -> bool:
        got = list(open_dataset(dst).records())
        ok = (len(got) == n and len({r.key for r in got}) == n
              and all(c.digests.get(r.key) == digest(r) for r in got))
        del got
        shutil.rmtree(dst, ignore_errors=True)
        return ok

    return [Op("spark_scan", scan, scan_ok), Op("spark_lookup", lookup, lookup_ok),
            Op("spark_repack", repack, repack_ok)]


def report(ctx, times: dict, status: dict) -> None:
    """End-to-end throughputs (untraced passes) and, on a traced run, the
    DataSource layer figures."""
    from pyspark import cloudpickle

    from shardpack_spark.format.datasource import ShardPackDataSource

    mb = ctx.corpus_bytes / 1e6
    ctx.e2e["spark_scan_mb_s"] = (mb / p50(times["spark_scan"]), "MB/s")
    ctx.e2e["spark_lookup_p50_s"] = (p50(times["spark_lookup"]), "s")
    ctx.e2e["spark_repack_mb_s"] = (mb / p50(times["spark_repack"]), "MB/s")
    if not ctx.trace:
        return
    out = ctx.layer
    out["datasource.plan_s"] = (p50(ctx.durations("datasource.plan")), "s")
    out["datasource.scan_s"] = (p50(ctx.durations("job.scan")), "s")
    out["datasource.lookup_s"] = (p50(ctx.durations("job.lookup")), "s")
    out["datasource.write_s"] = (p50(ctx.durations("job.repack")), "s")
    out["datasource.partitions"] = (
        p50([s["first_stage_tasks"] for s in status["spark_scan"]]), "count")
    out["datasource.lookup_partitions"] = (
        p50([s["first_stage_tasks"] for s in status["spark_lookup"]]), "count")
    out["datasource.pickled_bytes"] = (len(cloudpickle.dumps(ShardPackDataSource)), "bytes")
