"""``random_access``: the Spark-free facade as a training-data pipeline
uses it.  Set-up packs the corpus uncompressed from interleaved key
streams, so every shard's key range spans almost the whole key space and
the per-shard Bloom filters, not the min/max ranges, choose the shard a
lookup opens.

Each pass runs four streams, served by one client in a closed loop:
- ``pack``: the corpus packed with zstd through ``writer.open_writer``
  into a fresh directory;
- ``scan``: that zstd dataset read fully through
  ``open_dataset(...).records()``;
- ``getitem``: ``ds[i]`` on the uncompressed dataset, the next indices of
  a seeded shuffled epoch (every index once per epoch, the order a
  map-style loader with a shuffling sampler asks for them);
- ``lookup``: ``ds.lookup(key)`` on the uncompressed dataset, uniform
  present keys plus a share of absent ones.

The format has no block cache of its own; every read is served from the
OS page cache.  Only the program's call is timed; each result is checked
after its time is taken.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from corpus import STREAMS, Corpus, digest, interleaved_key, n_records_for
from harness import p50, proc_io, tree_bytes

SPARK = False
# corpus user bytes, target shard bytes.  A lookup that survives pruning
# decodes its whole 16 MiB shard; that cost is part of what is measured.
SIZES = {"full": (120 << 20, 16 << 20), "tiny": (4 << 20, 1 << 20)}
# ops of one pass, sized so that each of the four streams takes about a
# quarter of a pass on the commit that defined the benchmark (NOTES.md)
PER_PASS = {"getitem": 5000, "lookup": 20}
ABSENT_SHARE = 0.25


def run(ctx) -> None:
    from shardpack_spark.format import codec
    from shardpack_spark.format.reader import open_dataset
    from shardpack_spark.format.writer import open_writer

    tr = ctx.tracer
    corpus_bytes, shard_bytes = SIZES[ctx.scale]
    n = n_records_for(corpus_bytes)
    c = Corpus(ctx.seed, n, interleaved_key)
    user = c.user_bytes
    path = os.path.join(ctx.work, "random_access")
    w = open_writer(path, compression="none", target_shard_bytes=shard_bytes)
    w.write_all(c.records)
    w.close()
    with tr.span("reader.open"):
        ds = open_dataset(path)
    shards = ds.shards()
    ctx.notes.append(
        f"dataset: {n} records, {user / 1e6:.1f} MB user payload, "
        f"{len(shards)} shards of {shard_bytes >> 20} MiB target, {STREAMS} interleaved "
        "key streams; ds[i] and lookups read it uncompressed, pack and scan use zstd")
    ctx.notes.append(
        "per pass: 1 zstd pack, 1 full scan, "
        + ", ".join(f"{v} {k}" for k, v in PER_PASS.items())
        + f"; {int(ABSENT_SHARE * 100)}% of lookups are absent keys")

    lat: dict[str, list[float]] = {"getitem": [], "lookup": [], "miss": []}
    legs: dict[str, list[float]] = {"pack": [], "scan": []}
    reads: dict[str, list[int]] = {"getitem": [], "lookup": [], "miss": []}
    returned: list[int] = []
    sizes, wchar, rchar, manifest_bytes = [], [], [], []

    def epochs(r: random.Random):
        while True:
            order = list(range(n))
            r.shuffle(order)
            yield from order

    sampler = epochs(random.Random(ctx.seed))

    def absent_key(r: random.Random) -> str:
        # sorts between two present keys of one stream: inside every
        # shard's range, so only the Bloom filter can rule a shard out
        return f"stream{r.randrange(STREAMS):02d}/item{r.randrange(n // STREAMS):07d}~"

    def schedule(r: random.Random, per_pass: dict) -> list[tuple]:
        ops = [("getitem", next(sampler)) for _ in range(per_pass["getitem"])]
        for _ in range(per_pass["lookup"]):
            if r.random() < ABSENT_SHARE:
                ops.append(("miss", absent_key(r)))
            else:
                ops.append(("lookup", c.keys[r.randrange(n)]))
        r.shuffle(ops)
        return ops

    def getitem(i: int):
        with tr.span("reader.getitem"):
            return ds[i]

    def lookup(key: str):
        with tr.span("reader.lookup"):
            return ds.lookup(key)

    def correct(kind: str, arg, out) -> bool:
        if kind == "getitem":
            return out.key == c.keys[arg] and digest(out) == c.digests[out.key]
        if kind == "miss":
            return out == []
        return len(out) == 1 and out[0].key == arg and digest(out[0]) == c.digests[arg]

    def pack(dst: str) -> None:
        with tr.span("writer.open"):
            w = open_writer(dst, mode="overwrite", compression="zstd",
                            target_shard_bytes=shard_bytes)
        with tr.span("writer.write"):
            for rec in c.records:
                w.write(rec)
        with tr.span("writer.close"):
            w.close()

    def scan(src: str) -> list:
        with tr.span("reader.open"):
            got = open_dataset(src)
        with tr.span("reader.records"):
            return list(got.records())

    io_cost = proc_io()["rchar"]
    io_cost = proc_io()["rchar"] - io_cost  # what reading /proc/self/io adds

    def one_pass(p, traced: bool, per_pass=PER_PASS) -> float:
        took: dict[str, float] = {}
        dst = os.path.join(ctx.work, f"zstd-{p}")
        tr.new_op()
        io0 = proc_io()
        t0 = time.perf_counter()
        pack(dst)
        took["pack"] = time.perf_counter() - t0
        io1 = proc_io()
        sizes.append(tree_bytes(dst))
        tr.new_op()
        t0 = time.perf_counter()
        got = scan(dst)
        took["scan"] = time.perf_counter() - t0
        io2 = proc_io()
        ctx.count(len(got) == n and len({r.key for r in got}) == n
                  and all(c.digests.get(r.key) == digest(r) for r in got))
        del got
        if traced:
            wchar.append(io1["wchar"] - io0["wchar"])
            rchar.append(io2["rchar"] - io1["rchar"])
            manifest_bytes.append(
                sizes[-1] - sum(os.path.getsize(s) for s in open_dataset(dst).shards()))
        shutil.rmtree(dst, ignore_errors=True)
        total = sum(took.values())

        for kind, arg in schedule(random.Random(f"{ctx.seed}-{p}"), per_pass):
            tr.new_op()
            if traced:
                io0 = proc_io()["rchar"]
            t0 = time.perf_counter()
            out = getitem(arg) if kind == "getitem" else lookup(arg)
            dt = time.perf_counter() - t0
            if traced:
                reads[kind].append(proc_io()["rchar"] - io0 - io_cost)
                if kind == "lookup":
                    returned.append(sum(len(e.data) for r in out for e in r.entries))
            else:  # end-to-end figures come from untraced passes only
                lat[kind].append(dt)
            total += dt
            ctx.count(correct(kind, arg, out))
        if not traced:
            for leg, dt in took.items():
                legs[leg].append(dt)
        return total

    # warm-up: the page cache of every shard, the interpreter's code paths
    one_pass("warm", False, {k: v // 4 for k, v in PER_PASS.items()})
    for v in (*lat.values(), *legs.values(), sizes):
        v.clear()
    ctx.attempted = ctx.failed = 0
    ctx.setup_done()
    # three passes at least: pack and scan are one op a pass, and their
    # median of three leaves out one slow pass
    ctx.loop(one_pass, min_passes=3)

    for leg, v in legs.items():
        ctx.notes.append(f"{leg} (s): " + " ".join(f"{t:.3f}" for t in v))
    lookups = lat["lookup"] + lat["miss"]
    mb = user / 1e6
    # per-stream medians times the ops of one pass: a transient stall
    # moves the tail metrics, not pass_s
    ctx.e2e["pass_s"] = (p50(legs["pack"]) + p50(legs["scan"])
                         + PER_PASS["getitem"] * p50(lat["getitem"])
                         + PER_PASS["lookup"] * p50(lookups), "s")
    ctx.e2e["format_s"] = (p50(legs["pack"]) + p50(legs["scan"]), "s")
    ctx.e2e["write_mb_s"] = (mb / p50(legs["pack"]), "MB/s")
    ctx.e2e["scan_mb_s"] = (mb / p50(legs["scan"]), "MB/s")
    ctx.e2e["bytes_per_user_byte"] = (p50(sizes) / user, "ratio")
    ctx.e2e["getitem_p50_ms"] = (1000 * p50(lat["getitem"]), "ms")
    ctx.e2e["getitem_tail_ms"] = (ctx.tail("getitem_tail_ms", lat["getitem"], 1000), "ms")
    ctx.e2e["lookup_p50_ms"] = (1000 * p50(lookups), "ms")
    ctx.e2e["lookup_tail_ms"] = (ctx.tail("lookup_tail_ms", lookups, 1000), "ms")
    if not ctx.trace:
        return

    out = ctx.layer
    for name in ("writer.write", "writer.close"):
        out[f"{name}_s"] = (p50(ctx.durations(name)), "s")
    out["reader.open_s"] = (ctx.tracer.durations("reader.open")[0], "s")
    out["reader.getitem_ms"] = (1000 * p50(ctx.durations("reader.getitem")), "ms")
    out["reader.lookup_ms"] = (1000 * p50(ctx.durations("reader.lookup")), "ms")
    out["reader.bytes_read_per_getitem"] = (p50(reads["getitem"]), "bytes")
    out["reader.bytes_read_per_lookup"] = (p50(reads["lookup"]), "bytes")
    out["reader.bytes_read_per_miss"] = (p50(reads["miss"]), "bytes")
    out["reader.lookup_read_amplification"] = (
        sum(reads["lookup"]) / max(1, sum(returned)), "ratio")
    out["commit.manifest_bytes"] = (p50(manifest_bytes), "bytes")
    out["storage.bytes_written_per_user_byte"] = (p50(wchar) / user, "ratio")
    out["storage.bytes_read_per_scan_byte"] = (p50(rchar) / user, "ratio")

    # codec primitives on this workload's own shards and records
    r = random.Random(ctx.seed)
    t = []
    for s in shards * 4:
        t0 = time.perf_counter()
        codec.read_index(s)
        t.append(time.perf_counter() - t0)
    out["codec.read_index_ms"] = (1000 * p50(t), "ms")
    offsets = {s: codec.read_index(s).offsets for s in shards}
    t = []
    for _ in range(400):
        s = r.choice(shards)
        off = r.choice(offsets[s])
        t0 = time.perf_counter()
        codec.read_record_at(s, off)
        t.append(time.perf_counter() - t0)
    out["codec.read_record_at_ms"] = (1000 * p50(t), "ms")

    def mb_s(fn, items) -> float:
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        return mb / (time.perf_counter() - t0)

    out["codec.encode_mb_s.zstd"] = (
        mb_s(lambda rec: codec.encode_record(rec, "zstd"), c.records), "MB/s")
    for name in ("zstd", "none"):
        encoded = [codec.encode_record(rec, name) for rec in c.records]
        out[f"codec.decode_mb_s.{name}"] = (mb_s(codec.decode_record, encoded), "MB/s")
        del encoded
    ctx.unmeasured.append(("queries.*, tables.*, datasource.*", "measured on spark"))
