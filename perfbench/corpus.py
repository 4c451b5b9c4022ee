"""Seeded synthetic multimodal corpus in the ShardPack-native layout
(FIXTURES.md): every record carries an ``image.jpg`` of random bytes
behind a JPEG magic (4, 16 or 64 KiB, incompressible), a
``caption.json`` and a 512-byte ``vector.npy`` (both compressible).

The same seed always gives the same records.  ``digest`` is the
per-record content check the workloads compare every read against.
"""

from __future__ import annotations

import hashlib
import json
import random
import struct

from shardpack_spark.format import codec

IMAGE_SIZES = (4 * 1024, 16 * 1024, 64 * 1024)
JPEG_MAGIC = b"\xff\xd8\xff\xe0"
MEAN_RECORD_BYTES = sum(IMAGE_SIZES) // len(IMAGE_SIZES) + 900
STREAMS = 16

_WORDS = (
    "a an the small large red blue green dog cat bird tree river city street "
    "house boat car person child old young bright dark morning evening snow "
    "rain sun field road bridge mountain beach crowd market window table "
    "standing sitting running walking near under beside over with on in"
).split()

_NPY_HEADER = b"\x93NUMPY\x01\x00" + struct.pack("<H", 118) + (
    "{'descr': '<f4', 'fortran_order': False, 'shape': (96,), }".ljust(117)
    + "\n"
).encode("ascii")


def _npy(rng: random.Random) -> bytes:
    vals = [rng.randint(-64, 64) / 64.0 for _ in range(96)]
    return _NPY_HEADER + struct.pack("<96f", *vals)


def make_record(rng: random.Random, key: str, idx: int, size: int) -> codec.Record:
    caption = {
        "caption": " ".join(rng.choice(_WORDS) for _ in range(rng.randint(12, 40))),
        "width": rng.choice((320, 640, 1024)),
        "height": rng.choice((240, 480, 768)),
        "license": "cc-by-4.0",
    }
    return codec.Record(
        key=key,
        entries=[
            codec.FileEntry("image.jpg", "image/jpeg",
                            JPEG_MAGIC + rng.randbytes(size - len(JPEG_MAGIC))),
            codec.FileEntry("caption.json", "application/json",
                            json.dumps(caption, sort_keys=True).encode("utf-8")),
            codec.FileEntry("vector.npy", "application/x-npy", _npy(rng)),
        ],
        metadata={"idx": str(idx), "modality": "image+text+vector"},
    )


def digest_parts(parts) -> str:
    """sha256 over (file_name, 0x00, data) of every entry, in order."""
    h = hashlib.sha256()
    for name, data in parts:
        h.update(name.encode("utf-8"))
        h.update(b"\x00")
        h.update(data)
    return h.hexdigest()


def digest(rec: codec.Record) -> str:
    return digest_parts((e.file_name, e.data) for e in rec.entries)


def spark_digest_col():
    """The same digest as a Spark column over the DataSource schema."""
    from pyspark.sql import functions as F

    return F.sha2(
        F.aggregate(
            "entries",
            F.lit(b"").cast("binary"),
            lambda acc, e: F.concat(
                acc, F.encode(e["file_name"], "utf-8"), F.unhex(F.lit("00")), e["data"]
            ),
        ),
        256,
    ).alias("digest")


class Corpus:
    """``n`` records from ``seed``; ``key_of(i)`` names record ``i``."""

    def __init__(self, seed: int, n: int, key_of):
        rng = random.Random(seed)
        # an equal share of each image size in a seeded order: the corpus
        # size, and so its shard count, does not depend on the seed
        sizes = [IMAGE_SIZES[i % len(IMAGE_SIZES)] for i in range(n)]
        rng.shuffle(sizes)
        self.records = [make_record(rng, key_of(i), i, sizes[i]) for i in range(n)]
        self.keys = [r.key for r in self.records]
        self.digests = {r.key: digest(r) for r in self.records}
        self.user_bytes = sum(len(e.data) for r in self.records for e in r.entries)


def interleaved_key(i: int) -> str:
    """Record ``i`` of ``STREAMS`` round-robin key streams: written in
    ``i`` order, every shard holds keys of every stream, so shard key
    ranges overlap."""
    return f"stream{i % STREAMS:02d}/item{i // STREAMS:07d}"


def n_records_for(target_bytes: int) -> int:
    return max(16, target_bytes // MEAN_RECORD_BYTES)
