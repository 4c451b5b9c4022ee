"""Pure-Python ShardPack codec.

Spec conformance (citations into /root/reference/docs/draft.md):
- shard = record blocks then EOF index           (draft.md:33-51)
- record block = header + key + metadata + M file entries (draft.md:55-94)
- file entry = name, content type, size, optional encoding, data
                                                 (draft.md:84-94)
- EOF index = record count, offset table, shard metadata, magic footer
                                                 (draft.md:100-123)
- random access via the offset table             (draft.md:124-127)
- sequential shard naming                        (draft.md:24-30)

Integrity: SHA-256 over the UNCOMPRESSED payload, stored per entry and
verified after decompression on read — the semantics of the reference's
compute/verify pair (src/checksum.rs:15-29) without its whole-shard read
bug (SURVEY.md D4).  Compression: none|gzip from the standard library,
lz4|snappy|zstd from pyarrow, a hard dependency (the reference declares
all five but implements two — SURVEY.md D9).  A corrupt payload raises
ShardPackCodecError from every decode path.

All integers are little-endian.  Layout (exact bytes, this implementation):

  record block:
    u64  record_size        (total bytes of this block, incl. this field)
    u32  key_len,   key bytes (utf-8)
    u32  meta_len,  record metadata bytes (utf-8 JSON, '' -> 0)
    u32  n_entries
    per entry:
      u32 name_len,  file_name bytes
      u32 ctype_len, content_type bytes
      u32 enc_len,   encoding bytes ('none'|'gzip'|'lz4'|'zstd'|'snappy')
      u64 file_size            (uncompressed payload size)
      32B sha256(uncompressed payload)
      u64 data_len,  stored (possibly compressed) payload bytes
  EOF index:
    u64  n_records
    u64  offsets[n_records]   (file offset of each record block start)
    u32  shard_meta_len, shard metadata bytes (utf-8 JSON)
    u64  index_start          (file offset where the EOF index begins)
    8B   magic b"SHARDPK1"
"""

from __future__ import annotations

import gzip as _gzip
import hashlib
import io
import json
import operator
import os
import struct
import zlib
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

import pyarrow as pa

from shardpack_spark.format import storage

MAGIC = b"SHARDPK1"
_FOOTER_BYTES = 8 + len(MAGIC)  # u64 index_start + magic
_MIN_INDEX_BYTES = 8 + 4 + _FOOTER_BYTES  # n_records, shard_meta_len, footer
_MIN_BLOCK_BYTES = 8 + 4 + 4 + 4  # record_size, key_len, meta_len, n_entries
DEFAULT_TARGET_SHARD_BYTES = 256 * 1024 * 1024  # reference src/shard/config.rs:1
# NOTE: no precompiled struct.Struct objects at module level — the
# whole module is cloudpickled by value into Spark plans and Struct
# instances are not picklable.


class ShardPackError(Exception):
    """Base error (reference taxonomy src/error.rs:4-14)."""


class ShardPackIOError(ShardPackError):
    pass


class ShardPackIndexError(ShardPackError):
    pass


class ShardPackChecksumError(ShardPackError):
    pass


class ShardPackCodecError(ShardPackError):
    pass


# --- XXH64 -----------------------------------------------------------------
#
# Not a ShardPack codec: the pure-Python reference for Spark's xxhash64
# expression, which the hashed classifier features replicate
# (operators/classifier.py).

_XX_P1 = 0x9E3779B185EBCA87
_XX_P2 = 0xC2B2AE3D27D4EB4F
_XX_P3 = 0x165667B19E3779F9
_XX_P4 = 0x85EBCA77C2B2AE63
_XX_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` under ``seed``.

    Cross-checked against Spark's XxHash64 expression in
    tests/test_codec.py, so the two implementations vouch for each other.
    """
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XX_P1 + _XX_P2) & _M64
        v2 = (seed + _XX_P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XX_P1) & _M64
        while i <= n - 32:
            v1 = (_rotl64((v1 + int.from_bytes(data[i : i + 8], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
            v2 = (_rotl64((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
            v3 = (_rotl64((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
            v4 = (_rotl64((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = (((h ^ ((_rotl64((v * _XX_P2) & _M64, 31) * _XX_P1) & _M64)) * _XX_P1) + _XX_P4) & _M64
    else:
        h = (seed + _XX_P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (_rotl64((int.from_bytes(data[i : i + 8], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
        h = ((_rotl64(h ^ k, 27) * _XX_P1) + _XX_P4) & _M64
        i += 8
    if i + 4 <= n:
        h = ((_rotl64(h ^ ((int.from_bytes(data[i : i + 4], "little") * _XX_P1) & _M64), 23) * _XX_P2) + _XX_P3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XX_P5) & _M64), 11) * _XX_P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XX_P2) & _M64
    h ^= h >> 29
    h = (h * _XX_P3) & _M64
    h ^= h >> 32
    return h


# --- compression codecs -----------------------------------------------------

def _gzip_c(b: bytes) -> bytes:
    # mtime=0 -> deterministic output for identical payloads
    buf = io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
        f.write(b)
    return buf.getvalue()


# pyarrow serves lz4 (the LZ4 *block* format, 'lz4_raw'), raw snappy and
# zstd.  pa.Codec objects are NOT picklable and this module travels to
# Python workers by value (datasource._pickle_by_value), so no codec
# instance lives at module level: each call builds its own (~0.2 us,
# 80x cheaper than one 32 KiB decompress).  Decompressors take the
# uncompressed size the container records per entry, which the raw
# block formats need.
def _arrow(name: str) -> tuple:
    def c(b: bytes) -> bytes:
        return pa.Codec(name).compress(b, asbytes=True)

    def d(b: bytes, n: int) -> bytes:
        return pa.Codec(name).decompress(b, n, asbytes=True)

    return c, d


_CODECS: dict[str, tuple] = {
    "none": (lambda b: b, lambda b, n: b),
    "gzip": (_gzip_c, lambda b, n: _gzip.decompress(b)),
    "lz4": _arrow("lz4_raw"),
    "snappy": _arrow("snappy"),
    "zstd": _arrow("zstd"),
}

# what a codec raises on a corrupt payload: pyarrow's OSError (lz4, zstd)
# and ArrowInvalid (a ValueError: snappy), gzip's BadGzipFile (an
# OSError) and EOFError, zlib.error
_CODEC_FAILURES = (OSError, EOFError, ValueError, zlib.error)


def _decode(blob: bytes, codec: str, n: int) -> bytes:
    """The one decode site: a corrupt payload raises ShardPackCodecError."""
    if codec not in _CODECS:
        raise ShardPackCodecError(
            f"compression '{codec}' not available (have: {sorted(_CODECS)})"
        )
    try:
        return _CODECS[codec][1](blob, n)
    except _CODEC_FAILURES as e:
        raise ShardPackCodecError(f"{codec}: corrupt payload: {e}") from e


def compress(data: bytes, encoding: str) -> bytes:
    if ";chunk=" in encoding:
        base, _, cb = encoding.partition(";chunk=")
        return _encode_chunked(data, base, int(cb))
    if encoding not in _CODECS:
        raise ShardPackCodecError(
            f"compression '{encoding}' not available (have: {sorted(_CODECS)})"
        )
    return _CODECS[encoding][0](data)


def decompress(data: bytes, encoding: str, expected_size: int) -> bytes:
    if ";chunk=" in encoding:
        return _decode_chunked(data, encoding.partition(";chunk=")[0], expected_size)
    return _decode(data, encoding, expected_size)


# --- chunk-level entry compression (draft.md:144-148) -------------------------
#
# The spec allows compression "on a per-file-entry basis or at a chunk
# level".  Whole-entry compression makes random access into one multi-GB
# entry (a long video, a giant tensor) an all-or-nothing decompress;
# chunked entries restore O(chunk) ranged reads.  The stored payload
# becomes a self-describing container (all little-endian):
#
#   4B  magic b"SPCH"
#   u32 n_chunks
#   u64 raw_chunk_bytes      (uncompressed size of every chunk but the last)
#   u64 raw_total            (uncompressed entry size)
#   per chunk: u64 comp_len, u32 crc32(compressed bytes)
#   then the compressed chunk payloads, concatenated
#
# The entry's encoding tag carries the base codec and chunk size
# ('zstd;chunk=4194304') — format-version-gated by construction: a
# reader without this code fails loudly on the unknown tag instead of
# returning wrong bytes.  The entry-level sha256 (full uncompressed
# payload) is unchanged and still verified on full reads; per-chunk
# crc32 lets a RANGED read verify exactly the chunks it touched.

_CHUNK_MAGIC = b"SPCH"


def _encode_chunked(data: bytes, base_codec: str, chunk_bytes: int) -> bytes:
    if chunk_bytes <= 0:
        raise ShardPackCodecError(f"chunk_bytes must be positive, got {chunk_bytes}")
    if base_codec not in _CODECS or base_codec == "none":
        raise ShardPackCodecError(
            f"chunked compression needs a real base codec, got '{base_codec}'"
        )
    n = max(1, -(-len(data) // chunk_bytes))
    comps = [
        _CODECS[base_codec][0](data[i * chunk_bytes : (i + 1) * chunk_bytes])
        for i in range(n)
    ]
    head = _CHUNK_MAGIC + struct.pack("<IQQ", n, chunk_bytes, len(data))
    table = b"".join(
        struct.pack("<QI", len(c), zlib.crc32(c) & 0xFFFFFFFF) for c in comps
    )
    return head + table + b"".join(comps)


def _chunk_header(head: bytes, stored_len: int, raw_size: int) -> tuple[int, int, int]:
    """-> (n_chunks, raw_chunk_bytes, raw_total) from the first 24 stored
    bytes, checked against the entry around them: corrupt sizes must
    fail here, typed, not reach a codec or a division."""
    if len(head) < 24 or head[:4] != _CHUNK_MAGIC:
        raise ShardPackCodecError("chunked entry payload missing SPCH header")
    n, cb, total = struct.unpack_from("<IQQ", head, 4)
    if (
        cb <= 0
        or total != raw_size
        or n != max(1, -(-total // cb))
        or 24 + 12 * n > stored_len
    ):
        raise ShardPackCodecError(
            f"corrupt chunk container header (n={n}, chunk={cb}, total={total})"
        )
    return n, cb, total


def _chunk_table(raw: bytes, n: int, stored_len: int) -> list[tuple[int, int]]:
    """-> [(comp_len, crc32)] for the ``n`` chunks; the lengths must
    exactly fill the stored payload after the table."""
    table = [struct.unpack_from("<QI", raw, 12 * i) for i in range(n)]
    if sum(clen for clen, _ in table) != stored_len - 24 - 12 * n:
        raise ShardPackCodecError("corrupt chunk table: lengths do not fill the payload")
    return table


def _parse_chunk_container(stored: bytes, raw_size: int):
    """-> (n_chunks, raw_chunk_bytes, raw_total, [(comp_len, crc)],
    payload_base_offset)."""
    n, cb, total = _chunk_header(stored[:24], len(stored), raw_size)
    table = _chunk_table(stored[24 : 24 + 12 * n], n, len(stored))
    return n, cb, total, table, 24 + 12 * n


def _decode_chunked(stored: bytes, base_codec: str, raw_size: int) -> bytes:
    n, cb, total, table, base = _parse_chunk_container(stored, raw_size)
    out = []
    pos = base
    for i, (clen, crc) in enumerate(table):
        blob = stored[pos : pos + clen]
        if zlib.crc32(blob) & 0xFFFFFFFF != crc:
            raise ShardPackChecksumError(f"chunk {i} crc32 mismatch")
        out.append(_decode(blob, base_codec, min(cb, total - i * cb)))
        pos += clen
    data = b"".join(out)
    if len(data) != total:
        raise ShardPackCodecError(
            f"chunked entry decoded {len(data)} bytes, container says {total}"
        )
    return data


# --- data model -------------------------------------------------------------

@dataclass
class FileEntry:
    file_name: str
    content_type: str  # MIME, e.g. image/jpeg, application/json (draft.md:185-195)
    data: bytes
    encoding: str = "none"
    # Uncompressed payload size.  Populated by the decoder so metadata-only
    # reads (skip_payload) still report the true size without decoding the
    # bytes; None means "len(data)".
    declared_size: int | None = None

    @property
    def size(self) -> int:
        return self.declared_size if self.declared_size is not None else len(self.data)


@dataclass
class Record:
    key: str
    entries: list[FileEntry] = field(default_factory=list)
    metadata: dict[str, str] = field(default_factory=dict)


# --- encode -----------------------------------------------------------------

def _lp_bytes(b: bytes) -> bytes:
    return struct.pack("<I", len(b)) + b


def encode_record(
    record: Record, compression: str = "none", chunk_bytes: int | None = None
) -> bytes:
    """Serialize one record block; payloads compressed per `compression`
    unless an entry carries its own non-default encoding.

    ``chunk_bytes``: entries larger than this compress at CHUNK level
    (encoding tag '{codec};chunk={n}') so ranged reads into one huge
    entry decompress O(chunk) bytes — draft.md:144-148's chunk-level
    compression.  Smaller entries and uncompressed entries are stored as
    before (raw bytes are already range-addressable)."""
    body = io.BytesIO()
    key_b = record.key.encode("utf-8")
    meta_b = json.dumps(record.metadata, sort_keys=True).encode("utf-8") if record.metadata else b""
    body.write(_lp_bytes(key_b))
    body.write(_lp_bytes(meta_b))
    body.write(struct.pack("<I", len(record.entries)))
    for e in record.entries:
        enc = e.encoding if e.encoding != "none" else compression
        if (
            chunk_bytes
            and enc != "none"
            and ";chunk=" not in enc
            and len(e.data) > chunk_bytes
        ):
            enc = f"{enc};chunk={chunk_bytes}"
        stored = compress(e.data, enc)
        body.write(_lp_bytes(e.file_name.encode("utf-8")))
        body.write(_lp_bytes(e.content_type.encode("utf-8")))
        body.write(_lp_bytes(enc.encode("utf-8")))
        body.write(struct.pack("<Q", len(e.data)))
        body.write(hashlib.sha256(e.data).digest())
        body.write(struct.pack("<Q", len(stored)))
        body.write(stored)
    payload = body.getvalue()
    return struct.pack("<Q", 8 + len(payload)) + payload


def decode_record(
    buf: bytes,
    pos: int = 0,
    verify_checksums: bool = True,
    skip_payload: bool = False,
    skip_entries: bool = False,
    entry_names: "set[str] | frozenset[str] | None" = None,
) -> tuple[Record, int]:
    """Parse one record block at `pos`; returns (record, next_pos).

    ``skip_payload``: parse entry headers but never decompress/copy the
    payload bytes — the metadata-only access path (Bucket::get_metadata,
    src/bucket.rs:185-188, served without touching payloads).
    ``skip_entries``: stop after key+metadata; entries come back empty.
    ``entry_names``: decode payloads ONLY for entries with these file
    names; others come back header-only (data=b"", true declared_size) —
    the modality-selective read: a text loader over image+caption
    records pays zero image decompression.

    A corrupt block raises ShardPackCodecError (ShardPackChecksumError
    when a payload fails its sha256), never a struct, unicode or JSON
    error: every variable-length field is checked to stay inside the
    block before it is sliced.
    """
    try:
        return _decode_record(
            buf, pos, verify_checksums, skip_payload, skip_entries, entry_names
        )
    except (struct.error, ValueError) as e:  # truncated field, bad utf-8/JSON
        raise ShardPackCodecError(f"record at {pos}: corrupt block: {e}") from e


def _decode_record(buf, pos, verify_checksums, skip_payload, skip_entries, entry_names):
    (record_size,) = struct.unpack_from("<Q", buf, pos)
    end = pos + record_size
    if record_size < _MIN_BLOCK_BYTES or end > len(buf):
        raise ShardPackCodecError(f"record at {pos}: size {record_size} overruns the buffer")
    p = pos + 8

    def lp() -> bytes:
        nonlocal p
        (n,) = struct.unpack_from("<I", buf, p)
        p += 4 + n
        if p > end:
            raise ShardPackCodecError(f"record at {pos}: field of {n} bytes overruns the block")
        return buf[p - n : p]

    key = lp().decode("utf-8")
    meta_b = lp()
    metadata = json.loads(meta_b) if meta_b else {}
    if skip_entries:
        return Record(key=key, entries=[], metadata=metadata), end
    (n_entries,) = struct.unpack_from("<I", buf, p)
    p += 4
    entries: list[FileEntry] = []
    for _ in range(n_entries):
        name = lp().decode("utf-8")
        ctype = lp().decode("utf-8")
        enc = lp().decode("utf-8")
        (file_size,) = struct.unpack_from("<Q", buf, p)
        p += 8
        digest = buf[p : p + 32]
        p += 32
        (data_len,) = struct.unpack_from("<Q", buf, p)
        p += 8
        if p + data_len > end:
            raise ShardPackCodecError(f"entry '{name}': {data_len} stored bytes overrun the block")
        if skip_payload or (entry_names is not None and name not in entry_names):
            p += data_len  # seek past the stored bytes: no copy, no decode
            entries.append(
                FileEntry(
                    file_name=name,
                    content_type=ctype,
                    data=b"",
                    encoding=enc,
                    declared_size=file_size,
                )
            )
            continue
        stored = buf[p : p + data_len]
        p += data_len
        data = decompress(bytes(stored), enc, expected_size=file_size)
        if len(data) != file_size:
            raise ShardPackCodecError(
                f"entry '{name}': decompressed size {len(data)} != declared {file_size}"
            )
        if verify_checksums and hashlib.sha256(data).digest() != digest:
            raise ShardPackChecksumError(f"checksum mismatch for entry '{name}' of key '{key}'")
        entries.append(
            FileEntry(
                file_name=name, content_type=ctype, data=data, encoding=enc, declared_size=file_size
            )
        )
    if p != end:
        raise ShardPackCodecError(f"record at {pos}: consumed {p - pos} of {record_size} bytes")
    return Record(key=key, entries=entries, metadata=metadata), end


# --- shard write ------------------------------------------------------------

class ShardWriter:
    """Single-pass shard writer: stream record blocks, append EOF index on
    close (draft.md:399-401).  Tracks size in memory — no read-back probe
    (avoids the reference's O(shard) size probe, SURVEY.md §3.1 step 3).

    Crash safety via the storage WriteHandle contract: the shard becomes
    visible at its final name only when close() returns with the footer
    written (local FS: hidden tmp + atomic rename; object stores:
    whole-object put / multipart complete).  A failed/killed task can
    never leave a footer-less .shardpack that poisons later reads.

    ``max_record_bytes`` / ``max_entry_bytes`` are the reference
    roadmap's record-size limits (/root/reference/src/lib.rs:16-26)
    turned into writer validation: an oversized record/entry raises
    ShardPackCodecError *before* any bytes land, instead of silently
    producing a monster shard that breaks executor memory sizing."""

    def __init__(
        self,
        path: str,
        compression: str = "none",
        shard_metadata: dict | None = None,
        max_record_bytes: int | None = None,
        max_entry_bytes: int | None = None,
        chunk_bytes: int | None = None,
    ):
        if compression not in _CODECS:
            raise ShardPackCodecError(f"compression '{compression}' not available")
        if chunk_bytes is not None and chunk_bytes <= 0:
            raise ShardPackCodecError(f"chunk_bytes must be positive, got {chunk_bytes}")
        self.path = path
        self.compression = compression
        self.shard_metadata = shard_metadata or {}
        self.max_record_bytes = max_record_bytes
        self.max_entry_bytes = max_entry_bytes
        self.chunk_bytes = chunk_bytes
        self._f = storage.for_path(path).create(path)
        self._offsets: list[int] = []
        self._pos = 0

    @property
    def current_size(self) -> int:
        return self._pos

    @property
    def record_count(self) -> int:
        return len(self._offsets)

    def write_record(self, record: Record) -> int:
        if self.max_entry_bytes is not None:
            for e in record.entries:
                if len(e.data) > self.max_entry_bytes:
                    raise ShardPackCodecError(
                        f"entry '{e.file_name}' of key '{record.key}': "
                        f"{len(e.data)} bytes exceeds max_entry_bytes="
                        f"{self.max_entry_bytes}"
                    )
        block = encode_record(record, self.compression, chunk_bytes=self.chunk_bytes)
        if self.max_record_bytes is not None and len(block) > self.max_record_bytes:
            raise ShardPackCodecError(
                f"record '{record.key}': encoded block {len(block)} bytes "
                f"exceeds max_record_bytes={self.max_record_bytes}"
            )
        self._offsets.append(self._pos)
        self._f.write(block)
        self._pos += len(block)
        return len(block)

    def abort(self) -> None:
        """Discard the in-flight shard (task failure cleanup)."""
        self._f.abort()

    def close(self) -> dict:
        index_start = self._pos
        self._f.write(struct.pack("<Q", len(self._offsets)))
        for off in self._offsets:
            self._f.write(struct.pack("<Q", off))
        meta_b = json.dumps(self.shard_metadata, sort_keys=True).encode("utf-8")
        self._f.write(_lp_bytes(meta_b))
        self._f.write(struct.pack("<Q", index_start))
        self._f.write(MAGIC)
        self._f.close()  # publish: the shard appears atomically, footer and all
        # size is tracked in memory — no post-close stat round-trip
        index_bytes = 8 + 8 * len(self._offsets) + 4 + len(meta_b) + 8 + len(MAGIC)
        return {
            "path": self.path,
            "records": len(self._offsets),
            "bytes": index_start + index_bytes,
        }


# --- shard read -------------------------------------------------------------

@dataclass
class ShardIndex:
    offsets: list[int]
    shard_metadata: dict
    index_start: int


def _footer(f, path: str) -> tuple[int, int]:
    """-> (index_start, size) of the open shard ``f``, checked: the magic
    footer is there and the EOF index at ``index_start`` has room for its
    record count, shard-metadata length and footer.  Every index read
    starts here, so they all agree on what a sound shard is.

    Size comes from seek-to-end on the already-open handle, not a
    separate stat — one round trip fewer per shard on object stores."""
    f.seek(0, 2)
    size = f.tell()
    if size < _MIN_INDEX_BYTES:
        raise ShardPackIndexError(f"{path}: too small to be a shardpack file")
    f.seek(size - _FOOTER_BYTES)
    tail = f.read(_FOOTER_BYTES)
    if tail[8:] != MAGIC:
        raise ShardPackIndexError(f"{path}: bad magic footer")
    (index_start,) = struct.unpack("<Q", tail[:8])
    if index_start > size - _MIN_INDEX_BYTES:
        raise ShardPackIndexError(f"{path}: index offset {index_start} out of range")
    return index_start, size


def _record_count(path: str, head: bytes, index_start: int, size: int) -> int:
    """The record count that opens the EOF index, checked to fit it."""
    (n,) = struct.unpack_from("<Q", head)
    if index_start + _MIN_INDEX_BYTES + 8 * n > size:
        raise ShardPackIndexError(f"{path}: record count {n} does not fit the EOF index")
    return n


def _read_offsets(f, path: str) -> tuple[list[int], int, bytes]:
    """-> (offsets, index_start, shard metadata bytes) of the open shard
    ``f``: the footer, then the EOF index in one read.  Offsets must
    strictly increase and stay inside the record region [0, index_start)."""
    index_start, size = _footer(f, path)
    f.seek(index_start)
    idx = f.read(size - _FOOTER_BYTES - index_start)
    n = _record_count(path, idx, index_start, size)
    offsets = list(struct.unpack_from(f"<{n}Q", idx, 8))
    if offsets and (
        offsets[-1] >= index_start or not all(map(operator.lt, offsets, offsets[1:]))
    ):
        raise ShardPackIndexError(
            f"{path}: offset table does not increase inside [0, {index_start})"
        )
    p = 8 + 8 * n
    (meta_len,) = struct.unpack_from("<I", idx, p)
    if p + 4 + meta_len != len(idx):
        raise ShardPackIndexError(f"{path}: shard metadata length {meta_len} does not fit the EOF index")
    return offsets, index_start, idx[p + 4 :]


def read_index(path: str) -> ShardIndex:
    """Load only the EOF index: a footer read and one index read, no
    record payloads.  A corrupt index raises ShardPackIndexError."""
    with storage.for_path(path).open_read(path) as f:
        offsets, index_start, meta_b = _read_offsets(f, path)
    try:
        shard_metadata = json.loads(meta_b) if meta_b else {}
    except ValueError as e:
        raise ShardPackIndexError(f"{path}: corrupt shard metadata: {e}") from e
    return ShardIndex(offsets=offsets, shard_metadata=shard_metadata, index_start=index_start)


def _block_size(f, path: str, offset: int, region_end: int) -> int:
    """Size field of the record block at ``offset`` of the open shard
    ``f``, which is left just past it.  Offset and size must keep the
    block inside the record region [0, region_end), so garbage fails
    typed instead of reading past the block."""
    if offset > region_end - _MIN_BLOCK_BYTES:
        raise ShardPackIndexError(f"{path}: record offset {offset} outside [0, {region_end})")
    f.seek(offset)
    (record_size,) = struct.unpack("<Q", f.read(8))
    if not _MIN_BLOCK_BYTES <= record_size <= region_end - offset:
        raise ShardPackCodecError(
            f"{path}: record at {offset} claims {record_size} bytes, past its block"
        )
    return record_size


def _read_block(f, path: str, offset: int, region_end: int) -> bytes:
    """The whole record block at ``offset`` of the open shard ``f``."""
    record_size = _block_size(f, path, offset, region_end)
    return struct.pack("<Q", record_size) + f.read(record_size - 8)


def read_record_at(
    path: str,
    offset: int,
    verify_checksums: bool = True,
    skip_payload: bool = False,
    skip_entries: bool = False,
    entry_names: "set[str] | None" = None,
) -> Record:
    """O(1) random access: seek to the offset-table position (draft.md:167-175).

    Reads the block header first, then exactly the block — a partial read,
    fixing the reference's whole-shard fetch (SURVEY.md D4).  The block
    must end before the smallest possible EOF index; the file size gives
    that bound without a footer read (one request fewer on object stores).
    """
    with storage.for_path(path).open_read(path) as f:
        f.seek(0, 2)
        block = _read_block(f, path, offset, f.tell() - _MIN_INDEX_BYTES)
    rec, _ = decode_record(
        block, 0, verify_checksums, skip_payload, skip_entries, entry_names
    )
    return rec


def read_nth_record(
    path: str,
    n: int,
    verify_checksums: bool = True,
    entry_names: "set[str] | frozenset[str] | None" = None,
) -> Record:
    """Record ``n`` of a shard through ONE handle: the footer, the record
    count, the one 8-byte offset slot, then the block.  No offset-table
    list and no shard-metadata JSON — the map-style ``ds[i]`` path."""
    with storage.for_path(path).open_read(path) as f:
        index_start, size = _footer(f, path)
        f.seek(index_start)
        count = _record_count(path, f.read(8), index_start, size)
        if not 0 <= n < count:
            raise ShardPackIndexError(f"{path}: record {n} out of range [0, {count})")
        f.seek(index_start + 8 + 8 * n)
        (offset,) = struct.unpack("<Q", f.read(8))
        block = _read_block(f, path, offset, index_start)
    rec, _ = decode_record(block, 0, verify_checksums, entry_names=entry_names)
    return rec


def iter_keys(path: str) -> Iterator[tuple[int, str]]:
    """``(offset, key)`` of every record block, in shard order: the key scan.

    Reads the EOF index, then the record region [0, index_start) in ONE
    ranged read (object stores bill per request), and parses only each
    block's size field and key: no metadata JSON, no payload copy, no
    decode, no sha256.  Key-directed reads then decode just the blocks
    they want with ``read_record_at``."""
    with storage.for_path(path).open_read(path) as f:
        offsets, index_start, _ = _read_offsets(f, path)
        f.seek(0)
        buf = f.read(index_start)
    for off, end in zip(offsets, offsets[1:] + [index_start]):
        if end - off < _MIN_BLOCK_BYTES:
            raise ShardPackIndexError(f"{path}: record at {off} is shorter than a block header")
        record_size, key_len = struct.unpack_from("<QI", buf, off)
        if record_size != end - off or key_len > record_size - _MIN_BLOCK_BYTES:
            raise ShardPackCodecError(
                f"{path}: record at {off}: size {record_size} or key length "
                f"{key_len} overruns its {end - off}-byte block"
            )
        try:
            key = buf[off + 12 : off + 12 + key_len].decode("utf-8")
        except UnicodeDecodeError as e:
            raise ShardPackCodecError(f"{path}: record at {off}: key is not utf-8") from e
        yield off, key


def read_entry_slice(
    path: str,
    record_offset: int,
    file_name: str,
    start: int,
    length: int,
) -> bytes:
    """Ranged read INSIDE one entry's uncompressed payload: ``length``
    bytes at ``start``, touching O(covered bytes) of storage instead of
    the whole entry (draft.md:144-148's chunk-level promise).

    I/O shape by encoding:
    - 'none': one ranged read of exactly the requested span — raw bytes
      are already range-addressable;
    - '{codec};chunk=N': reads the chunk table plus ONLY the compressed
      chunks covering the span; each touched chunk verifies its crc32
      (the entry-level sha256 covers full reads, which a partial read by
      definition cannot check);
    - whole-entry codecs: falls back to reading + decompressing the
      entire entry (write with ``chunk_bytes`` to make slices cheap).

    Entry headers are parsed progressively with seeks, so a record whose
    sibling entries hold gigabytes costs only their header bytes.
    Raises ShardPackIndexError when the entry name is absent, and
    returns fewer than ``length`` bytes only at payload end (file slice
    semantics)."""
    if start < 0 or length < 0:
        raise ShardPackCodecError("start/length must be nonnegative")
    with storage.for_path(path).open_read(path) as f:
        f.seek(record_offset)
        (record_size,) = struct.unpack("<Q", f.read(8))
        end = record_offset + record_size

        def lp_skip() -> None:
            (n,) = struct.unpack("<I", f.read(4))
            f.seek(n, 1)

        def lp_read() -> bytes:
            (n,) = struct.unpack("<I", f.read(4))
            return f.read(n)

        lp_skip()  # key
        lp_skip()  # metadata
        (n_entries,) = struct.unpack("<I", f.read(4))
        for _ in range(n_entries):
            name = lp_read().decode("utf-8")
            lp_skip()  # content_type
            enc = lp_read().decode("utf-8")
            (file_size,) = struct.unpack("<Q", f.read(8))
            f.seek(32, 1)  # sha256
            (data_len,) = struct.unpack("<Q", f.read(8))
            data_pos = f.tell()
            if name != file_name:
                f.seek(data_len, 1)
                continue
            want = max(0, min(length, file_size - start))
            if want == 0:
                return b""
            if enc == "none":
                f.seek(data_pos + start)
                return f.read(want)
            if ";chunk=" in enc:
                base_codec = enc.partition(";chunk=")[0]
                n, cb, total = _chunk_header(f.read(24), data_len, file_size)
                table = _chunk_table(f.read(12 * n), n, data_len)
                payload_base = data_pos + 24 + 12 * n
                c0 = start // cb
                c1 = (start + want - 1) // cb
                skip = sum(cl for cl, _ in table[:c0])
                f.seek(payload_base + skip)
                out = []
                for i in range(c0, c1 + 1):
                    clen, crc = table[i]
                    blob = f.read(clen)
                    if zlib.crc32(blob) & 0xFFFFFFFF != crc:
                        raise ShardPackChecksumError(
                            f"entry '{name}': chunk {i} crc32 mismatch"
                        )
                    out.append(_decode(blob, base_codec, min(cb, total - i * cb)))
                raw = b"".join(out)
                off = start - c0 * cb
                return raw[off : off + want]
            # whole-entry compression: no sub-entry addressing possible
            stored = f.read(data_len)
            data = decompress(stored, enc, expected_size=file_size)
            return data[start : start + want]
        if f.tell() > end:
            raise ShardPackCodecError(f"record at {record_offset}: header overrun")
    raise ShardPackIndexError(
        f"record at {record_offset} has no entry named '{file_name}'"
    )


def iter_records_span(
    path: str,
    start: int,
    end: int,
    n_records: int,
    verify_checksums: bool = True,
    skip_payload: bool = False,
    skip_entries: bool = False,
    entry_names: "set[str] | None" = None,
) -> Iterator[Record]:
    """Stream ``n_records`` record blocks from the byte span [start, end)
    in ONE ranged read — the record-range-split read path (a split is a
    contiguous slice of the offset table, so its bytes are contiguous
    too; per-record seeks here would cost one I/O round trip per record
    on an object store)."""
    buf = storage.for_path(path).read_bytes(path, start, end - start)
    pos = 0
    for _ in range(n_records):
        rec, pos = decode_record(
            buf, pos, verify_checksums, skip_payload, skip_entries, entry_names
        )
        yield rec


def iter_records(
    path: str,
    verify_checksums: bool = True,
    offsets: list[int] | None = None,
    skip_payload: bool = False,
    skip_entries: bool = False,
    entry_names: "set[str] | None" = None,
) -> Iterator[Record]:
    """Sequential streaming (draft.md:213-218); with `offsets`, reads only
    the selected record blocks (partition range / pruned access path)."""
    if offsets is None:
        idx = read_index(path)
        offsets = idx.offsets
        # Metadata-only scans of payload-heavy shards: seek from block head
        # to block head and never pull the payload bytes off disk at all
        # (the index-serves-metadata access path, src/bucket.rs:185-188).
        avg = idx.index_start / max(1, len(offsets))
        if skip_entries and avg > 64 * 1024:
            with storage.for_path(path).open_read(path) as f:
                for off in offsets:
                    record_size = _block_size(f, path, off, idx.index_start)
                    # key+metadata sit at the block head; 4 KiB covers the
                    # overwhelming case, extend only when lengths demand it
                    chunk = f.read(min(record_size - 8, 4096))

                    def ensure(n: int) -> None:
                        nonlocal chunk
                        if n > record_size - 8:
                            raise ShardPackCodecError(
                                f"{path}: record at {off}: header overruns its block"
                            )
                        if len(chunk) < n:  # f is positioned right after chunk
                            chunk += f.read(n - len(chunk))

                    ensure(4)
                    (key_len,) = struct.unpack_from("<I", chunk, 0)
                    ensure(8 + key_len)
                    (meta_len,) = struct.unpack_from("<I", chunk, 4 + key_len)
                    ensure(8 + key_len + meta_len)
                    meta_b = chunk[8 + key_len : 8 + key_len + meta_len]
                    try:
                        key = chunk[4 : 4 + key_len].decode("utf-8")
                        metadata = json.loads(meta_b) if meta_b else {}
                    except ValueError as e:  # bad utf-8 or JSON
                        raise ShardPackCodecError(f"{path}: record at {off}: {e}") from e
                    yield Record(key=key, entries=[], metadata=metadata)
            return
        buf = storage.for_path(path).read_bytes(path, 0, idx.index_start)
        pos = 0
        for _ in range(len(offsets)):
            rec, pos = decode_record(
                buf, pos, verify_checksums, skip_payload, skip_entries, entry_names
            )
            yield rec
    else:
        for off in offsets:
            yield read_record_at(
                path, off, verify_checksums, skip_payload, skip_entries, entry_names
            )


# --- dataset (bucket of sequentially numbered shards) -----------------------

def shard_name(basename: str, shard_id: int) -> str:
    """Spec naming dataset-train-000000.shardpack (draft.md:24-30), NOT the
    reference code's shard_{:016x} (divergence D14)."""
    return f"{basename}-{shard_id:06d}.shardpack"


class DatasetWriter:
    """Writes a directory of shards with byte-based rollover.

    Rollover at target_shard_bytes mirrors Bucket::write's intent
    (src/bucket.rs:111-121) but tracks size in-memory and actually writes
    to the new shard after rollover (fixing divergences D2, D3)."""

    def __init__(
        self,
        directory: str,
        basename: str = "part",
        compression: str = "none",
        target_shard_bytes: int = DEFAULT_TARGET_SHARD_BYTES,
        start_shard_id: int = 0,
        max_record_bytes: int | None = None,
        max_entry_bytes: int | None = None,
        chunk_bytes: int | None = None,
    ):
        storage.for_path(directory).makedirs(directory)
        self.directory = directory
        self.basename = basename
        self.compression = compression
        self.target = target_shard_bytes
        self.max_record_bytes = max_record_bytes
        self.max_entry_bytes = max_entry_bytes
        self.chunk_bytes = chunk_bytes
        self._shard_id = start_shard_id
        self._writer: ShardWriter | None = None
        self.results: list[dict] = []

    def _open_next(self) -> ShardWriter:
        path = os.path.join(self.directory, shard_name(self.basename, self._shard_id))
        self._shard_id += 1
        return ShardWriter(
            path,
            self.compression,
            max_record_bytes=self.max_record_bytes,
            max_entry_bytes=self.max_entry_bytes,
            chunk_bytes=self.chunk_bytes,
        )

    def write(self, record: Record) -> None:
        if self._writer is None:
            self._writer = self._open_next()
        elif self._writer.current_size >= self.target and self._writer.record_count > 0:
            self.results.append(self._writer.close())
            self._writer = self._open_next()
        self._writer.write_record(record)

    def close(self) -> list[dict]:
        if self._writer is not None:
            self.results.append(self._writer.close())
            self._writer = None
        return self.results


def write_dataset(
    directory: str,
    records: Iterable[Record],
    basename: str = "part",
    compression: str = "none",
    target_shard_bytes: int = DEFAULT_TARGET_SHARD_BYTES,
) -> list[dict]:
    w = DatasetWriter(directory, basename, compression, target_shard_bytes)
    for r in records:
        w.write(r)
    return w.close()


def list_shards(directory: str) -> list[str]:
    return sorted(
        os.path.join(directory, f)
        for f in storage.for_path(directory).listdir(directory)
        if f.endswith(".shardpack")
    )
