"""Puffin file format + Iceberg v3 deletion-vector blobs.

Puffin is Iceberg's container for index/statistics blobs (the public
format spec, iceberg docs "Puffin spec"); Iceberg v3 stores DELETION
VECTORS as ``deletion-vector-v1`` blobs inside Puffin files and tracks
them as content=1 manifest entries with ``file_format=PUFFIN`` plus
``referenced_data_file`` / ``content_offset`` /
``content_size_in_bytes`` (field-ids 143/144/145), so readers can slice
a blob straight out of the file WITHOUT parsing the Puffin footer.

File layout::

    4  bytes  magic ``PFA1``
    blobs     concatenated, byte-addressed by the footer / manifest
    4  bytes  magic ``PFA1``          (footer start)
    payload   FileMetadata JSON (optionally one LZ4 frame)
    4  bytes  int32 LE payload length
    4  bytes  flags (bit 0 of byte 0: payload compressed)
    4  bytes  magic ``PFA1``          (file end)

``deletion-vector-v1`` blob layout (Iceberg spec §Deletion vectors)::

    4  bytes  int32 BE length of (magic + vector)
    4  bytes  magic D1 D3 39 64
    vector    64-bit Roaring bitmap, PORTABLE format
    4  bytes  int32 BE CRC-32 of (magic + vector)

The portable Roaring64 format (little-endian: u64 bucket count, then
per bucket a u32 high-word key + a standard 32-bit RoaringBitmap) is
CROSS-VALIDATED byte-for-byte against the real RoaringBitmap library in
Spark's JVM (``org.roaringbitmap.longlong.Roaring64NavigableMap
.serializePortable`` / ``.deserializePortable``,
tests/test_puffin.py) — the 32-bit container codec is shared with the
Delta deletion-vector reader (delta_dv.py), which uses the same
RoaringFormatSpec containers under a different outer framing.

Everything is picklable pure Python over bytes: DV expansion to
(file, position) rows runs inside executor tasks; the driver ships
only (path, offset, length) descriptors.
"""

from __future__ import annotations

import json
import struct
import zlib

from .delta_dv import _decode_rb32, _encode_rb32

MAGIC = b"PFA1"
DV_MAGIC = bytes([0xD1, 0xD3, 0x39, 0x64])
DV_BLOB_TYPE = "deletion-vector-v1"


class PuffinError(ValueError):
    pass


# ---------------------------------------------------------------- roaring64
def encode_roaring64_portable(positions: list[int]) -> bytes:
    """Sorted 64-bit positions -> portable Roaring64 bytes (sparse
    (key, bitmap32) buckets; byte-identical to the reference library's
    ``serializePortable`` for run-free bitmaps)."""
    groups: dict[int, list[int]] = {}
    for p in positions:
        if p < 0:
            raise PuffinError(f"negative position {p}")
        groups.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    out = [struct.pack("<Q", len(groups))]
    for key in sorted(groups):
        out.append(struct.pack("<I", key))
        out.append(_encode_rb32(groups[key]))
    return b"".join(out)


def decode_roaring64_portable(data: bytes, pos: int = 0) -> list[int]:
    """Portable Roaring64 bytes -> sorted 64-bit positions."""
    if len(data) - pos < 8:
        raise PuffinError("roaring64 bitmap truncated")
    (n,) = struct.unpack_from("<Q", data, pos)
    pos += 8
    out: list[int] = []
    for _ in range(n):
        (key,) = struct.unpack_from("<I", data, pos)
        pos += 4
        vals, pos = _decode_rb32(data, pos)
        out.extend((key << 32) | v for v in vals)
    return out


# ---------------------------------------------------------------- DV blob
def encode_dv_blob(positions: list[int]) -> bytes:
    vector = encode_roaring64_portable(sorted(set(positions)))
    body = DV_MAGIC + vector
    return (
        struct.pack(">i", len(body))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def decode_dv_blob(blob: bytes) -> list[int]:
    if len(blob) < 12:
        raise PuffinError("deletion-vector blob truncated")
    (length,) = struct.unpack_from(">i", blob, 0)
    if length != len(blob) - 8:
        raise PuffinError(
            f"deletion-vector blob length field {length} != "
            f"{len(blob) - 8} (blob size minus length+crc fields)"
        )
    body = blob[4:-4]
    if body[:4] != DV_MAGIC:
        raise PuffinError(
            f"bad deletion-vector magic {body[:4].hex()} "
            f"(expected {DV_MAGIC.hex()})"
        )
    (crc,) = struct.unpack_from(">I", blob, len(blob) - 4)
    actual = zlib.crc32(body) & 0xFFFFFFFF
    if crc != actual:
        raise PuffinError(
            f"deletion-vector CRC mismatch: stored {crc:#x}, "
            f"computed {actual:#x}"
        )
    return decode_roaring64_portable(body, 4)


def read_dv_blob_from_file(path: str, offset: int, size: int) -> list[int]:
    """Slice one DV blob out of a Puffin file by the manifest entry's
    ``content_offset`` / ``content_size_in_bytes`` — the spec's
    footer-free read path."""
    with open(path, "rb") as f:
        f.seek(offset)
        blob = f.read(size)
    if len(blob) != size:
        raise PuffinError(
            f"short read at {path}:{offset} (wanted {size} bytes, "
            f"got {len(blob)})"
        )
    return decode_dv_blob(blob)


# ------------------------------------------------------------- lz4 footer
#
# The spec's one footer codec is "a single LZ4 compression frame with
# content size present".  pyarrow reads any LZ4 frame, but its writer
# omits the content size, so the frame is assembled here around
# pyarrow's raw LZ4 blocks.  pyarrow does not expose xxHash32, which
# the frame's header and content checksums use.

_M32 = 0xFFFFFFFF
_P1, _P2, _P3, _P4, _P5 = (
    2654435761,
    2246822519,
    3266489917,
    668265263,
    374761393,
)


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 of ``data`` (reference spec, Cyan4973/xxHash)."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        limit = n - 16
        while i <= limit:
            l1, l2, l3, l4 = struct.unpack_from("<IIII", data, i)
            v1 = (_rotl32((v1 + l1 * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl32((v2 + l2 * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl32((v3 + l3 * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl32((v4 + l4 * _P2) & _M32, 13) * _P1) & _M32
            i += 16
        h = (
            _rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)
        ) & _M32
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        (l,) = struct.unpack_from("<I", data, i)
        h = (_rotl32((h + l * _P3) & _M32, 17) * _P4) & _M32
        i += 4
    while i < n:
        h = (_rotl32((h + data[i] * _P5) & _M32, 11) * _P1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * _P2) & _M32
    h ^= h >> 13
    h = (h * _P3) & _M32
    h ^= h >> 16
    return h


LZ4_FRAME_MAGIC = 0x184D2204
_LZ4_BLOCK_MAX = 1 << 20  # BD code 6


def lz4_frame_compress(data: bytes) -> bytes:
    """One LZ4 frame with content size and content checksum present and
    independent 1 MB blocks, stored raw where LZ4 does not shrink them."""
    import pyarrow as pa

    codec = pa.Codec("lz4_raw")
    # FLG: version 01, independent blocks, content size, content
    # checksum; BD: 1 MB blocks
    header = bytes([0x6C, 6 << 4]) + struct.pack("<Q", len(data))
    out = bytearray(struct.pack("<I", LZ4_FRAME_MAGIC) + header)
    out.append((xxh32(header) >> 8) & 0xFF)
    for at in range(0, len(data), _LZ4_BLOCK_MAX):
        block = data[at : at + _LZ4_BLOCK_MAX]
        comp = codec.compress(block, asbytes=True)
        if len(comp) < len(block):
            out += struct.pack("<I", len(comp)) + comp
        else:
            out += struct.pack("<I", 0x80000000 | len(block)) + block
    out += struct.pack("<II", 0, xxh32(data))  # EndMark, content checksum
    return bytes(out)


def lz4_frame_decompress(payload: bytes) -> bytes:
    """Decode one LZ4 frame; any malformed input raises PuffinError."""
    import pyarrow as pa

    if not payload:
        raise PuffinError("puffin footer lz4 payload is empty")
    try:
        return pa.input_stream(pa.py_buffer(payload), compression="lz4").read()
    except (OSError, pa.ArrowException) as e:
        raise PuffinError("puffin footer lz4 payload corrupt: %s" % e) from e


# ---------------------------------------------------------------- container
def write_puffin(
    blobs: list[tuple[str, bytes, dict]],
    properties: dict | None = None,
    snapshot_id: int = 1,
    sequence_number: int = 1,
    compress_footer: bool = False,
) -> tuple[bytes, list[dict]]:
    """(blob_type, blob_bytes, blob_properties) -> (file bytes, blob
    metadata dicts with offset/length as written)."""
    out = [MAGIC]
    at = 4
    metas = []
    for btype, data, props in blobs:
        metas.append(
            {
                "type": btype,
                "fields": [],
                "snapshot-id": snapshot_id,
                "sequence-number": sequence_number,
                "offset": at,
                "length": len(data),
                "properties": props,
            }
        )
        out.append(data)
        at += len(data)
    payload = json.dumps(
        {"blobs": metas, "properties": properties or {}}
    ).encode()
    flags = b"\x00\x00\x00\x00"
    if compress_footer:
        payload = lz4_frame_compress(payload)
        flags = b"\x01\x00\x00\x00"
    out += [
        MAGIC,
        payload,
        struct.pack("<i", len(payload)),
        flags,
        MAGIC,
    ]
    return b"".join(out), metas


def read_puffin_footer(data: bytes) -> dict:
    """FileMetadata JSON out of a Puffin file's footer.

    Compressed footers (flags bit 0 of byte 0) hold one LZ4 frame,
    decoded by pyarrow; see :func:`lz4_frame_decompress`.
    """
    if data[:4] != MAGIC or data[-4:] != MAGIC:
        raise PuffinError("not a puffin file (bad magic)")
    flags = data[-8:-4]
    (psize,) = struct.unpack_from("<i", data, len(data) - 12)
    pstart = len(data) - 12 - psize
    if pstart < 8 or data[pstart - 4 : pstart] != MAGIC:
        raise PuffinError("puffin footer framing corrupt")
    payload = data[pstart : pstart + psize]
    if flags[0] & 0x01:
        payload = lz4_frame_decompress(payload)
    return json.loads(payload)
