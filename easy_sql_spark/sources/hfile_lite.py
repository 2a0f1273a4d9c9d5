"""HBase HFile v2/v3 codec, for Hudi HFILE payloads.

Hudi stores METADATA TABLE file groups (and ``HFILE_DATA_BLOCK``s,
``HoodieLogBlockType`` ordinal 4) as HBase HFiles: row key = record
key, cell value = an Avro datum.  The byte format implemented here is
the public HFile specification (HBase book appendix "HFile format",
``org.apache.hadoop.hbase.io.hfile`` — FixedFileTrailer, HFileBlock,
HFileWriterImpl) restricted to the subset Hudi's own HBase-free native
reader pins down in RFC-84 ("HFile format for Hudi"): v2/v3 trailers,
NONE/GZ compression (plus SNAPPY/LZ4, coded by pyarrow inside Hadoop's
block framing), no encryption, no data-block encoding, cells in
``KeyValue`` layout.

File layout (write order)::

    scanned section      DATA blocks (this module skips interleaved
                         LEAF_INDEX / BLOOM_CHUNK blocks when reading)
    load-on-open         ROOT_INDEX (data), ROOT_INDEX (meta, empty),
                         FILE_INFO
    trailer              magic TRABLK"$ + varint-delimited
                         FileTrailerProto + zero padding + version word
                         (212 bytes total for major=2, 4096 for 3+)

Every block starts with the 33-byte checksummed header (minor version
>= 1)::

    8  magic        DATABLK* / IDXROOT2 / FILEINF2 / ...
    4  onDiskSizeWithoutHeader   (int BE, INCLUDES checksum bytes)
    4  uncompressedSizeWithoutHeader
    8  prevBlockOffset           (same-type predecessor, -1 if none)
    1  checksumType              (0 null, 1 CRC32, 2 CRC32C)
    4  bytesPerChecksum
    4  onDiskDataSizeWithHeader  (header+data EXCLUDING checksums)

followed by the (possibly compressed) data and one 4-byte BE checksum per
``bytesPerChecksum`` chunk of header+data.  Cells are ``KeyValue``::

    4  key length    4  value length
    key:   2 rowLen | row | 1 famLen | family | qualifier | 8 ts | 1 type
    value: bytes
    [vlong mvcc      iff FILE_INFO has KEY_VALUE_VERSION == 1]

The reader is a SEQUENTIAL full scan of the scanned section (bounded
by the trailer's load-on-open offset) — exactly what log-block /
metadata-table decoding needs — so index blocks are never consulted;
the writer still emits a valid single-level root index so files open
under real HBase readers.  No HBase/Hudi jars exist in this container
(verified), so parity is pinned the same way as ``avro_lite`` /
``kryo_lite``: spec-derived byte layout asserted field-by-field in
tests/test_hfile_lite.py plus adversarial corruption cases; the CRC32C
is validated against published check vectors.

Pure picklable Python over bytes — decode runs inside executor tasks.
"""

from __future__ import annotations

import gzip
import struct
from dataclasses import dataclass

# ------------------------------------------------------------ constants

DATA_MAGIC = b"DATABLK*"
ENCODED_DATA_MAGIC = b"DATABLKE"
LEAF_INDEX_MAGIC = b"IDXLEAF2"
BLOOM_CHUNK_MAGIC = b"BLMFBLK2"
META_MAGIC = b"METABLKc"
INTERMEDIATE_INDEX_MAGIC = b"IDXINTE2"
ROOT_INDEX_MAGIC = b"IDXROOT2"
FILE_INFO_MAGIC = b"FILEINF2"
BLOOM_META_MAGIC = b"BLMFMET2"
DELETE_FAMILY_BLOOM_META_MAGIC = b"DFBLMET2"
TRAILER_MAGIC = b'TRABLK"$'

HEADER_SIZE = 33  # minor version >= 1 (with per-block checksums)

# Compression.Algorithm ordinals
COMPRESSION = {0: "lzo", 1: "gz", 2: "none", 3: "snappy", 4: "lz4",
               5: "bzip2", 6: "zstd"}

# DataBlockEncoding ids (HBase DataBlockEncoding enum) — decoded only
# to NAME the refusal; NONE-encoded blocks use the DATA_MAGIC path
DATA_BLOCK_ENCODING = {0: "NONE", 2: "PREFIX", 4: "DIFF",
                       8: "FAST_DIFF", 7: "ROW_INDEX_V1"}

CHECKSUM_NULL, CHECKSUM_CRC32, CHECKSUM_CRC32C = 0, 1, 2

KEYVALUE_TYPE_PUT = 4
LATEST_TIMESTAMP = 0x7FFFFFFFFFFFFFFF  # HConstants.LATEST_TIMESTAMP

PB_MAGIC = b"PBUF"

_TRAILER_SIZE = {2: 212}  # major 3+ -> 4096 (HBase FixedFileTrailer)


class HFileError(ValueError):
    pass


class HFileUnsupportedError(NotImplementedError):
    pass


# --------------------------------------------------------------- crc32c


def _make_crc32c_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C_TABLE = _make_crc32c_table()


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli), the HBase default block checksum."""
    c = 0xFFFFFFFF
    for b in data:
        c = _CRC32C_TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def _chunk_checksum(ctype: int, chunk: bytes) -> int:
    if ctype == CHECKSUM_CRC32:
        import zlib

        return zlib.crc32(chunk) & 0xFFFFFFFF
    if ctype == CHECKSUM_CRC32C:
        return crc32c(chunk)
    raise HFileUnsupportedError("checksum type %d" % ctype)


# ------------------------------------------------- hadoop vlong / vint


def write_vlong(i: int) -> bytes:
    """Hadoop WritableUtils.writeVLong encoding."""
    if -112 <= i <= 127:
        return struct.pack("b", i)
    length = -112
    if i < 0:
        i ^= -1
        length = -120
    tmp = i
    while tmp != 0:
        tmp >>= 8
        length -= 1
    out = bytearray(struct.pack("b", length))
    length = -(length + 120) if length < -120 else -(length + 112)
    for idx in range(length, 0, -1):
        out.append((i >> ((idx - 1) * 8)) & 0xFF)
    return bytes(out)


def read_vlong(buf: bytes, pos: int) -> tuple[int, int]:
    first = struct.unpack_from("b", buf, pos)[0]
    pos += 1
    if first >= -112:
        return first, pos
    negative = first < -120
    length = -(first + 120) if negative else -(first + 112)
    val = 0
    for _ in range(length):
        val = (val << 8) | buf[pos]
        pos += 1
    return (val ^ -1 if negative else val), pos


# ------------------------------------------------------ minimal protobuf


def _pb_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _pb_fields(buf: bytes) -> dict[int, list]:
    """Parse a protobuf message into {field_no: [values]} (varint and
    length-delimited wire types only — all FileTrailerProto/
    FileInfoProto fields are one of the two)."""
    fields: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = _pb_read_varint(buf, pos)
        fno, wt = tag >> 3, tag & 0x07
        if wt == 0:
            val, pos = _pb_read_varint(buf, pos)
        elif wt == 2:
            ln, pos = _pb_read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        else:
            raise HFileError("unexpected protobuf wire type %d" % wt)
        fields.setdefault(fno, []).append(val)
    return fields


def _pb_field(fno: int, value) -> bytes:
    if isinstance(value, int):
        return _pb_varint(fno << 3) + _pb_varint(value)
    return _pb_varint((fno << 3) | 2) + _pb_varint(len(value)) + value


# -------------------------------------------------------------- trailer


@dataclass
class HFileTrailer:
    major_version: int
    minor_version: int
    file_info_offset: int
    load_on_open_data_offset: int
    data_index_count: int
    meta_index_count: int
    entry_count: int
    num_data_index_levels: int
    first_data_block_offset: int
    last_data_block_offset: int
    comparator_class_name: str
    compression_codec: int

    @property
    def compression(self) -> str:
        return COMPRESSION.get(self.compression_codec, "unknown")


def trailer_size(major_version: int) -> int:
    return _TRAILER_SIZE.get(major_version, 4096)


def read_trailer(data: bytes) -> HFileTrailer:
    if len(data) < 16:
        raise HFileError("file too short for an hfile trailer")
    (version_word,) = struct.unpack_from(">I", data, len(data) - 4)
    major = version_word & 0x00FFFFFF
    minor = version_word >> 24
    if major < 2:
        raise HFileUnsupportedError("hfile major version %d (v1)" % major)
    if major == 2 and minor < 1:
        # pre-checksum minor versions use 24-byte block headers; parsing
        # them under the 33-byte checksummed layout would misread the
        # first data bytes as checksum fields (r11 review fix)
        raise HFileUnsupportedError(
            "hfile v2 minor version %d (pre-checksum block headers)"
            % minor
        )
    tsize = trailer_size(major)
    tstart = len(data) - tsize
    if tstart < 0 or data[tstart : tstart + 8] != TRAILER_MAGIC:
        raise HFileError("hfile trailer magic not found")
    body = data[tstart + 8 : len(data) - 4]
    plen, pos = _pb_read_varint(body, 0)
    fields = _pb_fields(body[pos : pos + plen])

    def get(fno: int, default=0):
        return fields.get(fno, [default])[0]

    return HFileTrailer(
        major_version=major,
        minor_version=minor,
        file_info_offset=get(1),
        load_on_open_data_offset=get(2),
        data_index_count=get(5),
        meta_index_count=get(6),
        entry_count=get(7),
        num_data_index_levels=get(8, 1),
        first_data_block_offset=get(9),
        last_data_block_offset=get(10),
        comparator_class_name=(
            get(11, b"").decode() if isinstance(get(11, b""), bytes) else ""
        ),
        compression_codec=get(12, 2),
    )


def _write_trailer(
    major: int,
    minor: int,
    pb_payload: bytes,
) -> bytes:
    tsize = trailer_size(major)
    body = _pb_varint(len(pb_payload)) + pb_payload
    padding = tsize - 8 - 4 - len(body)
    if padding < 0:
        raise HFileError("trailer payload exceeds fixed trailer size")
    version_word = (major & 0x00FFFFFF) | (minor << 24)
    return TRAILER_MAGIC + body + b"\x00" * padding + struct.pack(
        ">I", version_word
    )


# ------------------------------------------------- hadoop block framing
#
# HBase SNAPPY / LZ4 blocks go through Hadoop's SnappyCodec / Lz4Codec,
# whose BlockCompressorStream frames raw codec output::
#
#     repeat:
#       int32 BE   uncompressed length of this block
#       repeat until the block's bytes are produced:
#         int32 BE   compressed chunk length
#         bytes      one raw Snappy / LZ4 block
#
# pyarrow codes the chunks; only the framing lives here.

_HADOOP_BLOCK_SIZE = 256 * 1024
# A raw LZ4 block carries no length, so each chunk is read as a
# one-block frame: magic, FLG (independent blocks), BD (4 MB), checksum.
_LZ4_CHUNK_FRAME = bytes.fromhex("04224d18607073")


def _snappy_length(chunk: bytes) -> int:
    """The uncompressed length a raw Snappy chunk declares (varint)."""
    n = 0
    for i, b in enumerate(chunk[:5]):
        n |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return n
    raise HFileError("bad snappy chunk length varint")


def _decode_chunk(codec: str, chunk: bytes, room: int) -> bytes:
    import pyarrow as pa

    try:
        if codec == "snappy":
            size = _snappy_length(chunk)
            if size > room:
                raise HFileError("snappy chunk overruns its hadoop block")
            return pa.Codec("snappy").decompress(
                chunk, decompressed_size=size, asbytes=True
            )
        frame = (
            _LZ4_CHUNK_FRAME + struct.pack("<I", len(chunk)) + chunk
            + b"\x00\x00\x00\x00"
        )
        return pa.input_stream(pa.py_buffer(frame), compression="lz4").read()
    except (OSError, pa.ArrowException) as e:
        raise HFileError("corrupt %s chunk: %s" % (codec, e)) from e


def hadoop_block_decompress(data: bytes, codec: str) -> bytes:
    """Decode Hadoop block framing over ``"snappy"`` or ``"lz4"`` chunks."""
    out = bytearray()
    pos, n = 0, len(data)
    while pos < n:
        if pos + 4 > n:
            raise HFileError("truncated hadoop block header")
        (orig,) = struct.unpack_from(">i", data, pos)
        pos += 4
        if orig < 0:
            raise HFileError("negative hadoop block length %d" % orig)
        produced = 0
        while produced < orig:
            if pos + 4 > n:
                raise HFileError("truncated hadoop chunk header")
            (clen,) = struct.unpack_from(">i", data, pos)
            pos += 4
            if clen < 0 or pos + clen > n:
                raise HFileError("hadoop chunk overruns input")
            chunk = _decode_chunk(codec, data[pos : pos + clen], orig - produced)
            pos += clen
            out += chunk
            produced += len(chunk)
        if produced != orig:
            raise HFileError(
                "hadoop block produced %d bytes, header says %d"
                % (produced, orig)
            )
    return bytes(out)


def hadoop_block_compress(data: bytes, codec: str) -> bytes:
    """Encode with Hadoop block framing, one chunk per block (the shape
    every Hadoop-ecosystem decompressor accepts)."""
    import pyarrow as pa

    chunk_codec = pa.Codec("lz4_raw" if codec == "lz4" else codec)
    if not data:
        return struct.pack(">i", 0)
    out = bytearray()
    for start in range(0, len(data), _HADOOP_BLOCK_SIZE):
        block = data[start : start + _HADOOP_BLOCK_SIZE]
        comp = chunk_codec.compress(block, asbytes=True)
        out += struct.pack(">ii", len(block), len(comp)) + comp
    return bytes(out)


# --------------------------------------------------------------- blocks


def _read_block(data: bytes, offset: int, compression: str):
    """-> (magic, body bytes, end offset). Verifies checksums."""
    if offset + HEADER_SIZE > len(data):
        raise HFileError("truncated hfile block header at %d" % offset)
    magic = data[offset : offset + 8]
    (on_disk_wo_header, uncompressed_wo_header) = struct.unpack_from(
        ">ii", data, offset + 8
    )
    ctype = data[offset + 24]
    (bytes_per_checksum, on_disk_data_with_header) = struct.unpack_from(
        ">ii", data, offset + 25
    )
    end = offset + HEADER_SIZE + on_disk_wo_header
    if end > len(data):
        raise HFileError("truncated hfile block body at %d" % offset)
    checked = data[offset : offset + on_disk_data_with_header]
    checksums = data[offset + on_disk_data_with_header : end]
    if ctype != CHECKSUM_NULL:
        n_chunks = (len(checked) + bytes_per_checksum - 1) // bytes_per_checksum
        if len(checksums) != 4 * n_chunks:
            raise HFileError("hfile block checksum region size mismatch")
        for i in range(n_chunks):
            chunk = checked[i * bytes_per_checksum : (i + 1) * bytes_per_checksum]
            (stored,) = struct.unpack_from(">I", checksums, 4 * i)
            if stored != _chunk_checksum(ctype, chunk):
                raise HFileError(
                    "hfile block checksum mismatch at offset %d chunk %d"
                    % (offset, i)
                )
    body = checked[HEADER_SIZE:]
    if compression == "gz":
        body = gzip.decompress(body)
    elif compression in ("snappy", "lz4"):
        body = hadoop_block_decompress(bytes(body), compression)
    elif compression != "none":
        # zstd/lzo/bzip2 stay loud refusals: guessing bytes is exactly
        # what this module refuses to do
        raise HFileUnsupportedError(
            "hfile compression codec %r" % compression
        )
    if len(body) != uncompressed_wo_header:
        raise HFileError("hfile block uncompressed size mismatch")
    return magic, body, end


# ---------------------------------------------------------------- cells


@dataclass
class HFileCell:
    row: bytes
    family: bytes
    qualifier: bytes
    timestamp: int
    type: int
    value: bytes
    mvcc: int = 0


def _parse_cells(body: bytes, includes_mvcc: bool) -> list[HFileCell]:
    cells = []
    pos = 0
    n = len(body)
    while pos < n:
        key_len, val_len = struct.unpack_from(">ii", body, pos)
        pos += 8
        key = body[pos : pos + key_len]
        pos += key_len
        value = body[pos : pos + val_len]
        pos += val_len
        (row_len,) = struct.unpack_from(">H", key, 0)
        row = key[2 : 2 + row_len]
        fam_len = key[2 + row_len]
        fam_start = 3 + row_len
        family = key[fam_start : fam_start + fam_len]
        qualifier = key[fam_start + fam_len : len(key) - 9]
        (ts,) = struct.unpack_from(">q", key, len(key) - 9)
        ktype = key[len(key) - 1]
        mvcc = 0
        if includes_mvcc:
            mvcc, pos = read_vlong(body, pos)
        cells.append(HFileCell(row, family, qualifier, ts, ktype, value, mvcc))
    return cells


# ---------------------------------------------------------------- reader


def read_file_info(data: bytes, trailer: HFileTrailer) -> dict[bytes, bytes]:
    magic, body, _ = _read_block(
        data, trailer.file_info_offset, trailer.compression
    )
    if magic != FILE_INFO_MAGIC:
        raise HFileError("file_info_offset does not point at FILEINF2")
    if body[:4] != PB_MAGIC:
        raise HFileUnsupportedError("pre-protobuf (0.94-era) file info")
    plen, pos = _pb_read_varint(body, 4)
    info: dict[bytes, bytes] = {}
    for pair in _pb_fields(body[pos : pos + plen]).get(1, []):
        kv = _pb_fields(pair)
        info[bytes(kv[1][0])] = bytes(kv[2][0])
    return info


def read_hfile(data: bytes) -> tuple[list[HFileCell], dict[bytes, bytes], HFileTrailer]:
    """Sequential full scan -> (cells, file info map, trailer)."""
    trailer = read_trailer(data)
    if trailer.compression not in ("none", "gz", "snappy", "lz4"):
        raise HFileUnsupportedError(
            "hfile compression %r (supported: none/gz/snappy/lz4)"
            % trailer.compression
        )
    info = read_file_info(data, trailer)
    kv_version = info.get(b"KEY_VALUE_VERSION")
    includes_mvcc = (
        kv_version is not None
        and struct.unpack(">i", kv_version)[0] == 1
    )
    cells: list[HFileCell] = []
    offset = 0
    while offset < trailer.load_on_open_data_offset:
        magic, body, offset = _read_block(data, offset, trailer.compression)
        if magic == DATA_MAGIC:
            cells.extend(_parse_cells(body, includes_mvcc))
        elif magic == ENCODED_DATA_MAGIC:
            # refuse BY NAME: an encoded block's body leads with the
            # 2-byte big-endian DataBlockEncoding id (HBase
            # HFileDataBlockEncoderImpl), so the error can say which
            # encoding the writer used instead of a generic shrug
            enc_id = struct.unpack_from(">H", body, 0)[0] if len(body) >= 2 else -1
            raise HFileUnsupportedError(
                "encoded data block: DATA_BLOCK_ENCODING=%s (id %d) — "
                "only NONE-encoded hfiles decode; rewrite with "
                "hbase.io.encoding=NONE (Hudi metadata tables default "
                "to NONE)" % (DATA_BLOCK_ENCODING.get(enc_id, "unknown"),
                              enc_id)
            )
        elif magic in (LEAF_INDEX_MAGIC, BLOOM_CHUNK_MAGIC,
                       INTERMEDIATE_INDEX_MAGIC, META_MAGIC):
            continue  # interleaved non-cell blocks
        else:
            raise HFileError("unexpected block magic %r in scanned section"
                             % magic)
    if trailer.entry_count and trailer.entry_count != len(cells):
        raise HFileError(
            "trailer entry_count %d != %d cells decoded"
            % (trailer.entry_count, len(cells))
        )
    return cells, info, trailer


def read_hfile_kv(data: bytes) -> list[tuple[bytes, bytes]]:
    """(row key, value) pairs in file order — the Hudi payload shape."""
    cells, _, _ = read_hfile(data)
    return [(c.row, c.value) for c in cells]


# ---------------------------------------------------------------- writer


def _encode_cell(cell: HFileCell, includes_mvcc: bool) -> bytes:
    key = (
        struct.pack(">H", len(cell.row))
        + cell.row
        + struct.pack("B", len(cell.family))
        + cell.family
        + cell.qualifier
        + struct.pack(">q", cell.timestamp)
        + struct.pack("B", cell.type)
    )
    out = struct.pack(">ii", len(key), len(cell.value)) + key + cell.value
    if includes_mvcc:
        out += write_vlong(cell.mvcc)
    return out


def _build_block(
    magic: bytes,
    body: bytes,
    prev_offset: int,
    compression: str,
    checksum_type: int,
    bytes_per_checksum: int,
) -> bytes:
    if compression == "gz":
        stored = gzip.compress(body, mtime=0)
    elif compression in ("snappy", "lz4"):
        stored = hadoop_block_compress(body, compression)
    else:
        stored = body
    on_disk_data_with_header = HEADER_SIZE + len(stored)
    n_chunks = (
        on_disk_data_with_header + bytes_per_checksum - 1
    ) // bytes_per_checksum
    checksum_bytes = 0 if checksum_type == CHECKSUM_NULL else 4 * n_chunks
    header = (
        magic
        + struct.pack(">ii", len(stored) + checksum_bytes, len(body))
        + struct.pack(">q", prev_offset)
        + struct.pack("B", checksum_type)
        + struct.pack(">ii", bytes_per_checksum, on_disk_data_with_header)
    )
    block = header + stored
    if checksum_type != CHECKSUM_NULL:
        sums = bytearray()
        for i in range(n_chunks):
            chunk = block[i * bytes_per_checksum : (i + 1) * bytes_per_checksum]
            sums += struct.pack(">I", _chunk_checksum(checksum_type, chunk))
        block += bytes(sums)
    return block


def write_hfile(
    kv_pairs: list[tuple[bytes, bytes]],
    *,
    major_version: int = 3,
    compression: str = "none",
    block_size: int = 65536,
    checksum_type: int = CHECKSUM_CRC32C,
    bytes_per_checksum: int = 16384,
    include_mvcc: bool = False,
    file_info_extra: dict[bytes, bytes] | None = None,
    comparator_class_name: str = "org.apache.hadoop.hbase.CellComparatorImpl",
) -> bytes:
    """Write (row key, value) pairs (MUST be pre-sorted by key) as an
    HFile with a single-level root index — the Hudi writer shape."""
    if major_version not in (2, 3):
        raise HFileUnsupportedError("write major version %d" % major_version)
    if compression not in ("none", "gz", "snappy", "lz4"):
        raise HFileUnsupportedError("write compression %r" % compression)
    keys = [k for k, _ in kv_pairs]
    if keys != sorted(keys):
        raise HFileError("hfile keys must be sorted")
    cells = [
        HFileCell(k, b"", b"", LATEST_TIMESTAMP, KEYVALUE_TYPE_PUT, v)
        for k, v in kv_pairs
    ]
    out = bytearray()
    index_entries: list[tuple[int, int, bytes]] = []  # offset, size, first key
    prev_data_offset = -1
    first_data_offset = last_data_offset = 0
    total_uncompressed = 0

    i = 0
    while i < len(cells):
        body = bytearray()
        first_cell = cells[i]
        while i < len(cells) and (not body or len(body) < block_size):
            body += _encode_cell(cells[i], include_mvcc)
            i += 1
        offset = len(out)
        block = _build_block(
            DATA_MAGIC, bytes(body), prev_data_offset, compression,
            checksum_type, bytes_per_checksum,
        )
        # root index entries carry the block's FIRST cell key (the
        # "non-root" key = the KeyValue key structure)
        first_key = (
            struct.pack(">H", len(first_cell.row))
            + first_cell.row
            + struct.pack("B", len(first_cell.family))
            + first_cell.family
            + first_cell.qualifier
            + struct.pack(">q", first_cell.timestamp)
            + struct.pack("B", first_cell.type)
        )
        index_entries.append((offset, len(block), first_key))
        prev_data_offset = offset
        if not out:
            first_data_offset = 0
        last_data_offset = offset
        total_uncompressed += HEADER_SIZE + len(body)
        out += block

    # ---- load-on-open section
    load_on_open = len(out)

    # data root index (single level): long offset, int on-disk size,
    # Bytes.writeByteArray(key) = hadoop vint length + key bytes
    root_body = bytearray()
    for offset, size, key in index_entries:
        root_body += struct.pack(">q", offset)
        root_body += struct.pack(">i", size)
        root_body += write_vlong(len(key)) + key
    out += _build_block(
        ROOT_INDEX_MAGIC, bytes(root_body), -1, compression,
        checksum_type, bytes_per_checksum,
    )

    # meta root index (always written, empty here)
    out += _build_block(
        ROOT_INDEX_MAGIC, b"", -1, compression, checksum_type,
        bytes_per_checksum,
    )

    # file info
    info: dict[bytes, bytes] = {}
    if kv_pairs:
        info[b"hfile.LASTKEY"] = (
            struct.pack(">H", len(kv_pairs[-1][0])) + kv_pairs[-1][0]
            + b"\x00" + struct.pack(">q", LATEST_TIMESTAMP)
            + struct.pack("B", KEYVALUE_TYPE_PUT)
        )
    if include_mvcc:
        info[b"MAX_MEMSTORE_TS_KEY"] = struct.pack(">q", 0)
        info[b"KEY_VALUE_VERSION"] = struct.pack(">i", 1)
    info.update(file_info_extra or {})
    pairs = b"".join(
        _pb_field(1, _pb_field(1, k) + _pb_field(2, v))
        for k, v in info.items()
    )
    info_payload = PB_MAGIC + _pb_varint(len(pairs)) + pairs
    file_info_offset = len(out)
    out += _build_block(
        FILE_INFO_MAGIC, info_payload, -1, compression, checksum_type,
        bytes_per_checksum,
    )

    # trailer
    pb = b"".join(
        [
            _pb_field(1, file_info_offset),
            _pb_field(2, load_on_open),
            _pb_field(3, len(root_body)),
            _pb_field(4, total_uncompressed),
            _pb_field(5, len(index_entries)),
            _pb_field(6, 0),
            _pb_field(7, len(kv_pairs)),
            _pb_field(8, 1),
            _pb_field(9, first_data_offset),
            _pb_field(10, last_data_offset),
            _pb_field(11, comparator_class_name.encode()),
            _pb_field(
                12,
                {v: k for k, v in COMPRESSION.items()}[compression],
            ),
        ]
    )
    out += _write_trailer(major_version, 3, pb)
    return bytes(out)
