"""LZ4 in the package vs the real LZ4 inside Spark's JVM (net.jpountz.lz4).

Two entry points carry LZ4: puffin's frame writer/reader (footer
payloads) and hfile_lite's Hadoop block framing (raw LZ4 chunks).
Both are cross-validated against lz4-java, Spark's own
shuffle/broadcast codec, in BOTH directions — our frames decode under
``LZ4FrameInputStream``, JVM frames decode here — plus published
xxHash32 vectors and adversarial truncation/corruption cases.
"""

from __future__ import annotations

import json
import random
import struct

import pyarrow as pa
import pytest

from easy_sql_spark.sources.hfile_lite import (
    HFileError,
    hadoop_block_compress,
    hadoop_block_decompress,
)
from easy_sql_spark.sources.puffin import (
    LZ4_FRAME_MAGIC,
    PuffinError,
    lz4_frame_compress,
    lz4_frame_decompress,
    xxh32,
)


def _corpus():
    rng = random.Random(41)
    yield b""
    yield b"a"
    yield b"abcd" * 64
    yield bytes(rng.randrange(256) for _ in range(1000))  # incompressible
    yield b"\x00" * 100_000  # long overlap matches
    yield (b"the quick brown fox " * 500)[:7777]
    yield json.dumps(
        {"blobs": [{"type": "deletion-vector-v1", "offset": i} for i in range(200)]}
    ).encode()
    big = bytearray()
    for _ in range(2000):
        big += rng.choice([b"alpha", b"beta", b"gamma", b"delta-delta"])
        if rng.random() < 0.1:
            big += bytes(rng.randrange(256) for _ in range(rng.randrange(20)))
    yield bytes(big)  # > one 64KB block


def _framed(orig: int, chunk: bytes) -> bytes:
    """One Hadoop block of ``orig`` bytes carried by a single chunk."""
    return struct.pack(">ii", orig, len(chunk)) + chunk


# ------------------------------------------------------------ pure python


def test_xxh32_published_vectors():
    # reference vectors from the xxHash repository README/spec
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"", seed=1) == 0x0B2CB792
    assert xxh32(b"a") == 0x550D7456
    assert xxh32(b"abc") == 0x32D153FF
    assert xxh32(b"Nobody inspects the spammish repetition") == 0xE2293B2F


def test_block_roundtrip():
    for data in _corpus():
        framed = hadoop_block_compress(data, "lz4")
        assert hadoop_block_decompress(framed, "lz4") == data


def test_frame_roundtrip_across_block_boundary():
    rng = random.Random(5)
    mb = 1 << 20
    cases = list(_corpus()) + [
        b"\x01" * (mb - 1),
        b"\x02" * mb,
        b"\x03" * (mb + 1),
        bytes(rng.randbytes(mb + 7)),  # incompressible -> stored blocks
        (b"spam and eggs " * 200_000)[: 2 * mb + mb // 2],
    ]
    for data in cases:
        assert lz4_frame_decompress(lz4_frame_compress(data)) == data


def _frame_header(flg: int, content_size: int | None = None) -> bytes:
    desc = bytes([flg, 6 << 4])
    if content_size is not None:
        desc += struct.pack("<Q", content_size)
    return (
        struct.pack("<I", LZ4_FRAME_MAGIC)
        + desc
        + bytes([(xxh32(desc) >> 8) & 0xFF])
    )


def test_frame_rejects_corruption():
    body = b"hello world " * 100
    frame = lz4_frame_compress(body)
    with pytest.raises(PuffinError):
        lz4_frame_decompress(frame[:10])  # truncated
    with pytest.raises(PuffinError):
        lz4_frame_decompress(frame[:-6])  # truncated inside the EndMark
    bad = frame[:4] + b"\xff" + frame[5:]
    with pytest.raises(PuffinError):
        lz4_frame_decompress(bad)  # header checksum / version
    hc = bytearray(frame)
    hc[14] ^= 0x01  # header checksum byte
    with pytest.raises(PuffinError):
        lz4_frame_decompress(bytes(hc))
    flipped = bytearray(frame)
    flipped[-1] ^= 0xFF  # content checksum byte
    with pytest.raises(PuffinError):
        lz4_frame_decompress(bytes(flipped))
    wrong_size = _frame_header(0x6C, len(body) - 1) + frame[15:]
    with pytest.raises(PuffinError):
        lz4_frame_decompress(wrong_size)
    with pytest.raises(PuffinError):
        lz4_frame_decompress(frame + b"\x00")  # trailing bytes
    with pytest.raises(PuffinError):
        lz4_frame_decompress(b"\x00" * 16)  # bad magic
    with pytest.raises(PuffinError):
        lz4_frame_decompress(b"")


def test_block_rejects_bad_offsets():
    with pytest.raises(HFileError):  # offset beyond output
        hadoop_block_decompress(_framed(5, b"\x10A\x05\x00"), "lz4")
    with pytest.raises(HFileError):  # offset zero
        hadoop_block_decompress(_framed(5, b"\x10A\x00\x00"), "lz4")
    with pytest.raises(HFileError):  # truncated literals
        hadoop_block_decompress(_framed(9, b"\x90ABC"), "lz4")


# ------------------------------------------------------------------- JVM


def _jvm_frame_compress(spark, data: bytes) -> bytes:
    jvm = spark.sparkContext._jvm
    baos = jvm.java.io.ByteArrayOutputStream()
    out = jvm.net.jpountz.lz4.LZ4FrameOutputStream(baos)
    out.write(data)
    out.close()
    return bytes(baos.toByteArray())


def _jvm_frame_decompress(spark, data: bytes) -> bytes:
    jvm = spark.sparkContext._jvm
    bais = jvm.java.io.ByteArrayInputStream(data)
    inp = jvm.net.jpountz.lz4.LZ4FrameInputStream(bais)
    out = bytes(inp.readAllBytes())  # Java 9+; avoids py4j buffer copy-back
    inp.close()
    return out


def test_jvm_frames_decode_here(spark):
    for data in _corpus():
        frame = _jvm_frame_compress(spark, data)
        assert lz4_frame_decompress(frame) == data


def test_our_frames_decode_in_jvm(spark):
    for data in _corpus():
        frame = lz4_frame_compress(data)
        assert _jvm_frame_decompress(spark, frame) == data


def test_block_codec_matches_jvm_safe_decompressor(spark):
    jvm = spark.sparkContext._jvm
    factory = jvm.net.jpountz.lz4.LZ4Factory.fastestInstance()
    comp = factory.fastCompressor()
    dec = factory.safeDecompressor()
    for data in _corpus():
        if not data:
            continue
        # JVM block -> a Hadoop-framed chunk here
        jcomp = bytes(comp.compress(data))
        assert hadoop_block_decompress(_framed(len(data), jcomp), "lz4") == data
        # our chunk -> JVM block decompressor
        ours = hadoop_block_compress(data, "lz4")
        assert struct.unpack_from(">ii", ours) == (len(data), len(ours) - 8)
        assert bytes(dec.decompress(ours[8:], len(data))) == data


def test_xxh32_matches_jvm(spark):
    jvm = spark.sparkContext._jvm
    fac = jvm.net.jpountz.xxhash.XXHashFactory.fastestInstance()
    for data in _corpus():
        for seed in (0, 0x2B2C3A97):  # int32-range so py4j passes Integer
            h = fac.hash32().hash(data, 0, len(data), seed)
            assert (h & 0xFFFFFFFF) == xxh32(data, seed)


# ---------------------------------------------------------------- puffin


def test_puffin_compressed_footer_roundtrip():
    from easy_sql_spark.sources.puffin import (
        encode_dv_blob,
        read_puffin_footer,
        write_puffin,
    )

    blob = encode_dv_blob([1, 5, 9, 1 << 33])
    data, metas = write_puffin(
        [("deletion-vector-v1", blob, {"referenced-data-file": "f.parquet"})],
        compress_footer=True,
    )
    assert data[-8] & 0x01  # compressed flag set
    footer = read_puffin_footer(data)
    assert footer["blobs"][0]["type"] == "deletion-vector-v1"
    assert footer["blobs"][0]["offset"] == metas[0]["offset"]


def test_puffin_footer_compressed_by_jvm_lz4(spark):
    """A third-party writer that compresses the footer with the real
    lz4 frame codec (content size present, per the Puffin spec) must
    read here — the exact case the pre-r11 reader refused."""
    from easy_sql_spark.sources.puffin import MAGIC, read_puffin_footer

    payload = json.dumps(
        {"blobs": [{"type": "deletion-vector-v1", "offset": 4, "length": 9}],
         "properties": {}}
    ).encode()
    comp = _jvm_frame_compress(spark, payload)
    data = (
        MAGIC
        + b"XXXXXXXXX"  # fake blob region
        + MAGIC
        + comp
        + struct.pack("<i", len(comp))
        + b"\x01\x00\x00\x00"
        + MAGIC
    )
    footer = read_puffin_footer(data)
    assert footer["blobs"][0]["length"] == 9


def test_puffin_corrupt_compressed_footer_raises():
    from easy_sql_spark.sources.puffin import (
        MAGIC,
        read_puffin_footer,
        write_puffin,
    )

    data, _ = write_puffin([("t", b"x", {})], compress_footer=True)
    # flip a byte inside the compressed payload
    body = bytearray(data)
    body[len(MAGIC) + 1 + 6] ^= 0xFF
    with pytest.raises(PuffinError):
        read_puffin_footer(bytes(body))


# ------------------------------------------------------------- hypothesis

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:

    @settings(max_examples=80, deadline=None)
    @given(
        data=st.one_of(
            st.binary(max_size=3000),
            # repetitive payloads exercise real matches + overlaps
            st.builds(
                lambda w, n, tail: w * n + tail,
                st.binary(min_size=1, max_size=12),
                st.integers(min_value=0, max_value=400),
                st.binary(max_size=50),
            ),
        ),
    )
    def test_frame_roundtrip_property(data):
        assert lz4_frame_decompress(lz4_frame_compress(data)) == data

    @settings(max_examples=100, deadline=None)
    @given(st.binary(max_size=5000))
    def test_block_roundtrip_property(data):
        framed = hadoop_block_compress(data, "lz4")
        assert hadoop_block_decompress(framed, "lz4") == data


def test_truncated_block_checksum_raises_puffinerror():
    """A frame cut inside a trailing block checksum must raise
    PuffinError, not struct.error or a pyarrow error."""
    comp = pa.Codec("lz4_raw").compress(b"hello world, hello world", asbytes=True)
    frame = (
        _frame_header(0x70)  # block checksums, no content size
        + struct.pack("<I", len(comp))
        + comp
        + struct.pack("<I", xxh32(comp))[:2]  # TRUNCATED checksum
    )
    with pytest.raises(PuffinError):
        lz4_frame_decompress(frame)
