"""Puffin / Iceberg v3 deletion-vector codec tests.

The portable Roaring64 codec is cross-validated against the REAL
RoaringBitmap library in Spark's JVM (the same jar Spark ships,
RoaringBitmap-1.3.0): our encoder must be byte-identical to
``Roaring64NavigableMap.serializePortable`` for run-free bitmaps, and
our decoder must read bytes the JVM wrote — including run containers
produced by ``runOptimize`` that our encoder never emits.
"""

from __future__ import annotations

import random

import pytest

from easy_sql_spark.sources.puffin import (
    DV_MAGIC,
    PuffinError,
    decode_dv_blob,
    decode_roaring64_portable,
    encode_dv_blob,
    encode_roaring64_portable,
    read_dv_blob_from_file,
    read_puffin_footer,
    write_puffin,
)


def _case_sets():
    rng = random.Random(7)
    yield []
    yield [0]
    yield [0, 1, 5, 70000, (1 << 32) + 3]
    yield list(range(1000, 1200))  # a run (JVM may use run containers)
    yield sorted(rng.sample(range(1 << 20), 500))
    yield sorted(
        rng.sample(range(1 << 16), 200)
        + [(2 << 32) + v for v in rng.sample(range(1 << 16), 200)]
    )
    yield sorted(rng.sample(range(1 << 17), 6000))  # bitset container


def test_roaring64_portable_matches_jvm_bytes(spark):
    jvm = spark.sparkContext._jvm
    RB = jvm.org.roaringbitmap.longlong.Roaring64NavigableMap
    for values in _case_sets():
        bm = RB()
        for v in values:
            bm.addLong(v)
        baos = jvm.java.io.ByteArrayOutputStream()
        bm.serializePortable(jvm.java.io.DataOutputStream(baos))
        jvm_bytes = bytes(baos.toByteArray())
        ours = encode_roaring64_portable(values)
        assert ours == jvm_bytes, f"byte mismatch for {len(values)} values"
        assert decode_roaring64_portable(jvm_bytes) == sorted(set(values))


def test_roaring64_decode_jvm_run_containers(spark):
    jvm = spark.sparkContext._jvm
    RB = jvm.org.roaringbitmap.longlong.Roaring64NavigableMap
    values = list(range(5000)) + [(1 << 32) + v for v in range(300, 900)]
    bm = RB()
    for v in values:
        bm.addLong(v)
    assert bm.runOptimize()  # forces cookie-12347 run containers
    baos = jvm.java.io.ByteArrayOutputStream()
    bm.serializePortable(jvm.java.io.DataOutputStream(baos))
    assert decode_roaring64_portable(bytes(baos.toByteArray())) == values


def test_jvm_deserializes_our_bytes(spark):
    jvm = spark.sparkContext._jvm
    RB = jvm.org.roaringbitmap.longlong.Roaring64NavigableMap
    values = [1, 2, 3, 99999, (5 << 32) + 7]
    bais = jvm.java.io.ByteArrayInputStream(
        bytearray(encode_roaring64_portable(values))
    )
    bm = RB()
    bm.deserializePortable(jvm.java.io.DataInputStream(bais))
    assert [bm.select(i) for i in range(bm.getIntCardinality())] == values


def test_dv_blob_roundtrip_and_corruption():
    positions = [0, 7, 12345, (1 << 32) + 42]
    blob = encode_dv_blob(positions)
    assert blob[4:8] == DV_MAGIC
    assert decode_dv_blob(blob) == sorted(positions)
    with pytest.raises(PuffinError, match="CRC"):
        decode_dv_blob(blob[:-1] + bytes([blob[-1] ^ 0xFF]))
    with pytest.raises(PuffinError, match="magic"):
        decode_dv_blob(blob[:4] + b"XXXX" + blob[8:])
    with pytest.raises(PuffinError, match="length"):
        decode_dv_blob(blob + b"\x00")


def test_puffin_container_roundtrip(tmp_path):
    b1 = encode_dv_blob([1, 2, 3])
    b2 = encode_dv_blob([10, 20])
    data, metas = write_puffin(
        [
            ("deletion-vector-v1", b1, {"referenced-data-file": "/d/a.parquet",
                                        "cardinality": "3"}),
            ("deletion-vector-v1", b2, {"referenced-data-file": "/d/b.parquet",
                                        "cardinality": "2"}),
        ]
    )
    p = tmp_path / "dv.puffin"
    p.write_bytes(data)
    # footer-driven read
    footer = read_puffin_footer(data)
    assert [b["type"] for b in footer["blobs"]] == ["deletion-vector-v1"] * 2
    # footer-free read via (offset, length), the manifest-entry path
    for meta, want in zip(metas, ([1, 2, 3], [10, 20])):
        assert (
            read_dv_blob_from_file(str(p), meta["offset"], meta["length"])
            == want
        )
    # flagged compressed, but the payload is not an lz4 frame
    flagged = data[:-8] + b"\x01\x00\x00\x00" + data[-4:]
    with pytest.raises(PuffinError, match="lz4"):
        read_puffin_footer(flagged)


def test_footer_lz4_linked_blocks():
    """A footer over 64 KB compressed by a stock LZ4 frame writer: linked
    blocks (matches reach into the previous block) and no content size."""
    import json
    import struct

    import pyarrow as pa

    from easy_sql_spark.sources.puffin import MAGIC

    footer = {
        "blobs": [
            {
                "type": "deletion-vector-v1",
                "offset": 4 + 40 * i,
                "length": 40,
                "properties": {"referenced-data-file": "/d/part-%05d.parquet" % i},
            }
            for i in range(1500)
        ],
        "properties": {},
    }
    payload = json.dumps(footer).encode()
    assert len(payload) > 64 * 1024
    comp = pa.Codec("lz4").compress(payload, asbytes=True)
    assert comp[4] & 0x28 == 0  # FLG: linked blocks, no content size
    data = (
        MAGIC
        + MAGIC
        + comp
        + struct.pack("<i", len(comp))
        + b"\x01\x00\x00\x00"
        + MAGIC
    )
    assert read_puffin_footer(data) == footer
