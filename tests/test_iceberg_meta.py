"""Iceberg reader (sources/iceberg_meta.py) over the in-repo Avro codec
(sources/avro_lite.py): tables are constructed to the spec — metadata
JSON, Avro manifest list + manifests (one deflate-compressed to cover
the codec path) — the same artifacts an Iceberg writer produces."""

import json
import os

import pytest

from easy_sql_spark.sources.avro_lite import read_avro_file, write_avro_file
from easy_sql_spark.sources.iceberg_meta import (
    IcebergUnsupportedError,
    iceberg_history,
    read_iceberg,
    schema_to_spark,
)

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file_r",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                    },
                    # v3 deletion-vector fields (field-ids 143/144/145)
                    {
                        "name": "referenced_data_file",
                        "type": ["null", "string"],
                    },
                    {"name": "content_offset", "type": ["null", "long"]},
                    {
                        "name": "content_size_in_bytes",
                        "type": ["null", "long"],
                    },
                ],
            },
        },
    ],
}

ICE_SCHEMA = {
    "schema-id": 0,
    "type": "struct",
    "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "val", "required": False, "type": "string"},
    ],
}


def _data_file(spark, table, rel, rows):
    df = spark.createDataFrame(rows, "id long, val string")
    tmp = os.path.join(table, "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    dest = os.path.join(table, "data", rel)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(os.path.join(tmp, part), dest)
    import shutil

    shutil.rmtree(tmp)
    return dest


def _entry(
    status,
    path,
    content=0,
    fmt="PARQUET",
    seq=None,
    eq_ids=None,
    ref=None,
    offset=None,
    size=None,
):
    return {
        "status": status,
        "snapshot_id": 1,
        "sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": fmt,
            "record_count": 1,
            "file_size_in_bytes": 1,
            "equality_ids": eq_ids,
            "referenced_data_file": ref,
            "content_offset": offset,
            "content_size_in_bytes": size,
        },
    }


def _manifest(table, name, entries, codec="null"):
    p = os.path.join(table, "metadata", name)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "wb") as f:
        f.write(write_avro_file(MANIFEST_ENTRY_SCHEMA, entries, codec))
    return p


def _manifest_list(
    table, name, manifest_paths, contents=None, seqs=None, added_snaps=None
):
    p = os.path.join(table, "metadata", name)
    rows = [
        {
            "manifest_path": mp,
            "manifest_length": os.path.getsize(mp),
            "partition_spec_id": 0,
            "content": (contents or [0] * len(manifest_paths))[i],
            "sequence_number": (seqs or [None] * len(manifest_paths))[i],
            "added_snapshot_id": (
                added_snaps or [1] * len(manifest_paths)
            )[i],
        }
        for i, mp in enumerate(manifest_paths)
    ]
    with open(p, "wb") as f:
        f.write(write_avro_file(MANIFEST_FILE_SCHEMA, rows))
    return p


def _metadata(table, snapshots, current, log, schema=None, fv=2):
    meta = {
        "format-version": fv,
        "table-uuid": "0000",
        "location": table,
        "schemas": [schema or ICE_SCHEMA],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "snapshots": snapshots,
        "current-snapshot-id": current,
        "snapshot-log": log,
    }
    p = os.path.join(table, "metadata", "v3.metadata.json")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        json.dump(meta, f)
    with open(os.path.join(table, "metadata", "version-hint.text"), "w") as f:
        f.write("3")


def _mk_table(spark, root):
    t = str(root)
    fa = _data_file(spark, t, "fa.parquet", [(1, "x"), (2, "y")])
    fb = _data_file(spark, t, "fb.parquet", [(3, "z")])
    fc = _data_file(spark, t, "fc.parquet", [(9, "w")])
    # snapshot 100: A + B (deflate-compressed manifest covers that path)
    m1 = _manifest(t, "m1.avro", [_entry(1, fa), _entry(1, fb)], codec="deflate")
    ml1 = _manifest_list(t, "snap-100.avro", [m1])
    # snapshot 200 (overwrite): B deleted, C added, A survives
    m2 = _manifest(t, "m2.avro", [_entry(0, fa), _entry(2, fb), _entry(1, fc)])
    ml2 = _manifest_list(t, "snap-200.avro", [m2])
    _metadata(
        t,
        snapshots=[
            {"snapshot-id": 100, "timestamp-ms": 1000,
             "manifest-list": ml1, "summary": {"operation": "append"}},
            {"snapshot-id": 200, "timestamp-ms": 2000,
             "manifest-list": ml2, "summary": {"operation": "overwrite"}},
        ],
        current=200,
        log=[
            {"timestamp-ms": 1000, "snapshot-id": 100},
            {"timestamp-ms": 2000, "snapshot-id": 200},
        ],
    )
    return t


def test_read_iceberg_snapshots_and_time_travel(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "ice")
    cur = {(r.id, r.val) for r in read_iceberg(spark, t).collect()}
    assert cur == {(1, "x"), (2, "y"), (9, "w")}

    s100 = {(r.id, r.val) for r in read_iceberg(spark, t, snapshot_id=100).collect()}
    assert s100 == {(1, "x"), (2, "y"), (3, "z")}

    at = {(r.id,) for r in read_iceberg(spark, t, as_of_ms=1500).collect()}
    assert at == {(1,), (2,), (3,)}
    with pytest.raises(ValueError, match="no iceberg snapshot"):
        read_iceberg(spark, t, as_of_ms=10)

    hist = iceberg_history(t)
    assert [(h["snapshot_id"], h["operation"]) for h in hist] == [
        (200, "overwrite"), (100, "append"),
    ]


def test_iceberg_applies_position_deletes_refuses_equality(spark, tmp_path):
    """v2 position deletes are APPLIED (anti-join on the delete file's
    (file_path, pos) rows via _metadata.row_index); an equality delete
    whose manifest entry is missing equality_ids is malformed and
    refuses loudly."""
    t = str(tmp_path / "ice2")
    fa = _data_file(spark, t, "fa.parquet", [(1, "x"), (2, "y"), (3, "z")])
    # position-delete file: kill rows 0 and 2 of fa
    dd = spark.createDataFrame(
        [(fa, 0), (fa, 2)], "file_path string, pos long"
    )
    tmp = os.path.join(t, "_tmpd")
    dd.coalesce(1).write.parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    fdel = os.path.join(t, "data", "del1.parquet")
    os.replace(os.path.join(tmp, part), fdel)
    import shutil

    shutil.rmtree(tmp)

    m1 = _manifest(t, "m1.avro", [_entry(1, fa)])
    md = _manifest(t, "md.avro", [_entry(1, fdel, content=1)])
    ml = _manifest_list(t, "snap-1.avro", [m1, md], contents=[0, 1])
    _metadata(
        t,
        snapshots=[{"snapshot-id": 1, "timestamp-ms": 1,
                    "manifest-list": ml, "summary": {"operation": "delete"}}],
        current=1,
        log=[{"timestamp-ms": 1, "snapshot-id": 1}],
    )
    got = {(r.id, r.val) for r in read_iceberg(spark, t).collect()}
    assert got == {(2, "y")}

    # equality delete (content=2) WITHOUT equality_ids is malformed
    t2 = str(tmp_path / "ice3")
    fa2 = _data_file(spark, t2, "fa.parquet", [(1, "x")])
    fe = _data_file(spark, t2, "fe.parquet", [(1, "x")])
    m1b = _manifest(t2, "m1.avro", [_entry(1, fa2)])
    mdb = _manifest(t2, "md.avro", [_entry(1, fe, content=2)])
    mlb = _manifest_list(t2, "snap-1.avro", [m1b, mdb], contents=[0, 1])
    _metadata(
        t2,
        snapshots=[{"snapshot-id": 1, "timestamp-ms": 1,
                    "manifest-list": mlb, "summary": {"operation": "delete"}}],
        current=1,
        log=[{"timestamp-ms": 1, "snapshot-id": 1}],
    )
    with pytest.raises(IcebergUnsupportedError, match="equality_ids"):
        read_iceberg(spark, t2)


def _eq_delete_file(spark, table, rel, rows, schema):
    df = spark.createDataFrame(rows, schema)
    tmp = os.path.join(table, "_tmpe")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    dest = os.path.join(table, "data", rel)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(os.path.join(tmp, part), dest)
    import shutil

    shutil.rmtree(tmp)
    return dest


def test_iceberg_v3_deletion_vectors_apply(spark, tmp_path):
    """Iceberg v3 DELETION VECTORS: content=1 manifest entries with
    file_format=PUFFIN resolve their deletion-vector-v1 blob by
    (content_offset, content_size_in_bytes) — the spec's footer-free
    path — decode executor-side, and anti-join alongside ordinary v2
    position-delete files.  A puffin entry missing the v3 fields
    refuses loudly."""
    from easy_sql_spark.sources.puffin import encode_dv_blob, write_puffin

    t = str(tmp_path / "icev3")
    fa = _data_file(spark, t, "fa.parquet", [(1, "x"), (2, "y"), (3, "z")])
    fb = _data_file(spark, t, "fb.parquet", [(4, "p"), (5, "q")])
    # one puffin file holding TWO DVs: rows {0,2} of fa, row {1} of fb
    blob_a = encode_dv_blob([0, 2])
    blob_b = encode_dv_blob([1])
    data, metas = write_puffin(
        [
            ("deletion-vector-v1", blob_a,
             {"referenced-data-file": fa, "cardinality": "2"}),
            ("deletion-vector-v1", blob_b,
             {"referenced-data-file": fb, "cardinality": "1"}),
        ]
    )
    puf = os.path.join(t, "data", "dvs.puffin")
    with open(puf, "wb") as f:
        f.write(data)

    m1 = _manifest(t, "m1.avro", [_entry(1, fa), _entry(1, fb)])
    md = _manifest(
        t,
        "md.avro",
        [
            _entry(1, puf, content=1, fmt="PUFFIN", ref=fa,
                   offset=metas[0]["offset"], size=metas[0]["length"]),
            _entry(1, puf, content=1, fmt="PUFFIN", ref=fb,
                   offset=metas[1]["offset"], size=metas[1]["length"]),
        ],
    )
    ml = _manifest_list(t, "snap-1.avro", [m1, md], contents=[0, 1])
    _metadata(
        t,
        snapshots=[{"snapshot-id": 1, "timestamp-ms": 1,
                    "manifest-list": ml, "summary": {"operation": "delete"}}],
        current=1,
        log=[{"timestamp-ms": 1, "snapshot-id": 1}],
        fv=3,
    )
    got = {(r.id, r.val) for r in read_iceberg(spark, t).collect()}
    assert got == {(2, "y"), (4, "p")}

    # malformed: puffin entry without referenced_data_file/offset/size
    t2 = str(tmp_path / "icev3_bad")
    fa2 = _data_file(spark, t2, "fa.parquet", [(1, "x")])
    puf2 = os.path.join(t2, "data", "dvs.puffin")
    with open(puf2, "wb") as f:
        f.write(data)
    m1b = _manifest(t2, "m1.avro", [_entry(1, fa2)])
    mdb = _manifest(t2, "md.avro",
                    [_entry(1, puf2, content=1, fmt="PUFFIN")])
    mlb = _manifest_list(t2, "snap-1.avro", [m1b, mdb], contents=[0, 1])
    _metadata(
        t2,
        snapshots=[{"snapshot-id": 1, "timestamp-ms": 1,
                    "manifest-list": mlb,
                    "summary": {"operation": "delete"}}],
        current=1,
        log=[{"timestamp-ms": 1, "snapshot-id": 1}],
        fv=3,
    )
    with pytest.raises(IcebergUnsupportedError, match="deletion"):
        read_iceberg(spark, t2).collect()


def test_iceberg_applies_equality_deletes_with_sequence_ordering(
    spark, tmp_path
):
    """v2 equality deletes apply with the spec's sequence rule: a delete
    row at data sequence s kills matching rows only in data files with
    sequence STRICTLY BELOW s — the upsert pattern (delete key + re-add
    in the same or a later commit) must read back the re-added row.
    Covers null-safe matching and inheritance of the manifest-list
    sequence number by entries with a null sequence_number."""
    t = str(tmp_path / "ice_eq")
    # seq 1: original rows, including a NULL-val row (null-safe match)
    fa = _data_file(spark, t, "fa.parquet", [(1, "x"), (2, "y"), (3, None)])
    # seq 3: id=2 re-inserted AFTER the delete — must survive
    fb = _data_file(spark, t, "fb.parquet", [(2, "y2")])
    # seq 2 equality delete on (id): kills id=2 from fa only
    fe1 = _eq_delete_file(spark, t, "eq1.parquet", [(2,)], "id long")
    # seq 2 equality delete on (val): NULL val matches null-safely
    fe2 = _eq_delete_file(
        spark, t, "eq2.parquet", [(None,)], "val string"
    )
    m1 = _manifest(t, "m1.avro", [_entry(1, fa, seq=1)])
    m2 = _manifest(t, "m2.avro", [_entry(1, fb, seq=3)])
    # entries carry NULL seq -> inherit the manifest-list entry's (2)
    md = _manifest(
        t,
        "md.avro",
        [
            _entry(1, fe1, content=2, eq_ids=[1]),
            _entry(1, fe2, content=2, eq_ids=[2]),
        ],
    )
    ml = _manifest_list(
        t, "snap-1.avro", [m1, m2, md], contents=[0, 0, 1], seqs=[1, 3, 2]
    )
    _metadata(
        t,
        snapshots=[{"snapshot-id": 1, "timestamp-ms": 1,
                    "manifest-list": ml, "summary": {"operation": "overwrite"}}],
        current=1,
        log=[{"timestamp-ms": 1, "snapshot-id": 1}],
    )
    got = {(r.id, r.val) for r in read_iceberg(spark, t).collect()}
    # (2,"y") killed by eq1, (3,None) killed null-safely by eq2,
    # (1,"x") untouched, (2,"y2") survives (seq 3 > delete seq 2)
    assert got == {(1, "x"), (2, "y2")}


def test_iceberg_equality_deletes_compose_with_position_deletes(
    spark, tmp_path
):
    """Both delete flavors in one snapshot: the position delete kills by
    (file, row) and the equality delete by key — independent anti-joins
    whose composition must equal applying either first."""
    t = str(tmp_path / "ice_both")
    fa = _data_file(
        spark, t, "fa.parquet", [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    )
    # position delete: row 0 of fa  -> kills (1,"a")
    dd = spark.createDataFrame([(fa, 0)], "file_path string, pos long")
    tmp = os.path.join(t, "_tmpd")
    dd.coalesce(1).write.parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    fpos = os.path.join(t, "data", "pos1.parquet")
    os.replace(os.path.join(tmp, part), fpos)
    import shutil

    shutil.rmtree(tmp)
    # equality delete on id=3 at seq 2
    feq = _eq_delete_file(spark, t, "eq.parquet", [(3,)], "id long")
    m1 = _manifest(t, "m1.avro", [_entry(1, fa, seq=1)])
    md = _manifest(
        t,
        "md.avro",
        [
            _entry(1, fpos, content=1, seq=2),
            _entry(1, feq, content=2, seq=2, eq_ids=[1]),
        ],
    )
    ml = _manifest_list(
        t, "snap-1.avro", [m1, md], contents=[0, 1], seqs=[1, 2]
    )
    _metadata(
        t,
        snapshots=[{"snapshot-id": 1, "timestamp-ms": 1,
                    "manifest-list": ml, "summary": {"operation": "delete"}}],
        current=1,
        log=[{"timestamp-ms": 1, "snapshot-id": 1}],
    )
    got = {(r.id, r.val) for r in read_iceberg(spark, t).collect()}
    assert got == {(2, "b"), (4, "d")}


NESTED_ICE_SCHEMA = {
    "schema-id": 0,
    "type": "struct",
    "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 3, "name": "info", "required": False,
         "type": {"type": "struct", "fields": [
             {"id": 4, "name": "zip", "required": False, "type": "string"},
             {"id": 5, "name": "city", "required": False, "type": "string"},
         ]}},
        {"id": 6, "name": "tags", "required": False,
         "type": {"type": "list", "element-id": 7, "element": "string",
                  "element-required": False}},
    ],
}


def _mk_nested_eq_table(spark, root, eq_ids, del_rows, del_ddl):
    """Table over NESTED_ICE_SCHEMA: one seq-1 data file, one seq-2
    equality delete file with the given ids/rows/schema."""
    t = str(root)
    df = spark.createDataFrame(
        [(1, ("94107", "sf"), ["a"]),
         (2, ("10001", "ny"), []),
         (3, (None, "la"), [])],
        "id long, info struct<zip string, city string>, tags array<string>",
    )
    tmp = os.path.join(t, "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    fa = os.path.join(t, "data", "fa.parquet")
    os.makedirs(os.path.dirname(fa), exist_ok=True)
    os.replace(os.path.join(tmp, part), fa)
    import shutil

    shutil.rmtree(tmp)
    feq = _eq_delete_file(spark, t, "eq.parquet", del_rows, del_ddl)
    m1 = _manifest(t, "m1.avro", [_entry(1, fa, seq=1)])
    md = _manifest(
        t, "md.avro", [_entry(1, feq, content=2, seq=2, eq_ids=eq_ids)]
    )
    ml = _manifest_list(
        t, "snap-1.avro", [m1, md], contents=[0, 1], seqs=[1, 2]
    )
    _metadata(
        t,
        snapshots=[{"snapshot-id": 1, "timestamp-ms": 1,
                    "manifest-list": ml, "summary": {"operation": "delete"}}],
        current=1,
        log=[{"timestamp-ms": 1, "snapshot-id": 1}],
        schema=NESTED_ICE_SCHEMA,
    )
    return t


def test_iceberg_equality_delete_on_nested_struct_field(spark, tmp_path):
    """Equality ids may name fields NESTED inside structs (spec: any
    primitive not under a list/map): the id resolves to a dotted path,
    the delete file is read with the minimal nested schema, and
    matching is null-safe on the leaf."""
    t = _mk_nested_eq_table(
        spark, tmp_path / "ice_nested",
        eq_ids=[4],  # info.zip
        del_rows=[(("10001",),), ((None,),)],
        del_ddl="info struct<zip string>",
    )
    got = {(r.id, r.info.city) for r in read_iceberg(spark, t).collect()}
    # zip=10001 killed, zip NULL killed null-safely, sf row survives
    assert got == {(1, "sf")}


def test_iceberg_equality_delete_inside_list_refuses(spark, tmp_path):
    """An equality id under a list/map is not eligible per the spec —
    the reader must refuse loudly, never silently skip the delete."""
    t = _mk_nested_eq_table(
        spark, tmp_path / "ice_listref",
        eq_ids=[7],  # tags.element — ineligible
        del_rows=[("a",)],
        del_ddl="tag string",
    )
    with pytest.raises(IcebergUnsupportedError, match=r"\[7\]"):
        read_iceberg(spark, t).collect()


def test_iceberg_schema_conversion_complex_types():
    meta = {
        "format-version": 2,
        "schemas": [
            {
                "schema-id": 0,
                "type": "struct",
                "fields": [
                    {"id": 1, "name": "d", "required": True,
                     "type": "decimal(12, 2)"},
                    {"id": 2, "name": "tags", "required": False,
                     "type": {"type": "list", "element-id": 3,
                              "element": "string", "element-required": False}},
                    {"id": 4, "name": "kv", "required": False,
                     "type": {"type": "map", "key-id": 5, "key": "string",
                              "value-id": 6, "value": "long",
                              "value-required": False}},
                    {"id": 7, "name": "pos", "required": False,
                     "type": {"type": "struct", "fields": [
                         {"id": 8, "name": "x", "required": True,
                          "type": "double"}]}},
                ],
            }
        ],
        "current-schema-id": 0,
    }
    s = schema_to_spark(meta)
    assert s.simpleString() == (
        "struct<d:decimal(12,2),tags:array<string>,"
        "kv:map<string,bigint>,pos:struct<x:double>>"
    )
    assert not s["d"].nullable


def test_iceberg_view_step_function(spark, tmp_path):
    from easy_sql_spark.runtime.processor import SqlProcessor

    t = _mk_table(spark, tmp_path / "ice3")
    etl = f"""-- target=func.iceberg_view({t}, iv)
-- target=func.iceberg_view({t}, iv100, 100)

-- target=check.current_snapshot_rows
select (select count(*) from iv) as actual, 3 as expected
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert spark.table("iv100").count() == 3
    assert {r.id for r in spark.table("iv").collect()} == {1, 2, 9}


def test_export_snapshot_to_iceberg_roundtrip(spark, tmp_path):
    """Snapshot -> Iceberg v2 export: zero-copy metadata derivation with
    a name-mapping property (our parquet has no field IDs — the spec's
    migration mechanism), accurate per-file record counts, re-export as
    a new snapshot, and the exported table reading back identical
    through the iceberg replay path."""
    import pyarrow.parquet as pq

    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.iceberg_meta import (
        export_snapshot_to_iceberg,
        load_table_metadata,
    )

    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(
        spark.createDataFrame(
            [(1, "x", "a"), (2, "y", "b"), (3, "z", "a")],
            "id long, val string, p string",
        ),
        partition_by=["p"],
    )
    rep = export_snapshot_to_iceberg(t)
    assert rep["files"] >= 2

    got = {(r.id, r.val, r.p) for r in read_iceberg(spark, t.root).collect()}
    assert got == {(1, "x", "a"), (2, "y", "b"), (3, "z", "a")}

    meta = load_table_metadata(t.root)
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert [e["names"] for e in nm] == [["id"], ["val"], ["p"]]
    assert all(isinstance(e["field-id"], int) for e in nm)

    # record counts in the manifest match the actual footers
    from easy_sql_spark.sources.avro_lite import read_avro_file as _raf
    from easy_sql_spark.sources.iceberg_meta import _live_files, _pick_snapshot

    snap = _pick_snapshot(meta, None, None)
    with open(snap["manifest-list"], "rb") as f:
        _, mlist = _raf(f.read())
    with open(mlist[0]["manifest_path"], "rb") as f:
        _, entries = _raf(f.read())
    for e in entries:
        df = e["data_file"]
        assert df["record_count"] == pq.ParquetFile(df["file_path"]).metadata.num_rows

    # advance the snapshot, re-export: a NEW iceberg snapshot; time
    # travel reaches the first export
    first_snap_id = rep["snapshot_id"]
    t.append(spark.createDataFrame([(9, "w", "b")], "id long, val string, p string"))
    rep2 = export_snapshot_to_iceberg(t)
    assert rep2["snapshot_id"] != first_snap_id
    assert {
        r.id for r in read_iceberg(spark, t.root).collect()
    } == {1, 2, 3, 9}
    assert {
        r.id
        for r in read_iceberg(spark, t.root, snapshot_id=first_snap_id).collect()
    } == {1, 2, 3}


@pytest.mark.parametrize("pt_type", ["string", "int"])
def test_export_null_partition_is_null(spark, tmp_path, pt_type):
    """A NULL partition (dir ``pt=__HIVE_DEFAULT_PARTITION__``) exports
    as a null partition record: ``read_iceberg`` returns exactly the
    snapshot's rows, for a string and an int partition column alike,
    and ``partitions={"pt": [None]}`` selects it."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.iceberg_meta import export_snapshot_to_iceberg

    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(
        spark.createDataFrame(
            [(1, "1"), (2, "2"), (3, None), (4, None)], "id int, pt string"
        ).selectExpr("id", f"cast(pt as {pt_type}) pt"),
        partition_by=["pt"],
    )
    export_snapshot_to_iceberg(t)

    def rows(df):
        return sorted((r.id, r.pt) for r in df.collect())

    assert rows(read_iceberg(spark, t.root)) == rows(t.read())
    assert (3, None) in rows(t.read())
    got = rows(read_iceberg(spark, t.root, partitions={"pt": [None]}))
    assert got == [(3, None), (4, None)]


def test_export_iceberg_step_function(spark, tmp_path):
    from easy_sql_spark.runtime.processor import SqlProcessor

    root = str(tmp_path / "s")
    etl = f"""-- target=temp.seed
select 1 as id, 'a' as p union all select 2, 'b'

-- target=func.snapshot_commit({root}, seed, append, p)
-- target=func.snapshot_export_iceberg({root})
-- target=func.iceberg_view({root}, via_ice)

-- target=check.iceberg_sees_snapshot
select (select count(*) from via_ice) as actual, 2 as expected
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert {r.id for r in spark.table("via_ice").collect()} == {1, 2}


def test_iceberg_partition_pruning_driver_side(spark, tmp_path):
    """partitions= drops files by manifest identity-partition values
    before listing — proven by corrupting the skipped file."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.iceberg_meta import export_snapshot_to_iceberg

    t = SnapshotTable(spark, str(tmp_path / "snapp"))
    t.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "id long, p string"
        ),
        partition_by=["p"],
    )
    export_snapshot_to_iceberg(t)
    # corrupt every p=b data file; the pruned read must never touch them
    for cur, _dirs, files in os.walk(t.root + "/data"):
        if "p=b" in cur:
            for n in files:
                if n.endswith(".parquet"):
                    with open(os.path.join(cur, n), "wb") as f:
                        f.write(b"broken")
    got = {
        (r.id, r.p)
        for r in read_iceberg(
            spark, t.root, partitions={"p": ["a"]}
        ).collect()
    }
    assert got == {(1, "a"), (3, "a")}
    with pytest.raises(ValueError, match="not identity partition"):
        read_iceberg(spark, t.root, partitions={"id": [1]})


def test_iceberg_snapshots_step_function(spark, tmp_path):
    from easy_sql_spark.runtime.processor import SqlProcessor

    t = _mk_table(spark, tmp_path / "iceh")
    etl = f"""-- target=func.iceberg_snapshots_view({t}, isv)

-- target=check.two_snapshots
select (select count(*) from isv) as actual, 2 as expected
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert [r.operation for r in spark.table("isv").collect()] == [
        "overwrite", "append",
    ]


def test_iceberg_bounds_file_skipping(spark, tmp_path):
    """where= prunes files via exported lower/upper bounds (Iceberg
    single-value serialization), proven by corrupting the file the
    predicate should never touch."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.iceberg_meta import export_snapshot_to_iceberg

    t = SnapshotTable(spark, str(tmp_path / "snapb"))
    t.create(
        spark.range(0, 100).selectExpr("id", "cast(id as double) * 1.5 as x"),
        stats_cols=["id", "x"],
    )
    t.append(spark.range(1000, 1100).selectExpr("id", "cast(id as double) * 1.5 as x"))
    export_snapshot_to_iceberg(t)

    # corrupt the high-range commit's files; a low-range predicate must
    # never open them
    import os as _os

    m = t.manifest(t.latest_version())
    high_dir = m["added"][0]
    for n in _os.listdir(f"{t.data_dir}/{high_dir}"):
        if n.endswith(".parquet"):
            with open(f"{t.data_dir}/{high_dir}/{n}", "wb") as f:
                f.write(b"broken")

    got = {
        r.id
        for r in read_iceberg(
            spark, t.root, where=[("id", "<=", 50)]
        ).collect()
    }
    assert got == set(range(100)), "bounds should keep the low file whole"
    # double-typed bound works too
    got2 = {
        r.id
        for r in read_iceberg(spark, t.root, where=[("x", "<", 200.0)]).collect()
    }
    assert got2 == set(range(100))


def test_iceberg_distributed_manifest_parsing(spark, tmp_path):
    """Above DIST_MANIFEST_THRESHOLD manifests, the per-manifest Avro
    decode runs as an executor job; result must be IDENTICAL to the
    driver loop (order included), and unsupported entries must still
    raise driver-side with the same message."""
    from easy_sql_spark.sources import iceberg_meta as im

    t = str(tmp_path / "ice_many")
    # 2 real data files, referenced round-robin by 80 manifests (the
    # point is manifest COUNT, not data volume)
    f1 = _data_file(spark, t, "f1.parquet", [(1, "a")])
    f2 = _data_file(spark, t, "f2.parquet", [(2, "b")])
    mpaths = [
        _manifest(t, f"m{i:03d}.avro", [_entry(1, f1 if i % 2 else f2)])
        for i in range(80)
    ]
    ml = _manifest_list(t, "ml.avro", mpaths)
    _metadata(
        t,
        [{"snapshot-id": 1, "timestamp-ms": 1000, "manifest-list": ml,
          "summary": {"operation": "append"}}],
        1,
        [{"timestamp-ms": 1000, "snapshot-id": 1}],
    )

    meta = im.load_table_metadata(t)
    snap = im._pick_snapshot(meta, None, None)
    assert len(mpaths) > im.DIST_MANIFEST_THRESHOLD
    dist_files, dist_dels, dist_eq, dist_dv = im._live_files(
        t, snap, 2, spark=spark
    )
    drv_files, drv_dels, drv_eq, drv_dv = im._live_files(t, snap, 2, spark=None)
    assert dist_files == drv_files  # order-identical, slim tuples equal
    assert dist_dels == drv_dels
    assert dist_eq == drv_eq
    assert dist_dv == drv_dv == []
    assert len(dist_files) == 80

    # whole-table read agrees (80 duplicate-entry scans of 2 files)
    out = im.read_iceberg(spark, t)
    assert out.count() == 80

    # error entries raise driver-side from the executor path too
    bad = _manifest(t, "bad.avro", [_entry(1, f1, fmt="ORC")])
    ml2 = _manifest_list(t, "ml2.avro", mpaths + [bad])
    _metadata(
        t,
        [{"snapshot-id": 2, "timestamp-ms": 2000, "manifest-list": ml2,
          "summary": {"operation": "append"}}],
        2,
        [{"timestamp-ms": 2000, "snapshot-id": 2}],
    )
    meta2 = im.load_table_metadata(t)
    snap2 = im._pick_snapshot(meta2, None, None)
    with pytest.raises(IcebergUnsupportedError, match="ORC"):
        im._live_files(t, snap2, 2, spark=spark)


def test_export_snapshot_to_iceberg_with_deletion_vectors(spark, tmp_path):
    """Snapshot DV deletes on an UNPARTITIONED table export zero-copy as
    Iceberg v2 position-delete files (the DV parquets ARE the spec's
    (file_path, pos) delete schema); the independent replay must see
    exactly the snapshot's visible rows.  Partitioned tables with live
    DVs refuse with guidance."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.iceberg_meta import export_snapshot_to_iceberg

    root = str(tmp_path / "sidv")
    t = SnapshotTable(spark, root)
    t.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 7)], "id int, v string"
        )
    )
    t.delete_where_dv([("id", "=", 3)])
    rep = export_snapshot_to_iceberg(t)
    assert rep["dv_files"] >= 1
    got = {(r.id, r.v) for r in read_iceberg(spark, root).collect()}
    assert got == {(i, f"v{i}") for i in (1, 2, 4, 5, 6)}
    assert got == {(r.id, r.v) for r in t.read().collect()}

    # growing the DV and re-exporting appends a snapshot that still agrees
    t.delete_where_dv([("id", "=", 6)])
    rep2 = export_snapshot_to_iceberg(t)
    got2 = {(r.id, r.v) for r in read_iceberg(spark, root).collect()}
    assert got2 == {(i, f"v{i}") for i in (1, 2, 4, 5)}
    # snapshot-id time travel back to the first export
    assert {
        (r.id, r.v)
        for r in read_iceberg(
            spark, root, snapshot_id=rep["snapshot_id"]
        ).collect()
    } == got


def test_export_partitioned_snapshot_with_dvs_rewrites_per_partition(
    spark, tmp_path
):
    """Partitioned table + live DVs: the export re-buckets the DV rows
    into one position-delete file per partition (the spec binds each
    delete file to one partition tuple), every delete entry's partition
    record matches the partitions of the rows inside its file, and the
    independent replay sees exactly the snapshot's visible rows."""
    import pyarrow.parquet as pq

    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.avro_lite import read_avro_file
    from easy_sql_spark.sources.iceberg_meta import export_snapshot_to_iceberg

    root = str(tmp_path / "sidv_p")
    t = SnapshotTable(spark, root)
    t.create(
        spark.createDataFrame(
            [(i, f"v{i}", f"p{i % 3}") for i in range(1, 10)],
            "id int, v string, pt string",
        ),
        partition_by=["pt"],
    )
    # DV rows across two partitions (ids 1,4 -> p1; 2 -> p2)
    t.delete_where_dv([("id", "<=", 2)])
    t.delete_where_dv([("id", "=", 4)])
    rep = export_snapshot_to_iceberg(t)
    assert rep["dv_files"] >= 2  # at least one delete file per partition

    got = {(r.id, r.v, r.pt) for r in read_iceberg(spark, root).collect()}
    assert got == {(i, f"v{i}", f"p{i % 3}") for i in (3, 5, 6, 7, 8, 9)}
    assert got == {(r.id, r.v, r.pt) for r in t.read().collect()}

    # delete manifest entries: partition record == partitions of the
    # rows inside each file, rows sorted by (file_path, pos)
    import glob as _glob

    del_manifest = _glob.glob(
        os.path.join(root, "metadata", "manifest-del-*.avro")
    )
    assert del_manifest
    _meta, entries = read_avro_file(open(sorted(del_manifest)[-1], "rb").read())
    assert entries
    seen_parts = set()
    for e in entries:
        df = e["data_file"]
        assert df["content"] == 1
        pt = df["partition"]["pt"]
        seen_parts.add(pt)
        tbl = pq.read_table(df["file_path"])
        rows = list(
            zip(
                tbl.column("file_path").to_pylist(),
                tbl.column("pos").to_pylist(),
            )
        )
        assert rows == sorted(rows)
        assert int(df["record_count"]) == len(rows)
        for fp, _pos in rows:
            assert f"/pt={pt}/" in fp
    assert seen_parts == {"p1", "p2"}


def test_export_dvs_as_puffin_v3(spark, tmp_path):
    """dv_format='puffin': the export writes ONE merged
    deletion-vector-v1 blob per referenced data file into a single
    puffin file, tracked by content=1 PUFFIN entries carrying the
    referenced file's partition record, metadata stamped
    format-version 3 (sticky across later exports) — and the
    independent replay sees exactly the snapshot's visible rows, on
    unpartitioned AND partitioned tables."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.avro_lite import read_avro_file
    from easy_sql_spark.sources.iceberg_meta import (
        export_snapshot_to_iceberg,
        load_table_metadata,
    )
    from easy_sql_spark.sources.puffin import read_puffin_footer

    import glob as _glob

    root = str(tmp_path / "puf_u")
    t = SnapshotTable(spark, root)
    t.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 7)], "id int, v string"
        )
    )
    t.delete_where_dv([("id", "<=", 2)])
    rep = export_snapshot_to_iceberg(t, dv_format="puffin")
    assert rep["dv_files"] >= 1
    got = {(r.id, r.v) for r in read_iceberg(spark, root).collect()}
    assert got == {(i, f"v{i}") for i in (3, 4, 5, 6)}
    meta = load_table_metadata(root)
    assert meta["format-version"] == 3
    pufs = _glob.glob(os.path.join(root, "deletes", "*.puffin"))
    assert pufs
    footer = read_puffin_footer(open(pufs[0], "rb").read())
    assert all(
        b["type"] == "deletion-vector-v1" for b in footer["blobs"]
    )
    # a later parquet-DV export must NOT downgrade the format version
    t.append(spark.createDataFrame([(9, "v9")], "id int, v string"))
    export_snapshot_to_iceberg(t)
    assert load_table_metadata(root)["format-version"] == 3
    got2 = {(r.id, r.v) for r in read_iceberg(spark, root).collect()}
    assert got2 == got | {(9, "v9")}

    root2 = str(tmp_path / "puf_p")
    t2 = SnapshotTable(spark, root2)
    t2.create(
        spark.createDataFrame(
            [(i, f"v{i}", f"p{i % 2}") for i in range(1, 9)],
            "id int, v string, pt string",
        ),
        partition_by=["pt"],
    )
    t2.delete_where_dv([("id", "<=", 3)])  # spans both partitions
    export_snapshot_to_iceberg(t2, dv_format="puffin")
    got3 = {(r.id, r.v, r.pt) for r in read_iceberg(spark, root2).collect()}
    assert got3 == {(i, f"v{i}", f"p{i % 2}") for i in (4, 5, 6, 7, 8)}
    assert got3 == {(r.id, r.v, r.pt) for r in t2.read().collect()}
    # each DV entry's partition record matches its referenced file's
    del_manifest = sorted(
        _glob.glob(os.path.join(root2, "metadata", "manifest-del-*.avro"))
    )[-1]
    _m, entries = read_avro_file(open(del_manifest, "rb").read())
    assert entries
    for e in entries:
        df = e["data_file"]
        assert df["file_format"] == "PUFFIN"
        assert f"/pt={df['partition']['pt']}/" in df["referenced_data_file"]


#: lifecycle count is env-scalable: the suite default keeps pytest
#: affordable; the r11 campaign ran EASY_SQL_DV_FUZZ_SEEDS=200 (one
#: lifecycle per seed, results recorded in COVERAGE.md)
_DV_FUZZ_SEEDS = int(os.environ.get("EASY_SQL_DV_FUZZ_SEEDS", "4"))


@pytest.mark.parametrize("seed", range(_DV_FUZZ_SEEDS))
def test_export_dv_lifecycle_fuzz(spark, tmp_path, seed):
    """Randomized snapshot lifecycle (appends, DV deletes, COW deletes,
    keyed merges, compaction; partitioned AND unpartitioned shapes)
    with an Iceberg export after every few ops under ALTERNATING
    dv_format (v2 parquet position deletes / v3 puffin deletion
    vectors): the independent manifest replay must equal the snapshot
    read at EVERY exported state, including re-exports (snapshot
    carry-forward), exports whose DVs span several partitions, and the
    r10 sticky-format-version rule — once any export stamped v3 the
    metadata must NEVER regress to v2 (iceberg_meta.py:1268-1286)."""
    import random as _random

    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.iceberg_meta import (
        export_snapshot_to_iceberg,
        load_table_metadata,
        read_iceberg,
    )

    rng = _random.Random(424_200 + seed)
    root = str(tmp_path / "fuzz")
    t = SnapshotTable(spark, root)
    partitioned = rng.random() < 0.6
    next_id = [0]

    def batch(n):
        rows = [
            (next_id[0] + i, rng.randint(0, 99), f"p{rng.randint(0, 2)}")
            for i in range(n)
        ]
        next_id[0] += n
        return spark.createDataFrame(rows, "id int, val int, pt string")

    t.create(
        batch(rng.randint(6, 12)),
        partition_by=["pt"] if partitioned else [],
    )
    exports = 0
    used_puffin = False

    def check_export():
        nonlocal exports, used_puffin
        fmt = rng.choice(["parquet", "puffin"])
        export_snapshot_to_iceberg(t, dv_format=fmt)
        exports += 1
        want = sorted((r.id, r.val, r.pt) for r in t.read().collect())
        got = sorted(
            (r.id, r.val, r.pt) for r in read_iceberg(spark, root).collect()
        )
        assert got == want, f"export {exports} diverged (seed={seed})"
        meta = load_table_metadata(root)
        fv = int(meta.get("format-version", 2))
        # v3 stamps only when live DVs actually shipped as puffin
        if fv >= 3:
            used_puffin = True
        if used_puffin:
            assert fv >= 3, (
                f"seed={seed}: format-version regressed to {fv} after a "
                "v3 export (stickiness violated)"
            )

    for _op in range(rng.randint(6, 9)):
        r = rng.random()
        if r < 0.35:
            t.append(batch(rng.randint(2, 6)))
        elif r < 0.65:
            col, op = rng.choice(
                [("id", "<="), ("id", "="), ("val", ">"), ("val", "<")]
            )
            val = (
                rng.randint(0, next_id[0])
                if col == "id"
                else rng.randint(10, 90)
            )
            t.delete_where_dv([(col, op, val)])
        elif r < 0.8:
            t.delete_where([("val", ">=", rng.randint(50, 99))])
        elif r < 0.9:
            # keyed merge: update half the live keys, insert two new
            live = [r.id for r in t.read().select("id").collect()]
            ups = rng.sample(live, min(3, len(live)))
            rows = [
                (i, rng.randint(100, 199), f"p{rng.randint(0, 2)}")
                for i in ups
            ] + [
                (next_id[0], rng.randint(100, 199), f"p{rng.randint(0, 2)}"),
                (next_id[0] + 1, rng.randint(100, 199),
                 f"p{rng.randint(0, 2)}"),
            ]
            next_id[0] += 2
            t.merge(
                spark.createDataFrame(rows, "id int, val int, pt string"),
                keys=["id"],
            )
        else:
            t.compact()
        if rng.random() < 0.5:
            check_export()
    if not exports:
        check_export()


def test_iceberg_incremental_append_scan(spark, tmp_path):
    """Incremental read over (from, to]: append snapshots contribute
    ONLY the entries their own manifests added (EXISTING entries never
    re-emitted), replace snapshots are skipped, an overwrite in range
    refuses, and the step-function view works."""
    from easy_sql_spark.sources.iceberg_meta import read_iceberg_incremental

    t = str(tmp_path / "ice_inc")
    fa = _data_file(spark, t, "fa.parquet", [(1, "x")])
    fb = _data_file(spark, t, "fb.parquet", [(2, "y")])
    fc = _data_file(spark, t, "fc.parquet", [(2, "y9")])  # compaction rewrite
    fd = _data_file(spark, t, "fd.parquet", [(3, "z")])
    # s1: append fa; s2: append fb (manifest carries fa as EXISTING);
    # s3: replace fb -> fc; s4: append fd
    m1 = _manifest(t, "m1.avro", [_entry(1, fa)])
    ml1 = _manifest_list(t, "sl1.avro", [m1], added_snaps=[1])
    m2 = _manifest(t, "m2.avro", [_entry(0, fa), _entry(1, fb)])
    ml2 = _manifest_list(t, "sl2.avro", [m2], added_snaps=[2])
    m3 = _manifest(t, "m3.avro", [_entry(0, fa), _entry(2, fb), _entry(1, fc)])
    ml3 = _manifest_list(t, "sl3.avro", [m3], added_snaps=[3])
    m4 = _manifest(t, "m4.avro", [_entry(1, fd)])
    ml4 = _manifest_list(t, "sl4.avro", [m3, m4], added_snaps=[3, 4])
    _metadata(
        t,
        snapshots=[
            {"snapshot-id": 1, "timestamp-ms": 1000, "manifest-list": ml1,
             "summary": {"operation": "append"}},
            {"snapshot-id": 2, "timestamp-ms": 2000, "manifest-list": ml2,
             "summary": {"operation": "append"}},
            {"snapshot-id": 3, "timestamp-ms": 3000, "manifest-list": ml3,
             "summary": {"operation": "replace"}},
            {"snapshot-id": 4, "timestamp-ms": 4000, "manifest-list": ml4,
             "summary": {"operation": "append"}},
        ],
        current=4,
        log=[{"timestamp-ms": i * 1000, "snapshot-id": i} for i in (1, 2, 3, 4)],
    )
    # (1, current]: fb (added by s2) + fd (added by s4); the replace's
    # fc never appears, fa (EXISTING in later manifests) never re-emits
    got = {
        (r.id, r.val)
        for r in read_iceberg_incremental(spark, t, 1).collect()
    }
    assert got == {(2, "y"), (3, "z")}
    # (2, 4]: only fd
    got2 = {
        (r.id, r.val)
        for r in read_iceberg_incremental(spark, t, 2, 4).collect()
    }
    assert got2 == {(3, "z")}
    # empty range
    assert read_iceberg_incremental(spark, t, 4).count() == 0

    # an overwrite snapshot in range refuses
    t2 = _mk_table(spark, tmp_path / "ice_inc2")  # 100 append, 200 overwrite
    with pytest.raises(IcebergUnsupportedError, match="overwrite"):
        read_iceberg_incremental(spark, t2, 100)

    # step-function surface
    from easy_sql_spark.runtime.processor import SqlProcessor

    etl = f"""-- target=func.iceberg_incremental_view({t}, ice_inc_v, 1)

-- target=check.incremental_rows
select (select count(*) from ice_inc_v) as actual, 2 as expected
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()


# ------------------------------------------------------ partition evolution


def _pe_entry_schema(with_partition: bool):
    fields = [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
    ]
    if with_partition:
        fields.append(
            {
                "name": "partition",
                "type": {
                    "type": "record",
                    "name": "r102",
                    "fields": [{"name": "pt", "type": ["null", "string"]}],
                },
            }
        )
    fields += [
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
    ]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "sequence_number", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file_r",
                    "fields": fields,
                },
            },
        ],
    }


def test_partition_evolution_read(spark, tmp_path):
    """A table that evolved unpartitioned -> identity(pt): the OLD
    manifest's partition records lack the pt field entirely (written
    under spec 0), so pt must be read from the old data files; the NEW
    manifest (spec 1, hive-layout files without the column) supplies pt
    as a manifest constant.  Iceberg spec: each manifest follows the
    spec it was written under; readers resolve per manifest."""
    t = str(tmp_path / "pe")
    # old files: pt physically present in the data
    dfa = spark.createDataFrame(
        [(1, "x", "p0"), (2, "y", "p1"), (4, "w", None)],
        "id long, val string, pt string",
    )
    tmp = os.path.join(t, "_tmp")
    dfa.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    os.makedirs(os.path.join(t, "data"), exist_ok=True)
    old_path = os.path.join(t, "data", "old.parquet")
    os.replace(os.path.join(tmp, part), old_path)
    # new files: hive layout, column NOT in the file
    dfb = spark.createDataFrame([(3, "z")], "id long, val string")
    dfb.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    os.makedirs(os.path.join(t, "data", "pt=p1"), exist_ok=True)
    new_path = os.path.join(t, "data", "pt=p1", "new.parquet")
    os.replace(os.path.join(tmp, part), new_path)
    import shutil

    shutil.rmtree(tmp)

    def entry(path, pv=None, with_partition=False):
        df = {
            "content": 0,
            "file_path": path,
            "file_format": "PARQUET",
            "record_count": 1,
            "file_size_in_bytes": 1,
        }
        if with_partition:
            df["partition"] = pv
        return {
            "status": 1,
            "snapshot_id": 1,
            "sequence_number": 1,
            "data_file": df,
        }

    os.makedirs(os.path.join(t, "metadata"), exist_ok=True)
    m_old = os.path.join(t, "metadata", "m-old.avro")
    with open(m_old, "wb") as f:
        f.write(
            write_avro_file(
                _pe_entry_schema(False), [entry(old_path)]
            )
        )
    m_new = os.path.join(t, "metadata", "m-new.avro")
    with open(m_new, "wb") as f:
        f.write(
            write_avro_file(
                _pe_entry_schema(True),
                [entry(new_path, {"pt": "p1"}, with_partition=True)],
            )
        )
    ml = os.path.join(t, "metadata", "snap-1.avro")
    rows = [
        {
            "manifest_path": mp,
            "manifest_length": os.path.getsize(mp),
            "partition_spec_id": sid,
            "content": 0,
            "sequence_number": 1,
            "added_snapshot_id": 1,
        }
        for mp, sid in ((m_old, 0), (m_new, 1))
    ]
    with open(ml, "wb") as f:
        f.write(write_avro_file(MANIFEST_FILE_SCHEMA, rows))

    schema = {
        "schema-id": 0,
        "type": "struct",
        "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "val", "required": False, "type": "string"},
            {"id": 3, "name": "pt", "required": False, "type": "string"},
        ],
    }
    meta = {
        "format-version": 2,
        "table-uuid": "0000",
        "location": t,
        "schemas": [schema],
        "current-schema-id": 0,
        "partition-specs": [
            {"spec-id": 0, "fields": []},
            {
                "spec-id": 1,
                "fields": [
                    {
                        "name": "pt",
                        "transform": "identity",
                        "source-id": 3,
                        "field-id": 1000,
                    }
                ],
            },
        ],
        "default-spec-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 1,
                "manifest-list": ml,
                "summary": {"operation": "append"},
            }
        ],
        "current-snapshot-id": 1,
        "snapshot-log": [{"timestamp-ms": 1, "snapshot-id": 1}],
    }
    with open(os.path.join(t, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(meta, f)

    got = {(r.id, r.val, r.pt) for r in read_iceberg(spark, t).collect()}
    assert got == {
        (1, "x", "p0"), (2, "y", "p1"), (3, "z", "p1"), (4, "w", None)
    }

    # partition pruning stays EXACT: old-spec files cannot be pruned by
    # manifest constants, so rows are re-filtered
    got_p1 = {
        (r.id, r.pt)
        for r in read_iceberg(spark, t, partitions={"pt": ["p1"]}).collect()
    }
    assert got_p1 == {(2, "p1"), (3, "p1")}
    got_p0 = {
        (r.id, r.pt)
        for r in read_iceberg(spark, t, partitions={"pt": ["p0"]}).collect()
    }
    assert got_p0 == {(1, "p0")}

    # None in the filter list means "null partition value": the
    # row-level re-filter over old-spec files must match it (isin alone
    # never matches NULL), consistent with manifest pruning
    got_null = {
        (r.id, r.pt)
        for r in read_iceberg(
            spark, t, partitions={"pt": ["p1", None]}
        ).collect()
    }
    assert got_null == {(2, "p1"), (3, "p1"), (4, None)}


def test_read_iceberg_named_refs(spark, tmp_path):
    """Branch/tag refs (spec §Snapshot references): ``ref=`` resolves
    the metadata refs map — a tag pinned at snapshot 100, a branch at
    200, the implicit "main" alias — and unknown names raise with the
    known set."""
    t = _mk_table(spark, tmp_path / "refs")
    meta_path = os.path.join(t, "metadata", "v3.metadata.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["refs"] = {
        "audit-tag": {"snapshot-id": 100, "type": "tag"},
        "dev": {"snapshot-id": 200, "type": "branch"},
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    tag = {(r.id, r.val) for r in read_iceberg(spark, t, ref="audit-tag").collect()}
    assert tag == {(1, "x"), (2, "y"), (3, "z")}
    dev = {(r.id, r.val) for r in read_iceberg(spark, t, ref="dev").collect()}
    assert dev == {(1, "x"), (2, "y"), (9, "w")}
    main = {(r.id, r.val) for r in read_iceberg(spark, t, ref="main").collect()}
    assert main == dev
    with pytest.raises(ValueError, match="unknown iceberg ref"):
        read_iceberg(spark, t, ref="nope")


def test_ref_exclusive_with_time_travel(spark, tmp_path):
    """ref + snapshot_id/as_of_ms must raise: per-ref lineage is not
    tracked, so resolving time travel against main while the caller
    pinned a branch would silently return the wrong snapshot."""
    t = _mk_table(spark, tmp_path / "refx")
    with pytest.raises(ValueError, match="ref cannot be combined"):
        read_iceberg(spark, t, ref="main", snapshot_id=100)
    with pytest.raises(ValueError, match="ref cannot be combined"):
        read_iceberg(spark, t, ref="main", as_of_ms=1500)
