"""Delta-log interop reader (sources/delta_log.py): read Delta tables
without delta-spark jars by replaying the open commit-log protocol.

The tables here are constructed byte-by-byte to the protocol spec
(JSON action lines, classic parquet checkpoint, hive-free file layout
with partition values only in the log) — exactly what an external Delta
writer produces."""

import json
import os

import pytest

from easy_sql_spark.sources.delta_log import (
    DeltaProtocolError,
    delta_history,
    delta_latest_version,
    read_delta,
)

SCHEMA_STR = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "val", "type": "string", "nullable": True, "metadata": {}},
            {"name": "p", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _write_data(spark, table, rel, rows):
    df = spark.createDataFrame(rows, "id long, val string")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(table, "_tmp"))
    part = next(
        n
        for n in os.listdir(os.path.join(table, "_tmp"))
        if n.endswith(".parquet")
    )
    os.makedirs(os.path.dirname(os.path.join(table, rel)) or table, exist_ok=True)
    os.replace(os.path.join(table, "_tmp", part), os.path.join(table, rel))
    import shutil

    shutil.rmtree(os.path.join(table, "_tmp"))


def _commit(table, version, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _meta_action():
    return {
        "metaData": {
            "id": "tbl-1",
            "schemaString": SCHEMA_STR,
            "partitionColumns": ["p"],
            "format": {"provider": "parquet"},
        }
    }


def _mk_table(spark, root):
    """v0: two files (p=a, p=b); v1: replace the p=a file; v2: add p=c.
    File names deliberately NOT hive-layout — partition values live only
    in the log, as the protocol allows."""
    t = str(root)
    _write_data(spark, t, "f-a1.parquet", [(1, "x"), (2, "y")])
    _write_data(spark, t, "f-b1.parquet", [(3, "z")])
    _write_data(spark, t, "f-a2.parquet", [(1, "x2"), (2, "y2"), (9, "w")])
    _write_data(spark, t, "f-c1.parquet", [(7, "c")])
    _commit(
        t,
        0,
        [
            {"commitInfo": {"operation": "WRITE", "timestamp": 1000}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta_action(),
            {"add": {"path": "f-a1.parquet", "partitionValues": {"p": "a"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "f-b1.parquet", "partitionValues": {"p": "b"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    _commit(
        t,
        1,
        [
            {"commitInfo": {"operation": "MERGE", "timestamp": 2000}},
            {"remove": {"path": "f-a1.parquet", "dataChange": True}},
            {"add": {"path": "f-a2.parquet", "partitionValues": {"p": "a"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    _commit(
        t,
        2,
        [
            {"commitInfo": {"operation": "WRITE", "timestamp": 3000}},
            {"add": {"path": "f-c1.parquet", "partitionValues": {"p": "c"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    return t


def test_read_delta_versions_and_history(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "dt")
    assert delta_latest_version(t) == 2

    latest = {(r.id, r.val, r.p) for r in read_delta(spark, t).collect()}
    assert latest == {
        (1, "x2", "a"), (2, "y2", "a"), (9, "w", "a"),
        (3, "z", "b"), (7, "c", "c"),
    }
    v0 = {(r.id, r.val, r.p) for r in read_delta(spark, t, version=0).collect()}
    assert v0 == {(1, "x", "a"), (2, "y", "a"), (3, "z", "b")}

    # timestamp travel uses commitInfo timestamps
    at = {(r.id, r.p) for r in read_delta(spark, t, timestamp_ms=2500).collect()}
    assert at == {(1, "a"), (2, "a"), (9, "a"), (3, "b")}
    with pytest.raises(ValueError, match="no delta version"):
        read_delta(spark, t, timestamp_ms=10)

    hist = delta_history(t)
    assert [(h["version"], h["operation"]) for h in hist] == [
        (2, "WRITE"), (1, "MERGE"), (0, "WRITE"),
    ]


def test_read_delta_from_checkpoint_after_log_cleanup(spark, tmp_path):
    """State must reconstruct from checkpoint + later commits alone —
    the regime after Delta's log cleanup deletes old JSON commits."""
    t = _mk_table(spark, tmp_path / "dt")
    # classic checkpoint at version 1: full state as action structs
    cp_rows = [
        {"metaData": json.loads(json.dumps(_meta_action()["metaData"])),
         "protocol": None, "add": None, "remove": None},
        {"metaData": None, "protocol": {"minReaderVersion": 1},
         "add": None, "remove": None},
        {"metaData": None, "protocol": None, "remove": None,
         "add": {"path": "f-a2.parquet", "partitionValues": {"p": "a"}}},
        {"metaData": None, "protocol": None, "remove": None,
         "add": {"path": "f-b1.parquet", "partitionValues": {"p": "b"}}},
    ]
    cp_schema = (
        "metaData struct<id string, schemaString string, "
        "partitionColumns array<string>>, "
        "protocol struct<minReaderVersion int>, "
        "add struct<path string, partitionValues map<string,string>>, "
        "remove struct<path string>"
    )
    cp_df = spark.createDataFrame(
        [
            (
                r["metaData"] and (
                    r["metaData"]["id"],
                    r["metaData"]["schemaString"],
                    r["metaData"]["partitionColumns"],
                ),
                r["protocol"] and (r["protocol"]["minReaderVersion"],),
                r["add"] and (r["add"]["path"], r["add"]["partitionValues"]),
                r["remove"] and (r["remove"]["path"],),
            )
            for r in cp_rows
        ],
        cp_schema,
    )
    log = os.path.join(t, "_delta_log")
    cp_tmp = os.path.join(t, "_cptmp")
    cp_df.coalesce(1).write.parquet(cp_tmp)
    part = next(n for n in os.listdir(cp_tmp) if n.endswith(".parquet"))
    os.replace(
        os.path.join(cp_tmp, part),
        os.path.join(log, f"{1:020d}.checkpoint.parquet"),
    )
    import shutil

    shutil.rmtree(cp_tmp)
    # log cleanup: versions 0 and 1 JSONs are gone
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    latest = {(r.id, r.val, r.p) for r in read_delta(spark, t).collect()}
    assert latest == {
        (1, "x2", "a"), (2, "y2", "a"), (9, "w", "a"),
        (3, "z", "b"), (7, "c", "c"),
    }
    # ...but a version BELOW the checkpoint is honestly unreadable now
    with pytest.raises(ValueError, match="missing commit"):
        read_delta(spark, t, version=0)


def test_protocol_gate_refuses_unsupported_features(spark, tmp_path):
    t = str(tmp_path / "dt2")
    _write_data(spark, t, "f1.parquet", [(1, "x")])
    _commit(
        t,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["typeWidening"]}},
            _meta_action(),
            {"add": {"path": "f1.parquet", "partitionValues": {"p": "a"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    with pytest.raises(DeltaProtocolError, match="typeWidening"):
        read_delta(spark, t)


def _cm_schema_str():
    """Logical schema (id, val, s struct<x>, p) with column-mapping
    physical names, as a Delta writer records them."""

    def f(name, typ, phys, cid):
        return {
            "name": name, "type": typ, "nullable": True,
            "metadata": {
                "delta.columnMapping.id": cid,
                "delta.columnMapping.physicalName": phys,
            },
        }

    return json.dumps({
        "type": "struct",
        "fields": [
            f("id", "long", "col-aaa", 1),
            f("val", "string", "col-bbb", 2),
            f("s", {
                "type": "struct",
                "fields": [f("x", "long", "col-eee", 4)],
            }, "col-ddd", 3),
            f("p", "string", "col-ccc", 5),
        ],
    })


def _write_cm_data(spark, table, rel, rows):
    """Rows of (id, val, x) written under PHYSICAL column names,
    including the nested struct field."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    phys = StructType([
        StructField("col-aaa", LongType()),
        StructField("col-bbb", StringType()),
        StructField("col-ddd", StructType([StructField("col-eee", LongType())])),
    ])
    df = spark.createDataFrame(
        [(i, v, (x,)) for i, v, x in rows], phys
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(table, "_tmp"))
    part = next(
        n
        for n in os.listdir(os.path.join(table, "_tmp"))
        if n.endswith(".parquet")
    )
    os.makedirs(os.path.dirname(os.path.join(table, rel)) or table, exist_ok=True)
    os.replace(os.path.join(table, "_tmp", part), os.path.join(table, rel))
    import shutil

    shutil.rmtree(os.path.join(table, "_tmp"))


def test_read_delta_column_mapping(spark, tmp_path):
    """Column-mapped table (mode=name, minReaderVersion 2): parquet
    columns stored under physicalName (nested struct field renamed
    too), partitionValues and stats keyed by physical names in the
    log.  The read must surface LOGICAL names with partition pruning
    and stats file-skipping working through the name map."""
    t = str(tmp_path / "dtcm")
    _write_cm_data(spark, t, "f-a.parquet", [(1, "x", 10), (2, "y", 20)])
    _write_cm_data(spark, t, "f-b.parquet", [(3, "z", 30)])
    meta = {
        "metaData": {
            "id": "tbl-cm",
            "schemaString": _cm_schema_str(),
            "partitionColumns": ["p"],
            "format": {"provider": "parquet"},
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "5"},
        }
    }
    _commit(
        t,
        0,
        [
            {"commitInfo": {"operation": "WRITE", "timestamp": 1000}},
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            meta,
            {"add": {"path": "f-a.parquet",
                     "partitionValues": {"col-ccc": "a"},
                     "stats": json.dumps({
                         "numRecords": 2,
                         "minValues": {"col-aaa": 1},
                         "maxValues": {"col-aaa": 2}}),
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "f-b.parquet",
                     "partitionValues": {"col-ccc": "b"},
                     "stats": json.dumps({
                         "numRecords": 1,
                         "minValues": {"col-aaa": 3},
                         "maxValues": {"col-aaa": 3}}),
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    out = read_delta(spark, t)
    assert [f.name for f in out.schema.fields] == ["id", "val", "s", "p"]
    got = {(r.id, r.val, r.s.x, r.p) for r in out.collect()}
    assert got == {(1, "x", 10, "a"), (2, "y", 20, "a"), (3, "z", 30, "b")}

    # partition pruning through the physical-name map
    got_a = {r.id for r in read_delta(spark, t, partitions={"p": ["a"]}).collect()}
    assert got_a == {1, 2}

    # stats skipping: f-a's (min=1, max=2) provably excludes id >= 3,
    # so only f-b survives the file list
    df_w = read_delta(spark, t, where=[("id", ">=", 3)])
    assert {r.id for r in df_w.collect()} == {3}
    assert all("f-b" in f for f in df_w.inputFiles())

    # the columnMapping READER FEATURE form (mrv 3) reads identically
    t2 = str(tmp_path / "dtcm2")
    _write_cm_data(spark, t2, "f-a.parquet", [(1, "x", 10)])
    _commit(
        t2,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"]}},
            meta,
            {"add": {"path": "f-a.parquet",
                     "partitionValues": {"col-ccc": "a"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    assert {(r.id, r.p) for r in read_delta(spark, t2).collect()} == {(1, "a")}


def test_read_delta_with_deletion_vectors(spark, tmp_path):
    """DV-bearing table end-to-end: uuid-addressed and inline vectors,
    a DV update (re-add of the same file with a wider vector), time
    travel across DV versions, and untouched files unaffected."""
    import uuid as _uuid

    from easy_sql_spark.sources.delta_dv import (
        encode_bitmap_array,
        write_dv_file,
        z85_encode,
    )

    t = str(tmp_path / "dvt")
    # f-a rows by position: 0=(1,x) 1=(2,y) 2=(3,z); f-b: 0=(7,c)
    _write_data(spark, t, "f-a.parquet", [(1, "x"), (2, "y"), (3, "z")])
    _write_data(spark, t, "f-b.parquet", [(7, "c")])
    proto = {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}}
    add_a = {"path": "f-a.parquet", "partitionValues": {"p": "a"},
             "size": 1, "modificationTime": 0, "dataChange": True}
    add_b = {"path": "f-b.parquet", "partitionValues": {"p": "b"},
             "size": 1, "modificationTime": 0, "dataChange": True}
    _commit(t, 0, [{"commitInfo": {"operation": "WRITE", "timestamp": 1000}},
                   proto, _meta_action(), {"add": add_a}, {"add": add_b}])

    # v1: delete position 1 of f-a via a uuid-addressed DV file
    u = _uuid.uuid4()
    blob, spans = write_dv_file([[1]])
    with open(os.path.join(t, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(blob)
    dv1 = {"storageType": "u", "pathOrInlineDv": z85_encode(u.bytes),
           "offset": spans[0][0], "sizeInBytes": spans[0][1], "cardinality": 1}
    _commit(t, 1, [
        {"commitInfo": {"operation": "DELETE", "timestamp": 2000}},
        {"remove": {"path": "f-a.parquet", "dataChange": True}},
        {"add": {**add_a, "deletionVector": dv1}},
    ])

    # v2: widen the DV (positions 1 and 2) — inline this time
    data = encode_bitmap_array([1, 2])
    dv2 = {"storageType": "i", "pathOrInlineDv": z85_encode(data),
           "sizeInBytes": len(data), "cardinality": 2}
    _commit(t, 2, [
        {"commitInfo": {"operation": "DELETE", "timestamp": 3000}},
        {"remove": {"path": "f-a.parquet", "dataChange": True}},
        {"add": {**add_a, "deletionVector": dv2}},
    ])

    got = lambda v: {  # noqa: E731
        (r.id, r.val, r.p) for r in read_delta(spark, t, version=v).collect()
    }
    assert got(0) == {(1, "x", "a"), (2, "y", "a"), (3, "z", "a"), (7, "c", "b")}
    assert got(1) == {(1, "x", "a"), (3, "z", "a"), (7, "c", "b")}
    assert got(2) == {(1, "x", "a"), (7, "c", "b")}
    # latest = v2; schema unchanged by the DV path
    assert read_delta(spark, t).columns == ["id", "val", "p"]


def test_delta_view_step_function(spark, tmp_path):
    from easy_sql_spark.runtime.processor import SqlProcessor

    t = _mk_table(spark, tmp_path / "dt3")
    etl = f"""-- target=func.delta_view({t}, dv)
-- target=func.delta_view({t}, dv0, 0)

-- target=check.latest_has_five_rows
select (select count(*) from dv) as actual, 5 as expected
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert spark.table("dv0").count() == 3


def test_export_snapshot_to_delta_roundtrip(spark, tmp_path):
    """Snapshot -> Delta export: zero-copy log derivation, incremental
    re-export, and the exported table reading back identical to the
    snapshot through the delta replay path (including an unmaterialized
    clone whose files live under the SOURCE root — absolute add paths)."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.delta_log import export_snapshot_to_delta

    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(
        spark.createDataFrame(
            [(1, "x", "a"), (2, "y", "b"), (3, "z", "a")],
            "id int, val string, p string",
        ),
        partition_by=["p"],
    )
    rep = export_snapshot_to_delta(t)
    assert rep["delta_version"] == 0 and rep["removes"] == 0

    snap = {(r.id, r.val, r.p) for r in t.read().collect()}
    delta = {(r.id, r.val, r.p) for r in read_delta(spark, t.root).collect()}
    assert delta == snap

    # advance the snapshot (partition overwrite), re-export -> delta v1
    t.overwrite_partitions(
        spark.createDataFrame([(9, "w", "a")], "id int, val string, p string")
    )
    rep2 = export_snapshot_to_delta(t)
    assert rep2["delta_version"] == 1
    assert rep2["adds"] >= 1 and rep2["removes"] >= 1
    assert {(r.id, r.p) for r in read_delta(spark, t.root).collect()} == {
        (9, "a"), (2, "b"),
    }
    # delta time travel reaches the pre-overwrite export
    assert {
        (r.id, r.p) for r in read_delta(spark, t.root, version=0).collect()
    } == {(1, "a"), (2, "b"), (3, "a")}

    # clone export: unmaterialized clone files live under the SOURCE
    # root, so its delta log must carry absolute paths — and still read
    c = t.clone_to(str(tmp_path / "branch"))
    c.append(spark.createDataFrame([(7, "q", "b")], "id int, val string, p string"))
    export_snapshot_to_delta(c)
    got = {(r.id, r.val, r.p) for r in read_delta(spark, c.root).collect()}
    assert got == {(9, "w", "a"), (2, "y", "b"), (7, "q", "b")}


@pytest.mark.parametrize("pt_type", ["string", "int"])
def test_export_null_partition_is_null(spark, tmp_path, pt_type):
    """A NULL partition (dir ``pt=__HIVE_DEFAULT_PARTITION__``) exports
    as a null partitionValue: ``read_delta`` returns exactly the
    snapshot's rows, for a string and an int partition column alike."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.delta_log import export_snapshot_to_delta

    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(
        spark.createDataFrame(
            [(1, "1"), (2, "2"), (3, None), (4, None)], "id int, pt string"
        ).selectExpr("id", f"cast(pt as {pt_type}) pt"),
        partition_by=["pt"],
    )
    export_snapshot_to_delta(t)

    def rows(df):
        return sorted((r.id, r.pt) for r in df.collect())

    assert rows(read_delta(spark, t.root)) == rows(t.read())
    assert (3, None) in rows(t.read())
    with open(os.path.join(t.root, "_delta_log", f"{0:020d}.json")) as f:
        pvs = [
            json.loads(line)["add"]["partitionValues"]
            for line in f
            if '"add"' in line
        ]
    assert {"pt": None} in pvs


def test_export_delta_step_function(spark, tmp_path):
    from easy_sql_spark.runtime.processor import SqlProcessor

    root = str(tmp_path / "s")
    etl = f"""-- target=temp.seed
select 1 as id, 'a' as p union all select 2, 'b'

-- target=func.snapshot_commit({root}, seed, append, p)
-- target=func.snapshot_export_delta({root})
-- target=func.delta_view({root}, via_delta)

-- target=check.delta_sees_snapshot
select (select count(*) from via_delta) as actual, 2 as expected
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert {r.id for r in spark.table("via_delta").collect()} == {1, 2}


def test_read_delta_partition_and_stats_pruning(spark, tmp_path):
    """Driver-side file skipping: partition filters drop whole groups
    before any listing; stats predicates skip files whose add-action
    minValues/maxValues provably exclude them — proven by making the
    pruned files UNREADABLE and reading anyway."""
    t = str(tmp_path / "dtp")
    _write_data(spark, t, "f-a.parquet", [(1, "x"), (2, "y")])
    _write_data(spark, t, "f-b.parquet", [(30, "z")])
    _commit(
        t,
        0,
        [
            {"commitInfo": {"operation": "WRITE", "timestamp": 1000}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta_action(),
            {"add": {"path": "f-a.parquet", "partitionValues": {"p": "a"},
                     "size": 1, "modificationTime": 0, "dataChange": True,
                     "stats": json.dumps({"numRecords": 2,
                                          "minValues": {"id": 1},
                                          "maxValues": {"id": 2}})}},
            {"add": {"path": "f-b.parquet", "partitionValues": {"p": "b"},
                     "size": 1, "modificationTime": 0, "dataChange": True,
                     "stats": json.dumps({"numRecords": 1,
                                          "minValues": {"id": 30},
                                          "maxValues": {"id": 30}})}},
        ],
    )
    # corrupt the file the filters should skip
    with open(os.path.join(t, "f-b.parquet"), "wb") as f:
        f.write(b"not parquet")

    got = {(r.id, r.p) for r in
           read_delta(spark, t, partitions={"p": ["a"]}).collect()}
    assert got == {(1, "a"), (2, "a")}
    got2 = {r.id for r in read_delta(spark, t, where=[("id", "<=", 5)]).collect()}
    assert got2 == {1, 2}
    with pytest.raises(ValueError, match="not partition columns"):
        read_delta(spark, t, partitions={"id": [1]})


def test_history_step_functions(spark, tmp_path):
    from easy_sql_spark.runtime.processor import SqlProcessor

    t = _mk_table(spark, tmp_path / "dth")
    etl = f"""-- target=func.delta_history_view({t}, dh)

-- target=check.three_commits
select (select count(*) from dh) as actual, 3 as expected
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert [r.operation for r in spark.table("dh").collect()] == [
        "WRITE", "MERGE", "WRITE",
    ]


def test_export_snapshot_to_delta_with_deletion_vectors(spark, tmp_path):
    """Snapshot DV deletes export as REAL Delta deletion vectors: the
    roaring bitmaps pack into one content-addressed DV file, descriptors
    ride the adds, protocol upgrades to the deletionVectors feature, and
    an independent read_delta replay sees exactly the snapshot's visible
    rows.  Re-export with unchanged DV state must produce NO add/remove
    churn (deterministic descriptors); growing the DV re-adds the file."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.delta_log import export_snapshot_to_delta

    root = str(tmp_path / "sdv")
    t = SnapshotTable(spark, root)
    t.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 7)], "id int, v string"
        )
    )
    t.delete_where_dv([("id", "=", 2)])
    rep = export_snapshot_to_delta(t)
    assert rep["dv_files"] >= 1
    got = {(r.id, r.v) for r in read_delta(spark, root).collect()}
    assert got == {(i, f"v{i}") for i in (1, 3, 4, 5, 6)}
    assert got == {(r.id, r.v) for r in t.read().collect()}

    # unchanged state re-export: no churn (content-addressed DV file)
    rep2 = export_snapshot_to_delta(t)
    assert rep2["adds"] == 0 and rep2["removes"] == 0

    # DV grows -> the touched file re-enters the log with a new
    # descriptor; replay still matches the snapshot read
    t.delete_where_dv([("id", "=", 5)])
    rep3 = export_snapshot_to_delta(t)
    assert rep3["adds"] >= 1
    got3 = {(r.id, r.v) for r in read_delta(spark, root).collect()}
    assert got3 == {(i, f"v{i}") for i in (1, 3, 4, 6)}
    # time travel: the previous delta version still shows id=5
    prev = {(r.id, r.v)
            for r in read_delta(spark, root, version=rep2["delta_version"]).collect()}
    assert prev == got


def test_export_writes_classic_checkpoints(spark, tmp_path):
    """Every checkpoint_interval exported versions the export writes a
    classic parquet checkpoint (+ _last_checkpoint); after Delta-style
    log cleanup deletes the older JSON commits, replay must reconstruct
    from the checkpoint alone — deletion vectors included."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.delta_log import export_snapshot_to_delta

    root = str(tmp_path / "scp")
    t = SnapshotTable(spark, root)
    t.create(spark.createDataFrame([(1, "a")], "id int, v string"))
    export_snapshot_to_delta(t, checkpoint_interval=2)  # v0
    t.append(spark.createDataFrame([(2, "b")], "id int, v string"))
    export_snapshot_to_delta(t, checkpoint_interval=2)  # v1
    t.append(spark.createDataFrame([(3, "c")], "id int, v string"))
    t.delete_where_dv([("id", "=", 1)])
    rep = export_snapshot_to_delta(t, checkpoint_interval=2)  # v2 + ckpt
    assert rep["delta_version"] == 2
    log = os.path.join(root, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{2:020d}.checkpoint.parquet"))
    assert os.path.exists(os.path.join(log, "_last_checkpoint"))

    # log cleanup: drop every JSON at or below the checkpoint
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    got = {(r.id, r.v) for r in read_delta(spark, root).collect()}
    assert got == {(2, "b"), (3, "c")}
    assert got == {(r.id, r.v) for r in t.read().collect()}


def test_read_delta_from_multipart_checkpoint(spark, tmp_path):
    """Multi-part classic checkpoints ({v}.checkpoint.{i}.{n}.parquet —
    the form large tables write) reconstruct state after log cleanup;
    an INCOMPLETE part set (aborted checkpoint write) is skipped."""
    t = _mk_table(spark, tmp_path / "dtm")
    log = os.path.join(t, "_delta_log")

    def cp_part(rows, name):
        cp_schema = (
            "metaData struct<id string, schemaString string, "
            "partitionColumns array<string>>, "
            "protocol struct<minReaderVersion int>, "
            "add struct<path string, partitionValues map<string,string>>, "
            "remove struct<path string>"
        )
        df = spark.createDataFrame(rows, cp_schema)
        tmp = os.path.join(t, "_cpp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), os.path.join(log, name))
        import shutil

        shutil.rmtree(tmp)

    md = json.loads(json.dumps(_meta_action()["metaData"]))
    cp_part(
        [((md["id"], md["schemaString"], md["partitionColumns"]),
          (1,), None, None),
         (None, None, ("f-a2.parquet", {"p": "a"}), None)],
        f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
    )
    cp_part(
        [(None, None, ("f-b1.parquet", {"p": "b"}), None)],
        f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
    )
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    latest = {(r.id, r.val, r.p) for r in read_delta(spark, t).collect()}
    assert latest == {
        (1, "x2", "a"), (2, "y2", "a"), (9, "w", "a"),
        (3, "z", "b"), (7, "c", "c"),
    }

    # an aborted multi-part set (1 of 2 parts) must NOT be selected:
    # with version-2 parts incomplete, replay still uses the complete
    # version-1 checkpoint + the version-2 JSON
    cp_part(
        [(None, None, ("f-a2.parquet", {"p": "a"}), None)],
        f"{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
    )
    again = {(r.id, r.val, r.p) for r in read_delta(spark, t).collect()}
    assert again == latest


def test_checkpoint_replay_is_slim_and_scales_to_many_files(spark, tmp_path):
    """State reconstruction from a checkpoint with MANY add actions must
    stay slim on the driver: the scan projects to the handful of fields
    the reader consumes (path, partitionValues, stats, deletionVector,
    size, …) and anti-joins remove tombstones EXECUTOR-side, so the
    driver holds one slim dict per LIVE file — never full-width action
    rows, never tombstones (VERDICT r6 #4)."""
    from easy_sql_spark.sources.delta_log import (
        _SLIM_ADD_FIELDS,
        _slim_checkpoint_adds,
    )

    t = str(tmp_path / "dtbig")
    os.makedirs(os.path.join(t, "_delta_log"))
    n = 2000
    cp_schema = (
        "metaData struct<id string, schemaString string, "
        "partitionColumns array<string>>, "
        "protocol struct<minReaderVersion int>, "
        "add struct<path string, partitionValues map<string,string>, "
        "size long, stats string, tags map<string,string>>, "
        "remove struct<path string>, "
        "commitInfo struct<operation string>"
    )
    md = json.loads(json.dumps(_meta_action()["metaData"]))
    rows = [((md["id"], md["schemaString"], md["partitionColumns"]),
             None, None, None, None),
            (None, (1,), None, None, None)]
    for i in range(n):
        rows.append(
            (None, None,
             (f"f-{i}.parquet", {"p": str(i % 7)}, 10,
              '{"minValues":{"id":0}}', {"noise": "x" * 50}),
             None, None)
        )
    # tombstones for half the files — must be anti-joined away
    for i in range(0, n, 2):
        rows.append((None, None, None, (f"f-{i}.parquet",), None))
    df = spark.createDataFrame(rows, cp_schema)
    tmp = os.path.join(t, "_cp")
    df.write.parquet(tmp)
    import shutil

    parts = [x for x in os.listdir(tmp) if x.endswith(".parquet")]
    # multi-part checkpoint form
    for j, part in enumerate(sorted(parts), 1):
        os.replace(
            os.path.join(tmp, part),
            os.path.join(
                t, "_delta_log",
                f"{0:020d}.checkpoint.{j:010d}.{len(parts):010d}.parquet",
            ),
        )
    shutil.rmtree(tmp)

    adds = _slim_checkpoint_adds(
        spark,
        [os.path.join(t, "_delta_log", x)
         for x in os.listdir(os.path.join(t, "_delta_log"))],
    )
    assert len(adds) == n // 2  # only live files, no tombstoned paths
    assert all(int(p.split("-")[1].split(".")[0]) % 2 == 1 for p in adds)
    # slim contract: nothing outside the consumed field set reaches the
    # driver (tags and the full action width stay in executors)
    for a in adds.values():
        assert set(a) <= set(_SLIM_ADD_FIELDS)
        assert "tags" not in a


_V1_STATE = {
    (1, "x2", "a"), (2, "y2", "a"), (9, "w", "a"),
    (3, "z", "b"), (7, "c", "c"),
}


def _pq_actions(spark, rows, schema, dest):
    df = spark.createDataFrame(rows, schema)
    tmp = dest + "_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(os.path.join(tmp, part), dest)
    import shutil

    shutil.rmtree(tmp)


_SIDECAR_SCHEMA = (
    "add struct<path string, partitionValues map<string,string>>, "
    "remove struct<path string>"
)


def test_read_delta_from_v2_checkpoint_with_sidecars(spark, tmp_path):
    """V2 (uuid-named) checkpoints — what current delta-spark writes by
    default — reconstruct state after log cleanup: the manifest carries
    metaData/protocol + sidecar pointers; add/remove state lives in
    ``_delta_log/_sidecars/`` parquet files (PROTOCOL.md §V2 Spec)."""
    t = _mk_table(spark, tmp_path / "dtv2")
    log = os.path.join(t, "_delta_log")
    side = os.path.join(log, "_sidecars")
    # state at v1 split across two sidecars + a remove tombstone
    _pq_actions(
        spark,
        [(("f-a2.parquet", {"p": "a"}), None),
         (None, ("f-a1.parquet",))],
        _SIDECAR_SCHEMA,
        os.path.join(side, "3a1c0000-0000-4000-8000-000000000001.parquet"),
    )
    _pq_actions(
        spark,
        [(("f-b1.parquet", {"p": "b"}), None)],
        _SIDECAR_SCHEMA,
        os.path.join(side, "3a1c0000-0000-4000-8000-000000000002.parquet"),
    )
    md = json.loads(json.dumps(_meta_action()["metaData"]))
    manifest_schema = (
        "checkpointMetadata struct<version long>, "
        "metaData struct<id string, schemaString string, "
        "partitionColumns array<string>>, "
        "protocol struct<minReaderVersion int, minWriterVersion int, "
        "readerFeatures array<string>, writerFeatures array<string>>, "
        "sidecar struct<path string, sizeInBytes long>"
    )
    uuid = "7a44c8d2-9c3e-4c6f-9f30-5c9f3c6f9f30"
    _pq_actions(
        spark,
        [
            ((1,), None, None, None),
            (None,
             (md["id"], md["schemaString"], md["partitionColumns"]),
             None, None),
            (None, None, (3, 7, ["v2Checkpoint"], ["v2Checkpoint"]), None),
            (None, None, None,
             ("3a1c0000-0000-4000-8000-000000000001.parquet", 1)),
            (None, None, None,
             ("3a1c0000-0000-4000-8000-000000000002.parquet", 1)),
        ],
        manifest_schema,
        os.path.join(log, f"{1:020d}.checkpoint.{uuid}.parquet"),
    )
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    latest = {(r.id, r.val, r.p) for r in read_delta(spark, t).collect()}
    assert latest == _V1_STATE
    with pytest.raises(ValueError, match="missing commit"):
        read_delta(spark, t, version=0)

    # a missing sidecar must fail LOUDLY, not read partial state
    os.remove(
        os.path.join(side, "3a1c0000-0000-4000-8000-000000000002.parquet")
    )
    with pytest.raises(ValueError, match="sidecar"):
        read_delta(spark, t)


def test_read_delta_from_v2_json_checkpoint_inline_actions(spark, tmp_path):
    """The json-format V2 manifest with INLINE file actions (no
    sidecars) — the other writer-chosen layout the spec allows."""
    t = _mk_table(spark, tmp_path / "dtv2j")
    log = os.path.join(t, "_delta_log")
    md = _meta_action()["metaData"]
    uuid = "11112222-3333-4444-8555-666677778888"
    actions = [
        {"checkpointMetadata": {"version": 1}},
        {"metaData": md},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint"],
                      "writerFeatures": ["v2Checkpoint"]}},
        {"add": {"path": "f-a2.parquet", "partitionValues": {"p": "a"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f-b1.parquet", "partitionValues": {"p": "b"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"remove": {"path": "f-a1.parquet"}},
    ]
    with open(
        os.path.join(log, f"{1:020d}.checkpoint.{uuid}.json"), "w"
    ) as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    latest = {(r.id, r.val, r.p) for r in read_delta(spark, t).collect()}
    assert latest == _V1_STATE


def test_delta_changes_cdf(spark, tmp_path):
    """delta_changes: add/remove-derived inserts and deletes per commit,
    cdc actions authoritative when present (adds of the same commit
    ignored), DV-without-cdc refuses, and the step-function view."""
    from easy_sql_spark.sources.delta_log import delta_changes

    t = _mk_table(spark, tmp_path / "dtc")
    ch = delta_changes(spark, t, 0, 2)
    rows = {
        (r._commit_version, r._change_type, r.id, r.val, r.p)
        for r in ch.collect()
    }
    assert rows == {
        (0, "insert", 1, "x", "a"), (0, "insert", 2, "y", "a"),
        (0, "insert", 3, "z", "b"),
        (1, "delete", 1, "x", "a"), (1, "delete", 2, "y", "a"),
        (1, "insert", 1, "x2", "a"), (1, "insert", 2, "y2", "a"),
        (1, "insert", 9, "w", "a"),
        (2, "insert", 7, "c", "c"),
    }
    # timestamps ride commitInfo
    assert {r._commit_timestamp for r in ch.where("_commit_version=1").collect()} == {2000}

    # a cdc-action commit: its cdc files are authoritative, the add in
    # the same commit contributes nothing
    cdc_dir = os.path.join(t, "_change_data")
    os.makedirs(cdc_dir, exist_ok=True)
    cdf = spark.createDataFrame(
        [(1, "x2", "update_preimage"), (1, "x3", "update_postimage")],
        "id long, val string, _change_type string",
    )
    tmp = os.path.join(t, "_cdc_tmp")
    cdf.coalesce(1).write.parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), os.path.join(cdc_dir, "c1.parquet"))
    import shutil

    shutil.rmtree(tmp)
    _write_data(spark, t, "f-a3.parquet", [(1, "x3"), (2, "y2"), (9, "w")])
    _commit(
        t,
        3,
        [
            {"commitInfo": {"operation": "UPDATE", "timestamp": 4000}},
            {"remove": {"path": "f-a2.parquet", "dataChange": True}},
            {"add": {"path": "f-a3.parquet", "partitionValues": {"p": "a"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"cdc": {"path": "_change_data/c1.parquet",
                     "partitionValues": {"p": "a"}, "size": 1,
                     "dataChange": False}},
        ],
    )
    ch3 = {
        (r._change_type, r.id, r.val, r.p)
        for r in delta_changes(spark, t, 3, 3).collect()
    }
    assert ch3 == {
        ("update_preimage", 1, "x2", "a"),
        ("update_postimage", 1, "x3", "a"),
    }

    # a commit that REMOVES a file whose prior add carried a live DV
    # (no cdc): the DV-dead rows were already deleted and must NOT
    # re-emit as fresh delete rows — only the still-live rows do
    u = __import__("uuid").uuid4()
    from easy_sql_spark.sources.delta_dv import write_dv_file, z85_encode

    blob, spans = write_dv_file([[1]])  # f-a3 position 1 = (2, y2)
    with open(os.path.join(t, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(blob)
    cdf2 = spark.createDataFrame(
        [(2, "y2", "delete")], "id long, val string, _change_type string"
    )
    tmp2 = os.path.join(t, "_cdc_tmp2")
    cdf2.coalesce(1).write.parquet(tmp2)
    part2 = next(n for n in os.listdir(tmp2) if n.endswith(".parquet"))
    os.replace(os.path.join(tmp2, part2), os.path.join(cdc_dir, "c2.parquet"))
    shutil.rmtree(tmp2)
    _commit(
        t,
        4,
        [
            {"commitInfo": {"operation": "DELETE", "timestamp": 5000}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            {"remove": {"path": "f-a3.parquet", "dataChange": True}},
            {"add": {"path": "f-a3.parquet", "partitionValues": {"p": "a"},
                     "size": 1, "modificationTime": 0, "dataChange": True,
                     "deletionVector": {
                         "storageType": "u",
                         "pathOrInlineDv": z85_encode(u.bytes),
                         "offset": spans[0][0],
                         "sizeInBytes": spans[0][1],
                         "cardinality": 1}}},
            {"cdc": {"path": "_change_data/c2.parquet",
                     "partitionValues": {"p": "a"}, "size": 1,
                     "dataChange": False}},
        ],
    )
    _commit(
        t,
        5,
        [
            {"commitInfo": {"operation": "DELETE", "timestamp": 6000}},
            {"remove": {"path": "f-a3.parquet", "dataChange": True}},
        ],
    )
    ch5 = {
        (r._change_type, r.id, r.val, r.p)
        for r in delta_changes(spark, t, 5, 5).collect()
    }
    # f-a3 had rows (1,x3) (2,y2) (9,w); position 1 (2,y2) was already
    # DV-dead at v4 — removing the file deletes only the live two
    assert ch5 == {("delete", 1, "x3", "a"), ("delete", 9, "w", "a")}

    # DV change without cdc files: not derivable -> loud refusal
    _commit(
        t,
        6,
        [
            {"commitInfo": {"operation": "DELETE", "timestamp": 7000}},
            {"add": {"path": "f-c1.parquet", "partitionValues": {"p": "c"},
                     "size": 1, "modificationTime": 0, "dataChange": True,
                     "deletionVector": {
                         "storageType": "i", "pathOrInlineDv": "x",
                         "offset": 0, "sizeInBytes": 1, "cardinality": 1}}},
        ],
    )
    with pytest.raises(DeltaProtocolError, match="cdc"):
        delta_changes(spark, t, 6, 6)

    # step-function surface
    from easy_sql_spark.runtime.processor import SqlProcessor

    etl = f"""-- target=func.delta_changes_view({t}, cdf_v, 0, 2)

-- target=check.cdf_rows
select (select count(*) from cdf_v) as actual, 9 as expected
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()


def test_export_writes_v2_checkpoints_optin(spark, tmp_path):
    """checkpoint_format='v2': the export writes the uuid-named manifest
    + _sidecars/ form (what current delta-spark leaves after cleanup),
    upgrades the protocol with the v2Checkpoint feature, and replay
    reconstructs from the v2 checkpoint alone after log cleanup —
    deletion vectors included."""
    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.delta_log import export_snapshot_to_delta

    root = str(tmp_path / "scp2")
    t = SnapshotTable(spark, root)
    t.create(spark.createDataFrame([(1, "a")], "id int, v string"))
    export_snapshot_to_delta(t, checkpoint_interval=2, checkpoint_format="v2")
    t.append(spark.createDataFrame([(2, "b")], "id int, v string"))
    export_snapshot_to_delta(t, checkpoint_interval=2, checkpoint_format="v2")
    t.append(spark.createDataFrame([(3, "c")], "id int, v string"))
    t.delete_where_dv([("id", "=", 1)])
    rep = export_snapshot_to_delta(
        t, checkpoint_interval=2, checkpoint_format="v2"
    )
    assert rep["delta_version"] == 2
    log = os.path.join(root, "_delta_log")
    manifests = [
        n for n in os.listdir(log)
        if n.startswith(f"{2:020d}.checkpoint.") and n.endswith(".parquet")
        and len(n.split(".")) == 4  # {v}.checkpoint.{uuid}.parquet
    ]
    assert len(manifests) == 1, os.listdir(log)
    sidecars = os.listdir(os.path.join(log, "_sidecars"))
    assert len(sidecars) == 1 and sidecars[0].endswith(".parquet")
    # the json protocol carries the feature (spec precondition)
    with open(os.path.join(log, f"{2:020d}.json")) as fh:
        protos = [json.loads(x) for x in fh if '"protocol"' in x]
    assert protos and "v2Checkpoint" in protos[0]["protocol"]["readerFeatures"]

    # log cleanup: state lives ONLY in the v2 checkpoint + sidecar
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    got = {(r.id, r.v) for r in read_delta(spark, root).collect()}
    assert got == {(2, "b"), (3, "c")}
    assert got == {(r.id, r.v) for r in t.read().collect()}

    # idempotent re-write: same (path, version) -> same uuid, no churn
    from easy_sql_spark.sources.delta_log import _write_v2_checkpoint

    _write_v2_checkpoint(spark, root, 2)
    assert len(os.listdir(os.path.join(log, "_sidecars"))) == 1


def test_checkpoint_preserves_declared_protocol_features(spark, tmp_path):
    """A checkpoint written while a declared feature is momentarily
    unused must NOT downgrade the protocol: deletionVectors was declared
    by an earlier commit; after compact() clears every live DV, the
    checkpoint still carries the feature — external readers reconstruct
    protocol FROM the checkpoint after log cleanup, so a derived-from-
    state protocol would make the downgrade permanent (ADVICE r7 #4)."""
    import pyarrow.parquet as pq

    from easy_sql_spark.runtime.snapshots import SnapshotTable
    from easy_sql_spark.sources.delta_log import (
        _checkpoint_protocol,
        export_snapshot_to_delta,
    )

    # unit surface first: replayed features survive, derived ones union in
    assert _checkpoint_protocol(None, has_dv=False, v2=False) == (1, 2, None, None)
    assert _checkpoint_protocol(None, has_dv=True, v2=False) == (
        3, 7, ["deletionVectors"], ["deletionVectors"],
    )
    replayed = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }
    assert _checkpoint_protocol(replayed, has_dv=False, v2=False) == (
        3, 7, ["deletionVectors"], ["deletionVectors"],
    )
    assert _checkpoint_protocol(replayed, has_dv=False, v2=True) == (
        3, 7,
        ["deletionVectors", "v2Checkpoint"],
        ["deletionVectors", "v2Checkpoint"],
    )
    # legacy minWriterVersion 2-6: bumping to (3, 7) must union the
    # legacy-implied features (Delta PROTOCOL.md legacy mapping), or
    # checkpoint-reconstructing readers lose them after log cleanup
    legacy6 = {"minReaderVersion": 2, "minWriterVersion": 6}
    mr, mw, rf, wf = _checkpoint_protocol(legacy6, has_dv=False, v2=True)
    assert (mr, mw) == (3, 7)
    assert set(wf) == {
        "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "columnMapping", "identityColumns",
        "v2Checkpoint",
    }
    assert set(rf) == {"columnMapping", "v2Checkpoint"}
    legacy3 = {"minReaderVersion": 1, "minWriterVersion": 3}
    _, _, rf3, wf3 = _checkpoint_protocol(legacy3, has_dv=True, v2=False)
    assert set(wf3) == {
        "appendOnly", "invariants", "checkConstraints", "deletionVectors",
    }
    assert rf3 == ["deletionVectors"]
    # no feature trigger -> legacy protocol passes through untouched
    assert _checkpoint_protocol(legacy3, has_dv=False, v2=False) == (
        1, 3, None, None,
    )

    root = str(tmp_path / "sproto")
    t = SnapshotTable(spark, root)
    t.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 7)], "id int, v string"
        )
    )
    t.delete_where_dv([("id", "=", 2)])
    export_snapshot_to_delta(t, checkpoint_interval=2)  # v0: declares DVs
    t.compact()  # applies + clears the DVs: no live DV remains
    export_snapshot_to_delta(t, checkpoint_interval=2)  # v1
    t.append(spark.createDataFrame([(9, "z")], "id int, v string"))
    rep = export_snapshot_to_delta(t, checkpoint_interval=2)  # v2 + ckpt
    assert rep["delta_version"] == 2 and rep["dv_files"] == 0

    log = os.path.join(root, "_delta_log")
    cp = os.path.join(log, f"{2:020d}.checkpoint.parquet")
    assert os.path.exists(cp)
    protos = [
        p for p in pq.read_table(cp).to_pylist() if p.get("protocol")
        and p["protocol"].get("minReaderVersion") is not None
    ]
    assert len(protos) == 1
    proto = protos[0]["protocol"]
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in (proto["readerFeatures"] or [])

    # and the table still reads correctly from the checkpoint alone
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    got = {(r.id, r.v) for r in read_delta(spark, root).collect()}
    assert got == {(r.id, r.v) for r in t.read().collect()}
