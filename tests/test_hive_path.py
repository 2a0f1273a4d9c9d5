"""Hive partition-path codec (easy_sql_spark/hive_path.py), pinned
against the dir names Spark's own writer produces."""

import datetime as dt
import decimal
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StringType, TimestampType

from easy_sql_spark.hive_path import partition_values, typed_value


def test_partition_values_decodes_exactly_the_columns():
    d = "commit=c1/pt=10%3A00/n=__HIVE_DEFAULT_PARTITION__/x=k%3Dv"
    assert partition_values(d, ["pt", "n"]) == {"pt": "10:00", "n": None}
    assert partition_values(d, ["x"]) == {"x": "k=v"}
    assert partition_values(d, []) == {}
    with pytest.raises(ValueError, match="no partition segment"):
        partition_values(d, ["pt", "missing"])


def test_typed_value_refuses_types_without_a_string_form():
    assert typed_value(None, TimestampType()) is None
    assert typed_value("a b", StringType()) == "a b"
    with pytest.raises(NotImplementedError, match="timestamp"):
        typed_value("2024-01-01 00:00:00", TimestampType())


def test_codec_matches_spark_partition_writer(spark, tmp_path):
    """For every leaf dir Spark's ``partitionBy`` writes, decoding the
    dir with ``partition_values`` + ``typed_value`` gives exactly the
    partition tuple of the rows inside it."""
    strings = ["a b", "10:00", "x%y", "p/q", "k=v", "ü", None]
    rows = [
        (
            i,
            s,
            None if i == 3 else i * 7 - 20,
            dt.date(2024, 1, 1 + i),
            decimal.Decimal(f"{i}.{i}5"),
            i % 2 == 0,
        )
        for i, s in enumerate(strings)
    ]
    df = spark.createDataFrame(
        rows, "id int, s string, n int, d date, dec decimal(10,2), b boolean"
    )
    out = str(tmp_path / "t")
    part_cols = ["s", "n", "d", "dec", "b"]
    df.write.partitionBy(*part_cols).parquet(out)
    types = {f.name: f.dataType for f in df.schema.fields}
    expected = {r[0]: tuple(r[1:]) for r in rows}

    seen = set()
    for cur, _dirs, files in os.walk(out):
        names = [f for f in files if f.endswith(".parquet")]
        if not names:
            continue
        rel = os.path.relpath(cur, out)
        pv = partition_values(rel, part_cols)
        got = tuple(typed_value(pv[c], types[c]) for c in part_cols)
        for name in names:
            for i in pq.read_table(os.path.join(cur, name))["id"].to_pylist():
                assert got == expected[i], rel
                seen.add(i)
    assert seen == set(expected)
