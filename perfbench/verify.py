"""Checks of each pass's outputs that do not go through the program.

Expected values come from DuckDB over the same input parquet; tables the
pipelines saved are read back from their files with DuckDB.  Only the
lakehouse views, which exist nowhere but in the Spark session, are read
through Spark.  Every check returns a list of mismatch messages; an empty
list means the pass's outputs are right.
"""

from __future__ import annotations

import os

import duckdb


def _table_files(warehouse: str, db: str, table: str) -> str:
    return os.path.join(warehouse, f"{db}.db", table, "**", "*.parquet")


def _one(con, sql: str, *params):
    return con.execute(sql, list(params)).fetchone()


def _rows(con, sql: str, *params) -> set:
    return set(con.execute(sql, list(params)).fetchall())


def segment_report(con, data: dict, warehouse: str) -> list[str]:
    """``sample.segment_report`` of ``sample_etl.spark.sql``."""
    expected = con.execute(
        "select c_mktsegment, count(*), sum(round(c_acctbal * 100)::bigint) / 100.0 "
        "from read_parquet(?) group by 1", [data["customer"]]
    ).fetchall()
    got = con.execute(
        "select segment, n_customers, total_balance, doubled_balance "
        "from read_parquet(?)", [_table_files(warehouse, "sample", "segment_report")]
    ).fetchall()
    got_by_segment = {r[0]: r[1:] for r in got}
    errors = []
    if len(got) != len(expected) or len(got_by_segment) != len(got):
        errors.append(f"segment_report: {len(got)} rows, expected {len(expected)}")
    for segment, n, total in expected:
        row = got_by_segment.get(segment)
        if row is None or row[0] != n or abs(row[1] - total) > 5e-3 \
                or abs(row[2] - 2 * total) > 1e-2:
            errors.append(f"segment_report[{segment}]: got {row}, expected "
                          f"({n}, {total}, {2 * total})")
    return errors


def warehouse_tables(con, data: dict, warehouse: str) -> list[str]:
    """``maint.customer_dim`` (SCD2) and ``maint.orders_fact`` of
    ``warehouse_maintenance.sql``."""
    errors = []
    n_cust, n_moved = _one(
        con, "select count(*), count(*) filter (c_custkey % 10 = 0) "
        "from read_parquet(?)", data["customer"])
    dim = _table_files(warehouse, "maint", "customer_dim")
    current, history = _one(
        con, "select count(*) filter (__is_current), count(*) filter (not __is_current) "
        "from read_parquet(?, union_by_name = true)", dim)
    if (current, history) != (n_cust, n_moved):
        errors.append(f"customer_dim current/history: got {(current, history)}, "
                      f"expected {(n_cust, n_moved)}")
    (n_orders,) = _one(con, "select count(*) from read_parquet(?)", data["orders"])
    fact = _table_files(warehouse, "maint", "orders_fact")
    rows, keys = _one(
        con, "select count(*), count(distinct o_orderkey) "
        "from read_parquet(?, union_by_name = true)", fact)
    if rows != n_orders + 20 or keys != rows:
        errors.append(f"orders_fact: {rows} rows / {keys} keys, expected "
                      f"{n_orders + 20} distinct")
    return errors


def lakehouse_views(con, data: dict, spark) -> list[str]:
    """The four read paths of ``lakehouse_interop.sql`` agree with the
    source slice, and ``batched_dedup_load.sql`` admitted each doc once."""
    expected = {
        (k, str(pt)) for k, pt in con.execute(
            "select o_orderkey, o_orderkey % 3 from read_parquet(?) "
            "where o_orderkey <= 600", [data["orders"]]).fetchall()
    }
    errors = []
    for view in ("via_snapshot", "via_delta", "via_iceberg", "via_hudi"):
        got = {(r.k, str(r.pt)) for r in spark.table(view).select("k", "pt").collect()}
        if got != expected:
            errors.append(f"{view}: {len(got)} rows, {len(got ^ expected)} differ "
                          f"from the {len(expected)}-row source slice")
    admitted = []
    for tier in (1, 2, 3):
        ids = [r.doc_id for r in spark.table(f"admitted_t{tier}").select("doc_id").collect()]
        if not ids:
            errors.append(f"admitted_t{tier} is empty")
        admitted += ids
    if len(admitted) != len(set(admitted)):
        errors.append(f"admissions not unique: {len(admitted)} rows, "
                      f"{len(set(admitted))} doc ids")
    if not all(0 <= d <= 240 for d in admitted):
        errors.append("admitted a doc outside the loaded tiers")
    return errors


def check(workload: str, spark, data: dict, warehouse: str) -> list[str]:
    con = duckdb.connect()
    try:
        if workload == "analytics_read":
            return segment_report(con, data, warehouse)
        if workload == "warehouse_write":
            return warehouse_tables(con, data, warehouse)
        return lakehouse_views(con, data, spark)
    finally:
        con.close()
