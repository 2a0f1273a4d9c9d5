"""Hive partition paths: how Spark spells a partition value in a dir name.

Spark writes ``col=value`` segments with the value ``%``-escaped by
``escapePathName`` (``10:00`` → ``10%3A00``, ``%`` → ``%25``) and a NULL
(or empty string) as ``__HIVE_DEFAULT_PARTITION__``.  Every reader of
the on-disk layout — snapshot stats and partition filters, the Delta,
Iceberg and Hudi exports, the CDF streams, ``compact_table`` — decodes
dir names here, so they all agree on the logical value.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
from urllib.parse import unquote

_NULL = "__HIVE_DEFAULT_PARTITION__"


def partition_values(rel_dir: str, cols) -> dict:
    """``{col: value}`` for exactly ``cols`` from the ``col=value``
    segments of ``rel_dir``: values unescaped, the NULL sentinel mapped
    to None.  Other segments (a snapshot's ``commit=`` dir, plain names)
    are ignored; a column with no segment raises ValueError."""
    segs = {
        unquote(k): v
        for k, v in (s.split("=", 1) for s in rel_dir.split("/") if "=" in s)
    }
    missing = [c for c in cols if c not in segs]
    if missing:
        raise ValueError(f"no partition segment for {missing} in {rel_dir!r}")
    return {c: None if segs[c] == _NULL else unquote(segs[c]) for c in cols}


def typed_value(raw: str | None, data_type):
    """The Python value of a decoded partition string under the Spark
    ``data_type``; None stays None.  Types without a plain string form
    (timestamps, nested types) raise NotImplementedError."""
    if raw is None:
        return None
    typ = data_type.simpleString()
    if typ in ("tinyint", "smallint", "int", "bigint"):
        return int(raw)
    if typ in ("float", "double"):
        return float(raw)
    if typ.startswith("decimal"):
        return _dec.Decimal(raw)
    if typ == "date":
        return _dt.date.fromisoformat(raw)
    if typ == "boolean":
        return raw.lower() == "true"
    if typ == "string":
        return raw
    raise NotImplementedError(f"partition value of type {typ}")


def const_array(field, raw, n):
    """n-row arrow array of the partition string ``raw`` typed as the
    Spark ``field``.  The arrow type is explicit: ``pa.array([None]*n)``
    infers ``pa.null()`` and poisons a stream's schema when a later
    batch carries a typed value (ADVICE r8 #3)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.array(
        [typed_value(raw, field.dataType)] * n,
        type=to_arrow_type(field.dataType),
    )
