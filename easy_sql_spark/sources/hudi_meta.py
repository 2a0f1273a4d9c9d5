"""Apache Hudi table READER (COPY_ON_WRITE + MERGE_ON_READ) — no
hudi-spark bundle.

The reference's own versioned-table story IS Hudi (its Flink samples
upsert into Hudi tables — reference test/sample_etl.flink.hudi-agg.sql,
backend/flink.py); this module closes the loop by reading Hudi tables
directly from their open layout: a ``.hoodie/`` timeline of instant
files plus base parquet files named
``{fileId}_{writeToken}_{instantTime}.parquet`` and (MOR) hidden log
files ``.{fileId}_{baseInstant}.log.{version}_{writeToken}``.

Snapshot semantics implemented exactly as Hudi's readers:

- completed instants = ``<t>.commit`` / ``<t>.replacecommit`` (and, on
  MOR tables, ``<t>.deltacommit``) timeline entries — inflight or
  requested instants and their files are invisible;
- each (partition, fileId) FILE GROUP contributes its newest committed
  base file at or below the target instant; on MOR, the log files
  attached to that base instant (the FILE SLICE) are replayed over it:
  later records win per record key (OverwriteWithLatestAvroPayload
  commit-time ordering, Hudi's default merge), delete blocks drop
  keys, rollback command blocks invalidate the blocks of their target
  instant.  Log-only file groups (inserts into MOR before any
  compaction) are supported;
- ``replacecommit`` metadata (clustering / insert_overwrite) kills the
  file groups it lists from that instant onward — time travel BELOW the
  replace still sees them;
- hoodie meta columns (``_hoodie_*``) are dropped by default.

Scale notes: log-block decoding (``hudi_log.py``, picklable pure
Python) runs in executor tasks, one task per file group — the driver
only lists the timeline and file names.  Base files are scanned as ONE
vectorized parquet read; only base rows whose file group actually has
log deltas take the per-key merge window (delta keys are broadcast for
the split), so a lightly-updated 100 TB MOR table pays the merge only
on the updated slice.

Every ``HoodieLogBlockType`` ordinal 0-6 decodes (avro/parquet/HFILE
data blocks, v1-v3 delete blocks including the Kryo wire forms, CDC,
command blocks) — the log refusal surface is empty as of r11.  HFile
bases and HFILE log blocks surface their ROW KEY as
``_hoodie_record_key`` (the metadata table's virtual-key convention),
so metadata-table file groups merge end-to-end.  Refused loudly:
bootstrap/externally-referenced base files, and PARQUET base files
missing the populated ``_hoodie_record_key`` meta column (virtual-key
data tables) when a merge is required.

The WRITE side lives here too: ``export_snapshot_to_hudi`` (COW —
zero-copy hardlinks, incremental re-export, replacecommit retirement)
and ``export_snapshot_to_hudi_mor`` (MOR — bucket-routed base files
once, then every further snapshot commit exports as log files only:
delete block + data block per affected file group, framed executor-side
from the snapshot change feed).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class HudiUnsupportedError(NotImplementedError):
    pass


def _timeline_dir(path: str) -> str:
    return os.path.join(path, ".hoodie")


def _table_type(path: str) -> str:
    props = os.path.join(_timeline_dir(path), "hoodie.properties")
    if os.path.exists(props):
        with open(props, encoding="utf-8") as f:
            for line in f:
                s = line.strip()
                if s.startswith("hoodie.table.type"):
                    return s.split("=", 1)[1].strip()
    return "COPY_ON_WRITE"


def _completed_instants(path: str, mor: bool = False) -> dict[str, str]:
    """{instant_time: action} for completed commits, ascending keys."""
    out: dict[str, str] = {}
    td = _timeline_dir(path)
    if not os.path.isdir(td):
        raise ValueError(f"not a hudi table (no .hoodie under {path})")
    for n in os.listdir(td):
        stem, _, ext = n.partition(".")
        if ext in ("commit", "replacecommit") and stem.isdigit():
            out[stem] = ext
        if ext == "deltacommit":
            if not mor:
                raise HudiUnsupportedError(
                    "deltacommit in the timeline of a COPY_ON_WRITE "
                    "table — corrupt or mis-declared table type"
                )
            if stem.isdigit():
                out[stem] = ext
    return dict(sorted(out.items()))


def _replaced_groups(path: str, instants: dict[str, str], up_to: str) -> set[tuple[str, str]]:
    """(partition, fileId) groups killed by replacecommits <= up_to."""
    dead: set[tuple[str, str]] = set()
    for t, action in instants.items():
        if action != "replacecommit" or t > up_to:
            continue
        f = os.path.join(_timeline_dir(path), f"{t}.replacecommit")
        with open(f, encoding="utf-8") as fh:
            meta = json.load(fh)
        for part, fids in (meta.get("partitionToReplaceFileIds") or {}).items():
            for fid in fids:
                dead.add((part, fid))
    return dead


def hudi_history(path: str) -> list[dict]:
    mor = _table_type(path) == "MERGE_ON_READ"
    return [
        {"instant": t, "action": a}
        for t, a in reversed(_completed_instants(path, mor=mor).items())
    ]


def _base_files(path: str, mor: bool):
    """Yield (partition_rel, fileId, instant, abs_path) for every base
    parquet file; raise on MOR log fragments in a COW table."""
    for cur, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != ".hoodie"]
        rel = os.path.relpath(cur, path)
        rel = "" if rel == "." else rel
        for n in files:
            if ".log." in n:
                if not mor:
                    raise HudiUnsupportedError(
                        f"log file {n} under a COPY_ON_WRITE table"
                    )
                continue
            ext = next(
                (e for e in (".parquet", ".hfile") if n.endswith(e)), None
            )
            if ext is None or n.startswith("."):
                continue
            parts = n[: -len(ext)].split("_")
            if len(parts) != 3:
                continue  # not a hudi base file (e.g. stray parquet)
            file_id, _token, instant = parts
            yield rel, file_id, instant, os.path.join(cur, n)


def _log_files(path: str):
    """Yield (partition_rel, fileId, baseInstant, version, abs_path)
    for every MOR log file, discovered from the hidden-file naming
    ``.{fileId}_{baseInstant}.log.{version}_{writeToken}``."""
    for cur, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != ".hoodie"]
        rel = os.path.relpath(cur, path)
        rel = "" if rel == "." else rel
        for n in files:
            if not (n.startswith(".") and ".log." in n):
                continue
            if n.endswith("-cdc"):
                # CDC supplemental log files (HoodieCDCUtils
                # CDC_LOGFILE_SUFFIX): change images, NOT data deltas —
                # the snapshot merge must skip them (read_hudi_cdc
                # consumes them instead)
                continue
            left, _, right = n[1:].partition(".log.")
            if "_" not in left:
                continue
            file_id, base_instant = left.rsplit("_", 1)
            version = right.split("_", 1)[0]
            if not version.isdigit():
                continue
            yield rel, file_id, base_instant, int(version), os.path.join(cur, n)


def _cdc_files(path: str):
    """Yield (partition_rel, abs_path) for every ``-cdc``-suffixed
    supplemental log file (RFC-51 change-data-capture: written next to
    the regular log/base files when ``hoodie.table.cdc.enabled=true``,
    referenced by the commit metadata's cdc write stats)."""
    for cur, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != ".hoodie"]
        rel = os.path.relpath(cur, path)
        rel = "" if rel == "." else rel
        for n in files:
            if n.startswith(".") and ".log." in n and n.endswith("-cdc"):
                yield rel, os.path.join(cur, n)


def _hfile_base_frame(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Base files in HFILE format — the METADATA TABLE file-group shape
    (``.hoodie/metadata``; Hudi's HoodieAvroHFileWriter): row key =
    record key, cell value = an Avro datum of the writer schema the
    file carries in its ``schema`` file-info entry.  Decode runs INSIDE
    executor tasks (hfile_lite + avro_lite are picklable pure Python);
    the driver opens one file only to learn the schema."""
    from .avro_lite import decode_datum
    from .hfile_lite import read_hfile

    with open(paths[0], "rb") as fh:
        _cells, info, _trailer = read_hfile(fh.read())
    schema_json = info.get(b"schema")
    if schema_json is None:
        raise HudiUnsupportedError(
            "hfile base file carries no 'schema' file-info entry "
            f"({paths[0]})"
        )
    avro_schema = json.loads(schema_json.decode())
    out_schema = _avro_to_spark(avro_schema)
    names = [f.name for f in out_schema.fields]
    # virtual-key tables (the metadata table): the HFile ROW KEY is the
    # record key and the payload schema has no meta columns — surface it
    # as _hoodie_record_key so the MOR merge path works end-to-end;
    # _drop_meta removes it from user-facing output (r11 review fix)
    synth_key = "_hoodie_record_key" not in names
    if synth_key:
        out_schema = T.StructType(
            list(out_schema.fields)
            + [T.StructField("_hoodie_record_key", T.StringType(), True)]
        )

    def parse(p):
        from .hfile_lite import read_hfile_kv

        with open(p, "rb") as fh:
            kvs = read_hfile_kv(fh.read())
        for k, v in kvs:
            rec = decode_datum(avro_schema, v)
            row = tuple(rec.get(n) for n in names)
            yield row + (k.decode(),) if synth_key else row

    rdd = spark.sparkContext.parallelize(
        sorted(paths), max(1, len(paths))
    ).flatMap(parse)
    return spark.createDataFrame(rdd, out_schema)


def _base_frame(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Scan base files, branching parquet / HFILE per extension."""
    pq = sorted(p for p in paths if p.endswith(".parquet"))
    hf = sorted(p for p in paths if p.endswith(".hfile"))
    frames = []
    if pq:
        frames.append(spark.read.parquet(*pq))
    if hf:
        frames.append(_hfile_base_frame(spark, hf))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def read_hudi(
    spark: SparkSession,
    path: str,
    as_of: str | None = None,
    keep_meta: bool = False,
    min_instant: str | None = None,
) -> DataFrame:
    """The table's snapshot at ``as_of`` (an instant time string;
    default latest).  COW: one parquet scan over the chosen file
    slices.  MOR: the base scan merged with executor-decoded log
    deltas (module docstring).

    ``min_instant`` — file-group PRUNING floor for incremental reads: a
    COW group whose newest base instant is <= min_instant cannot hold
    rows committed after it and is skipped before any file is listed;
    MOR groups additionally survive when they carry log files (their
    deltas may postdate the base).  Pruning only — row-level filtering
    on ``_hoodie_commit_time`` is the caller's job (see
    :func:`read_hudi_incremental`)."""
    mor = _table_type(path) == "MERGE_ON_READ"
    instants = _completed_instants(path, mor=mor)
    if not instants:
        raise ValueError(f"hudi table has no completed commits: {path}")
    target = max(instants) if as_of is None else str(as_of)
    live = {t for t in instants if t <= target}
    if not live:
        raise ValueError(f"no hudi instant at or before {as_of}")
    dead_groups = _replaced_groups(path, instants, target)

    newest: dict[tuple[str, str], tuple[str, str]] = {}
    for part, fid, instant, abspath in _base_files(path, mor):
        if instant not in live:
            continue  # uncommitted, later than target, or rolled back
        if (part, fid) in dead_groups:
            continue
        cur = newest.get((part, fid))
        if cur is None or instant > cur[0]:
            newest[(part, fid)] = (instant, abspath)

    if not mor:
        if not newest:
            raise ValueError(f"no committed base files under {path}")
        if min_instant is not None:
            newest = {
                k: v for k, v in newest.items() if v[0] > str(min_instant)
            }
            if not newest:
                # nothing changed after the floor: empty frame with the
                # table schema (schema from any base file, zero rows)
                any_base = next(iter(_base_files(path, mor)))[3]
                df = _base_frame(spark, [any_base]).limit(0)
                return df if keep_meta else _drop_meta(df)
        df = _base_frame(spark, [p for _, p in newest.values()])
        return df if keep_meta else _drop_meta(df)

    # ----------------------------------------------------------- MOR
    # group log files into FILE SLICES: logs attach to the group's
    # chosen base instant; log-only groups (no base yet) attach to the
    # deltacommit that opened them
    slices: dict[tuple[str, str], list[tuple[int, str]]] = {}
    for part, fid, base_instant, version, abspath in _log_files(path):
        if base_instant not in live:
            continue
        key = (part, fid)
        cur = newest.get(key)
        if cur is not None and base_instant != cur[0]:
            continue  # pre-compaction slice, superseded by newer base
        if cur is None and (part, fid) in dead_groups:
            continue
        slices.setdefault(key, []).append((version, abspath))

    if min_instant is not None:
        # keep groups whose base postdates the floor OR that carry log
        # deltas (which may postdate it) — conservative pruning
        keep = {k for k, v in newest.items() if v[0] > str(min_instant)}
        keep |= set(slices)
        newest = {k: v for k, v in newest.items() if k in keep}

    if not newest and not slices:
        raise ValueError(f"no committed file slices under {path}")

    base = (
        _base_frame(spark, [p for _, p in newest.values()])
        if newest
        else None
    )
    if not slices:
        return base if keep_meta else _drop_meta(base)

    out_schema = base.schema if base is not None else None
    delta = _log_delta_frame(spark, slices, live, out_schema)
    merged = _merge_slices(base, delta)
    return merged if keep_meta else _drop_meta(merged)


def read_hudi_incremental(
    spark: SparkSession,
    path: str,
    from_instant: str,
    to_instant: str | None = None,
    keep_meta: bool = False,
) -> DataFrame:
    """Hudi INCREMENTAL QUERY — the rows written by commits in
    ``(from_instant, to_instant]``, the consumption pattern the
    reference's Flink-Hudi pipelines are built around (read only what
    changed since the last run's checkpoint instant): take the snapshot
    at ``to_instant`` (so deletes/updates resolve to their final state
    exactly like Hudi's own incremental view) and keep rows whose
    ``_hoodie_commit_time`` postdates the floor.

    Scale: ``min_instant`` pruning drops untouched file groups BEFORE
    any file is listed — an incremental pull against a lightly-updated
    100 TB table scans only the rewritten slices; the commit-time
    predicate then pushes into the parquet scan (column is physical in
    every Hudi-written base file).  Requires populated ``_hoodie_*``
    meta columns (real Hudi writers always populate them; this repo's
    metadata-only exports do not and raise here)."""
    df = read_hudi(
        spark, path, as_of=to_instant, keep_meta=True,
        min_instant=str(from_instant),
    )
    if "_hoodie_commit_time" not in df.columns:
        raise HudiUnsupportedError(
            "incremental query needs populated _hoodie_commit_time "
            "meta columns; this table's base files do not carry them"
        )
    out = df.where(F.col("_hoodie_commit_time") > str(from_instant))
    if to_instant is not None:
        out = out.where(F.col("_hoodie_commit_time") <= str(to_instant))
    return out if keep_meta else _drop_meta(out)


def shape_cdc_file(path, live, key_field=None, lo=None, hi=None):
    """Debezium-shaped rows (instant, op, record_key, before, after)
    from one ``-cdc`` log file — SHARED by the batch change feed
    (:func:`read_hudi_cdc`) and the streaming source
    (streaming/hudi_cdc_source.py), so the two can never diverge.
    Pure picklable Python: runs inside executor tasks.  Blocks whose
    instant is outside ``live`` (or the (lo, hi] window) are skipped
    WITHOUT decoding their content (``only_instants``), so tailing
    consumers pay O(new instants), not O(file history)."""
    import json as _json

    from . import hudi_log as hl

    want = {
        i
        for i in live
        if (lo is None or i > lo) and (hi is None or i <= hi)
    }

    def img(v):
        if v is None or isinstance(v, str):
            return v  # a string-image writer passes through
        return _json.dumps(v, sort_keys=True, separators=(",", ":"))

    with open(path, "rb") as fh:
        blocks = hl.read_log_blocks(fh.read(), only_instants=want)
    for b in blocks:
        if b.type != hl.CDC_DATA_BLOCK or b.records is None:
            continue
        instant = b.header.get(hl.INSTANT_TIME)
        if instant not in want:
            continue  # inflight/failed write, or outside window
        for rec in b.records:
            key = rec.get("record_key")
            if key is None and key_field:
                src = (
                    rec.get("before")
                    if rec.get("op") == "d"
                    else rec.get("after")
                )
                if isinstance(src, str):
                    src = _json.loads(src)
                if isinstance(src, dict) and src.get(key_field) is not None:
                    key = str(src[key_field])
            yield (
                instant,
                rec.get("op"),
                key,
                img(rec.get("before")),
                img(rec.get("after")),
            )


def read_hudi_cdc(
    spark: SparkSession,
    path: str,
    from_instant: str | None = None,
    to_instant: str | None = None,
    key_field: str | None = None,
) -> DataFrame:
    """Hudi CHANGE-DATA-CAPTURE query (RFC-51) over the supplemental
    ``-cdc`` log files a ``hoodie.table.cdc.enabled=true`` writer
    persists: one row per change with Debezium-style shape —
    ``commit_time``, ``op`` (i/u/d), ``record_key`` (when the logging
    mode carries it), ``before``/``after`` images as canonical JSON
    strings (Hudi's own Spark CDC relation surfaces the images as JSON
    strings too).  ``(from_instant, to_instant]`` bounds the pull the
    same way the incremental query does.  ``key_field`` names an image
    field to derive ``record_key`` from when the logging mode doesn't
    persist one (data_before_after has no record_key column — without a
    key the feed can't drive a keyed apply): deletes take it from the
    before image, writes from the after image.

    Scale: CDC block payloads decode INSIDE executor tasks (one per cdc
    file — the same parallelism read_hudi uses for log merges); the
    driver only lists file names and the completed timeline.  Image
    JSON keeps the frame atomic (no struct columns), so downstream
    ``get_json_object`` projections stay JVM-side."""
    import json as _json

    from . import hudi_log as hl

    mor = _table_type(path) == "MERGE_ON_READ"
    live = frozenset(_completed_instants(path, mor=mor))
    plans = sorted(p for _rel, p in _cdc_files(path))
    lo = str(from_instant) if from_instant is not None else None
    hi = str(to_instant) if to_instant is not None else None

    schema = T.StructType(
        [
            T.StructField("commit_time", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("record_key", T.StringType(), True),
            T.StructField("before", T.StringType(), True),
            T.StructField("after", T.StringType(), True),
        ]
    )

    def parse(p):
        yield from shape_cdc_file(p, live, key_field, lo=lo, hi=hi)

    if not plans:
        return spark.createDataFrame([], schema)
    rdd = spark.sparkContext.parallelize(plans, len(plans)).flatMap(parse)
    return spark.createDataFrame(rdd, schema)


def _drop_meta(df: DataFrame) -> DataFrame:
    return df.drop(*[c for c in df.columns if c.startswith("_hoodie_")])


_KEY, _PART, _SEQ, _DEL = (
    "__hudi_key",
    "__hudi_part",
    "__hudi_seq",
    "__hudi_del",
)


def _avro_to_spark(avro_schema: dict) -> T.StructType:
    """Minimal Avro→Spark schema mapping for log-only groups (no base
    parquet to borrow a schema from)."""
    prim = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "bytes": T.BinaryType(),
    }

    def conv(s):
        if isinstance(s, list):  # union: first non-null branch
            branches = [b for b in s if b != "null"]
            if len(branches) != 1:
                raise HudiUnsupportedError(f"avro union {s} in log schema")
            return conv(branches[0])
        t = s if isinstance(s, str) else s.get("type")
        if t in prim:
            return prim[t]
        # complex types (r11: the metadata-table payload schema —
        # HoodieMetadataRecord nests maps of records)
        if t == "record":
            return T.StructType(
                [
                    T.StructField(f["name"], conv(f["type"]), True)
                    for f in s["fields"]
                ]
            )
        if t == "map":
            return T.MapType(T.StringType(), conv(s["values"]), True)
        if t == "array":
            return T.ArrayType(conv(s["items"]), True)
        raise HudiUnsupportedError(f"avro type {t!r} in log schema")

    return T.StructType(
        [
            T.StructField(f["name"], conv(f["type"]), True)
            for f in avro_schema["fields"]
        ]
    )


def _log_delta_frame(
    spark: SparkSession,
    slices: dict[tuple[str, str], list[tuple[int, str]]],
    live: set[str],
    out_schema: T.StructType | None,
) -> DataFrame:
    """Decode every file slice's log blocks INSIDE executor tasks (one
    task per file group — Hudi's own reader parallelism) and return a
    typed changelog frame: data columns + (key, partition, seq, del).

    RDD flatMap is deliberate here: the payload is a bespoke framed
    binary format no DataFrame source reads, and the decode closure
    (``hudi_log.read_log_blocks``) is pure stdlib and picklable."""
    from . import hudi_log as hl

    plans = [
        (part, sorted(paths))
        for (part, _fid), paths in sorted(slices.items())
    ]
    live_f = frozenset(live)

    if out_schema is None:
        # no base file anywhere: borrow the writer schema from the
        # first data block (driver-side peek at ONE log file)
        first_path = plans[0][1][0][1]
        with open(first_path, "rb") as fh:
            blocks = hl.read_log_blocks(fh.read())
        data_blocks = [
            b
            for b in blocks
            if b.type in (hl.AVRO_DATA_BLOCK, hl.PARQUET_DATA_BLOCK,
                          hl.HFILE_DATA_BLOCK)
        ]
        if not data_blocks:
            raise ValueError("log-only hudi group with no data block")
        out_schema = _avro_to_spark(
            json.loads(data_blocks[0].header[hl.SCHEMA])
        )

    data_fields = [f for f in out_schema.fields]
    data_names = [f.name for f in data_fields]
    full = T.StructType(
        data_fields
        + [
            T.StructField(_KEY, T.StringType(), True),
            T.StructField(_PART, T.StringType(), True),
            T.StructField(_SEQ, T.LongType(), False),
            T.StructField(_DEL, T.BooleanType(), False),
        ]
    )

    def parse(plan):
        part, paths = plan
        events: list[tuple[str, str, int, bool, dict | None]] = []
        seq = 0
        for _version, p in paths:
            with open(p, "rb") as fh:
                blocks = hl.read_log_blocks(fh.read())
            for b in blocks:
                instant = b.header.get(hl.INSTANT_TIME)
                if b.type == hl.COMMAND_BLOCK:
                    tgt = b.header.get(hl.TARGET_INSTANT_TIME)
                    # rollback: drop already-scanned events of the
                    # target instant (Hudi reader command semantics)
                    events = [e for e in events if e[0] != tgt]
                    continue
                if instant not in live_f:
                    continue  # inflight/failed delta, invisible
                if b.type in (hl.AVRO_DATA_BLOCK, hl.PARQUET_DATA_BLOCK,
                              hl.HFILE_DATA_BLOCK):
                    for rec in b.records:
                        key = rec.get("_hoodie_record_key")
                        if key is None:
                            raise HudiUnsupportedError(
                                "log record without populated "
                                "_hoodie_record_key (virtual keys)"
                            )
                        events.append((instant, key, seq, False, rec))
                        seq += 1
                elif b.type == hl.DELETE_BLOCK:
                    for rk, _pp in b.records:
                        events.append((instant, rk, seq, True, None))
                        seq += 1
        for _instant, key, s, is_del, rec in events:
            row = tuple(
                (rec.get(n) if rec is not None else None)
                for n in data_names
            )
            yield row + (key, part, s, is_del)

    n_tasks = max(1, len(plans))
    rdd = spark.sparkContext.parallelize(plans, n_tasks).flatMap(parse)
    return spark.createDataFrame(rdd, full)


def _merge_slices(base: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Latest-event-wins merge of base rows (seq = -1) with the log
    changelog, keyed by (partition path, record key).  Only base rows
    whose key actually appears in the delta take the merge window; the
    untouched majority streams through the anti-join unchanged."""
    from pyspark.sql import Window

    out_cols = (
        base.columns
        if base is not None
        else [c for c in delta.columns if c not in (_KEY, _PART, _SEQ, _DEL)]
    )

    if base is not None:
        if "_hoodie_record_key" not in base.columns:
            raise HudiUnsupportedError(
                "MOR merge needs populated _hoodie_record_key meta "
                "columns in base files (virtual-key tables unsupported)"
            )
        keyed = base.withColumn(_KEY, F.col("_hoodie_record_key"))
        # hfile bases synthesize _hoodie_record_key from row keys but
        # carry no partition meta column (virtual-key metadata tables
        # are unpartitioned within a file group) — key on "" like the
        # log side does for such records
        keyed = keyed.withColumn(
            _PART,
            F.coalesce(F.col("_hoodie_partition_path"), F.lit(""))
            if "_hoodie_partition_path" in base.columns
            else F.lit(""),
        )
        delta_keys = delta.select(_KEY, _PART).distinct()
        untouched = keyed.join(
            F.broadcast(delta_keys), [_KEY, _PART], "left_anti"
        ).select(*out_cols)
        contested = keyed.join(
            F.broadcast(delta_keys), [_KEY, _PART], "left_semi"
        )
        contested = contested.select(
            *[
                F.col(c) if c in contested.columns else F.lit(None).alias(c)
                for c in out_cols
            ],
            F.col(_KEY),
            F.col(_PART),
            F.lit(-1).cast("long").alias(_SEQ),
            F.lit(False).alias(_DEL),
        )
        aligned_delta = delta.select(
            *[
                F.col(c) if c in delta.columns else F.lit(None).alias(c)
                for c in out_cols
            ],
            _KEY,
            _PART,
            _SEQ,
            _DEL,
        )
        pool = contested.unionByName(aligned_delta)
    else:
        untouched = None
        pool = delta

    w = Window.partitionBy(_KEY, _PART).orderBy(F.col(_SEQ).desc())
    latest = (
        pool.withColumn("__hudi_rn", F.row_number().over(w))
        .where(F.col("__hudi_rn") == 1)
        .where(~F.col(_DEL))
        .select(*out_cols)
    )
    return latest if untouched is None else untouched.unionByName(latest)


# ---------------------------------------------------------------- export
def export_snapshot_to_hudi(
    table, dest: str | None = None, materialize: bool = False
) -> dict:
    """Expose a snapshot table's CURRENT version as a Hudi
    COPY_ON_WRITE table at ``dest`` (default ``<root>/_hudi_export``) —
    completing the export triangle next to ``export_snapshot_to_delta``
    / ``export_snapshot_to_iceberg`` (the reference's Flink samples
    write Hudi: ``test/sample_etl.flink.hudi-agg.sql``).

    Hudi has no manifest indirection — the LAYOUT is the metadata
    (``.hoodie`` timeline + ``{fileId}_{token}_{instant}.parquet``
    base-file names), so:

    - UNPARTITIONED snapshots export zero-copy: every live parquet
      HARDLINKS (copy fallback cross-device) to a base-file name whose
      fileId is derived from the source path, and re-export after new
      snapshot commits is INCREMENTAL — unchanged files keep their
      fileId/instant, new files link at a fresh instant, dead fileIds
      are killed via a ``replacecommit`` — so ``read_hudi(as_of=…)``
      time-travels across exports.
    - PARTITIONED snapshots store hive-layout files that LACK the
      partition column; Hudi base files must carry every column
      physically (no metadata-constant mechanism exists), so the
      export requires ``materialize=True``: one distributed job
      rewrites the current state with partition columns embedded
      (partition dirs via duplicated write-columns, renamed back),
      and each such export fully replaces the previous one.
    - snapshots with live DELETION VECTORS also export under
      ``materialize=True``: the rewrite reads through the snapshot's
      DV-applying path, so deleted rows never reach the export (COW
      base files cannot carry positional deletes, and without a record
      key there is no key-based translation — the honest alternative
      to silently resurrecting rows).

    Compatibility scope (stated, not implied): the export carries no
    ``_hoodie_*`` meta columns and no metadata table — readable by
    timeline-replaying readers (this repo's ``read_hudi``, Trino's
    hudi connector tolerates absent meta fields); Hudi's own Spark
    datasource wants the meta columns and should use the Delta/Iceberg
    exports instead.

    Returns {"instant", "adds", "removes", "snapshot_version", "dest"}.
    """
    import hashlib
    import shutil
    import time as _time

    root = table.root
    dest = dest or os.path.join(root, "_hudi_export")
    snap_v = table.latest_version()
    if not snap_v:
        raise ValueError(f"no committed versions at {root}")
    m = table.manifest(snap_v)
    if m.get("dvs") and not materialize:
        raise ValueError(
            "snapshot has live deletion vectors; the ZERO-COPY export "
            "would resurrect deleted rows (hudi COW base files cannot "
            "carry positional deletes, and without a record key there "
            "is no key-based translation) — pass materialize=True (one "
            "distributed rewrite that reads through the DV-applying "
            "path), run compact() first, or use the Delta/Iceberg "
            "exports (both carry DVs natively)"
        )
    part_cols = m["partition_cols"]
    if part_cols and not materialize:
        raise ValueError(
            "partitioned snapshot: hudi base files must physically "
            "carry the partition columns (hive-layout snapshot files "
            "do not) — pass materialize=True to rewrite, or use the "
            "zero-copy Delta/Iceberg exports"
        )

    td = _timeline_dir(dest)
    os.makedirs(td, exist_ok=True)
    props = os.path.join(td, "hoodie.properties")
    if not os.path.exists(props):
        with open(props, "w", encoding="utf-8") as f:
            f.write(
                "hoodie.table.name="
                + os.path.basename(root.rstrip("/"))
                + "\nhoodie.table.type=COPY_ON_WRITE\n"
                "hoodie.table.version=6\n"
                "hoodie.timeline.layout.version=1\n"
                "hoodie.datasource.write.hive_style_partitioning=true\n"
                + (
                    "hoodie.table.partition.fields="
                    + ",".join(part_cols) + "\n"
                    if part_cols
                    else ""
                )
            )

    # monotonic digit instant (hudi convention: yyyyMMddHHmmssSSS)
    prior = _completed_instants(dest) if os.listdir(td) else {}
    prior = {t: a for t, a in prior.items()}
    now_instant = _time.strftime("%Y%m%d%H%M%S") + "000"
    instant = max(
        now_instant, str(int(max(prior)) + 1) if prior else now_instant
    )

    # previously exported live groups: {fileId: partition_rel}
    exported: dict[str, str] = {}
    if prior:
        dead = _replaced_groups(dest, prior, max(prior))
        for part, fid, inst, _p in _base_files(dest, mor=False):
            if inst in prior and (part, fid) not in dead:
                exported[fid] = part

    def fid_of(rel: str) -> str:
        return hashlib.md5(rel.encode()).hexdigest()

    token = "0-0-0"
    adds: dict[str, list[str]] = {}
    current_fids: dict[str, str] = {}

    if not part_cols and not materialize:
        for d, name, path, _size, _pv in table.live_files(m):
            fid = fid_of(f"{d}/{name}")
            current_fids[fid] = ""
            if fid in exported:
                continue  # unchanged file keeps its slice
            link = os.path.join(dest, f"{fid}_{token}_{instant}.parquet")
            try:
                os.link(path, link)
            except OSError:
                shutil.copy2(path, link)
            adds.setdefault("", []).append(fid)
        removes = {
            part: [f for f in (fid for fid, p in exported.items() if p == part)
                   if f not in current_fids]
            for part in {p for p in exported.values()}
        }
        removes = {p: fs for p, fs in removes.items() if fs}
    else:
        # materialized full replace: one job writes the current state
        # with partition columns embedded (duplicated write-columns so
        # the data files keep the logical columns), then files rename
        # to hudi base-file convention
        from pyspark.sql import functions as F

        df = table.read()
        dup = [f"__hudi_pt_{c}" for c in part_cols]
        staging = os.path.join(dest, "_stage")
        shutil.rmtree(staging, ignore_errors=True)
        w = df
        for c, dc in zip(part_cols, dup):
            w = w.withColumn(dc, F.col(c))
        w.write.partitionBy(*dup).mode("overwrite").parquet(staging)
        for cur, dirs, files in os.walk(staging, topdown=False):
            for n in files:
                if not n.endswith(".parquet") or n.startswith("."):
                    continue
                rel_dir = os.path.relpath(cur, staging)
                segs = [] if rel_dir == "." else rel_dir.split(os.sep)
                logical = [
                    s.split("=", 1)[0][len("__hudi_pt_"):] + "=" + s.split("=", 1)[1]
                    for s in segs
                ]
                part_rel = "/".join(logical)
                out_dir = os.path.join(dest, *logical) if logical else dest
                os.makedirs(out_dir, exist_ok=True)
                fid = fid_of(f"{part_rel}/{n}")
                current_fids[fid] = part_rel
                os.replace(
                    os.path.join(cur, n),
                    os.path.join(out_dir, f"{fid}_{token}_{instant}.parquet"),
                )
                adds.setdefault(part_rel, []).append(fid)
        shutil.rmtree(staging, ignore_errors=True)
        removes = {}
        for fid, part in exported.items():
            if fid not in current_fids:
                removes.setdefault(part, []).append(fid)

    commit_meta = {
        "partitionToWriteStats": {
            p: [{"fileId": f} for f in sorted(fs)] for p, fs in adds.items()
        },
        "operation": "snapshot_export",
        "extraMetadata": {"snapshotVersion": str(snap_v)},
    }
    if removes:
        commit_meta["partitionToReplaceFileIds"] = {
            p: sorted(fs) for p, fs in removes.items()
        }
        fname = f"{instant}.replacecommit"
    else:
        fname = f"{instant}.commit"
    with open(os.path.join(td, fname), "w", encoding="utf-8") as f:
        json.dump(commit_meta, f)
    return {
        "instant": instant,
        "adds": sum(len(v) for v in adds.values()),
        "removes": sum(len(v) for v in removes.values()),
        "snapshot_version": snap_v,
        "dest": dest,
    }


def _spark_to_avro(schema: T.StructType, name: str = "hudi_mor_export") -> dict:
    """Minimal Spark→Avro record mapping for log data blocks — the exact
    inverse of :func:`_avro_to_spark` (every field a nullable union of
    one primitive branch, which is what Hudi's writer emits too)."""
    prim = {
        T.BooleanType(): "boolean",
        T.IntegerType(): "int",
        T.LongType(): "long",
        T.FloatType(): "float",
        T.DoubleType(): "double",
        T.StringType(): "string",
        T.BinaryType(): "bytes",
    }
    fields = []
    for f in schema.fields:
        a = prim.get(f.dataType)
        if a is None:
            raise HudiUnsupportedError(
                f"column {f.name!r}: spark type {f.dataType.simpleString()} "
                "has no avro log-block mapping (MOR export scope: "
                "boolean/int/long/float/double/string/binary)"
            )
        fields.append({"name": f.name, "type": ["null", a]})
    return {"type": "record", "name": name, "fields": fields}


def _mor_bucket(key_col: str, n_buckets: int) -> F.Column:
    """Deterministic md5 bucket of the record key — Hudi's BUCKET index
    idea (fileId derivable from the key alone), which is what lets an
    incremental export route updates/deletes to the right file group
    WITHOUT reading any base file."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint"),
        F.lit(n_buckets),
    )


def _read_mor_props(dest: str) -> dict[str, str]:
    """Parse ``hoodie.properties`` written by the first MOR export.

    The bucket count and record-key column are part of the TABLE, not the
    call: every log file's fileId is a pure function of
    ``md5(key) % n_buckets``, so an incremental export that used a
    different n_buckets/key_col than the base files would route
    delete/data blocks into the wrong file groups — spec-compliant Hudi
    readers merge per file slice and would return wrong rows (the in-repo
    ``read_hudi`` merges per key globally, which masked it)."""
    props: dict[str, str] = {}
    path = os.path.join(_timeline_dir(dest), "hoodie.properties")
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line and "=" in line and not line.startswith("#"):
                k, _, v = line.partition("=")
                props[k] = v
    return props


def export_snapshot_to_hudi_mor(
    table,
    dest: str | None = None,
    key_col: str | None = None,
    n_buckets: int | None = None,
) -> dict:
    """Expose a snapshot table as a Hudi MERGE_ON_READ table at ``dest``
    (default ``<root>/_hudi_mor_export``) — the streaming-write Hudi
    shape the reference's Flink samples target
    (test/sample_etl.flink.hudi-agg.sql upserts MOR), completing the
    export matrix: Delta, Iceberg, Hudi COW (``export_snapshot_to_hudi``)
    and now Hudi MOR.

    First export: ONE distributed job rewrites the current state into
    ``n_buckets`` base files carrying populated ``_hoodie_record_key`` /
    ``_hoodie_partition_path`` / ``_hoodie_commit_time`` meta columns
    (MOR merge requires real keys — zero-copy hardlinking is COW-only by
    construction), rows routed by md5 key bucket (Hudi's BUCKET index:
    the fileId is a pure function of the key).

    Re-export after further snapshot commits is INCREMENTAL and writes
    NO base file: the snapshot change feed (``table.changes``) between
    the last exported version and the current one becomes one hidden
    log file per affected file group — a DELETE_BLOCK for dropped keys
    followed by an AVRO_DATA_BLOCK for upserts, framed executor-side
    (``hudi_log.write_*``, pure stdlib, one task per bucket; the driver
    sees only bucket ids).  ``read_hudi`` (and Hudi's own MOR snapshot
    readers) then merge per key: later seq wins, exactly
    OverwriteWithLatestAvroPayload.

    Scope (stated): unpartitioned snapshots; primitive column types
    (see ``_spark_to_avro``); live DVs must be compacted first; no
    compaction scheduling (readers merge logs until one is run
    elsewhere).  ``key_col`` must be UNIQUE in the snapshot — Hudi's
    record-key precondition: a duplicate key would collapse to one row
    under the reader's per-key merge (use the COW export for keyless
    tables).  Returns {"instant", "mode", "base_files"|"log_files",
    "snapshot_version", "dest"}.
    """
    import time as _time

    from pyspark.sql.types import StructType

    from . import hudi_log as hl

    root = table.root
    dest = dest or os.path.join(root, "_hudi_mor_export")
    snap_v = table.latest_version()
    if not snap_v:
        raise ValueError(f"no committed versions at {root}")
    m = table.manifest(snap_v)
    if m.get("dvs"):
        raise ValueError(
            "snapshot has live deletion vectors; exporting would "
            "resurrect deleted rows — run compact() first"
        )
    if m["partition_cols"]:
        raise HudiUnsupportedError(
            "MOR export is unpartitioned-scope v1 — partitioned "
            "snapshots use the COW export with materialize=True, or "
            "the Delta/Iceberg exports"
        )
    schema = StructType.fromJson(json.loads(m["schema"]))

    td = _timeline_dir(dest)
    os.makedirs(td, exist_ok=True)
    prior = _completed_instants(dest, mor=True) if os.listdir(td) else {}

    if prior:
        # bucket routing config is persisted table state (hoodie.properties,
        # first export) — re-exports MUST use it; an explicit argument that
        # disagrees is a hard error, never a silent re-route
        props = _read_mor_props(dest)
        stored_key = props.get("hoodie.table.recordkey.fields")
        stored_buckets = props.get("hoodie.bucket.index.num.buckets")
        if stored_key is None or stored_buckets is None:
            raise ValueError(
                f"{dest}: hoodie.properties lacks recordkey/bucket config — "
                "not a table written by export_snapshot_to_hudi_mor"
            )
        if key_col is not None and key_col != stored_key:
            raise ValueError(
                f"key_col={key_col!r} conflicts with the table's persisted "
                f"record key {stored_key!r} (hoodie.properties); log blocks "
                "would be routed into the wrong file groups"
            )
        if n_buckets is not None and n_buckets != int(stored_buckets):
            raise ValueError(
                f"n_buckets={n_buckets} conflicts with the table's persisted "
                f"bucket count {stored_buckets} (hoodie.properties); log "
                "blocks would be routed into the wrong file groups"
            )
        key_col, n_buckets = stored_key, int(stored_buckets)
    else:
        key_col = key_col or schema.fields[0].name
        n_buckets = n_buckets or 4
    if key_col not in schema.fieldNames():
        raise ValueError(f"key column {key_col!r} not in snapshot schema")
    now_instant = _time.strftime("%Y%m%d%H%M%S") + "000"
    instant = max(
        now_instant, str(int(max(prior)) + 1) if prior else now_instant
    )
    spark = table.spark

    if not prior:
        # ------------------------------------------------- first export
        props = os.path.join(td, "hoodie.properties")
        with open(props, "w", encoding="utf-8") as f:
            f.write(
                "hoodie.table.name="
                + os.path.basename(root.rstrip("/"))
                + "\nhoodie.table.type=MERGE_ON_READ\n"
                "hoodie.table.version=6\n"
                "hoodie.timeline.layout.version=1\n"
                f"hoodie.index.type=BUCKET\n"
                f"hoodie.bucket.index.num.buckets={n_buckets}\n"
                f"hoodie.table.recordkey.fields={key_col}\n"
            )
        staging = os.path.join(dest, "_stage")
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        (
            table.read()
            .withColumn(
                "_hoodie_record_key", F.col(key_col).cast("string")
            )
            .withColumn("_hoodie_partition_path", F.lit(""))
            .withColumn("_hoodie_commit_time", F.lit(instant))
            .withColumn("__b", _mor_bucket(key_col, n_buckets))
            .repartition(n_buckets, "__b")
            .write.partitionBy("__b")
            .mode("overwrite")
            .parquet(staging)
        )
        fids: list[str] = []
        for b in range(n_buckets):
            bdir = os.path.join(staging, f"__b={b}")
            if not os.path.isdir(bdir):
                continue  # empty bucket at this corpus size
            files = [
                n
                for n in os.listdir(bdir)
                if n.endswith(".parquet") and not n.startswith(".")
            ]
            if len(files) != 1:
                # repartition(n_buckets, "__b") + partitionBy guarantees one
                # part file per bucket dir; anything else (task-retry
                # leftovers, a future partitioning change) would silently
                # drop rows if we moved only files[0]
                raise RuntimeError(
                    f"MOR base staging wrote {len(files)} part files in "
                    f"{bdir} (expected exactly 1); refusing to export a "
                    "partial base file"
                )
            fid = f"mor-{b:05d}"
            fids.append(fid)
            os.replace(
                os.path.join(bdir, files[0]),
                os.path.join(dest, f"{fid}_0-0-0_{instant}.parquet"),
            )
        shutil.rmtree(staging, ignore_errors=True)
        meta = {
            "partitionToWriteStats": {
                "": [{"fileId": f} for f in sorted(fids)]
            },
            "operation": "mor_export_base",
            "extraMetadata": {"snapshotVersion": str(snap_v)},
        }
        with open(
            os.path.join(td, f"{instant}.deltacommit"), "w", encoding="utf-8"
        ) as f:
            json.dump(meta, f)
        return {
            "instant": instant,
            "mode": "base",
            "base_files": len(fids),
            "snapshot_version": snap_v,
            "dest": dest,
        }

    # --------------------------------------------------- incremental
    last_instant = max(prior)
    with open(
        os.path.join(td, f"{last_instant}.{prior[last_instant]}"),
        encoding="utf-8",
    ) as f:
        last_meta = json.load(f)
    last_v = int(last_meta["extraMetadata"]["snapshotVersion"])
    if last_v >= snap_v:
        return {
            "instant": last_instant,
            "mode": "noop",
            "snapshot_version": last_v,
            "dest": dest,
        }

    # per-fileId base instant (slice anchor) and next log version
    base_instant: dict[str, str] = {}
    for _part, fid, inst, _p in _base_files(dest, mor=True):
        cur = base_instant.get(fid)
        if cur is None or inst > cur:
            base_instant[fid] = inst
    next_ver: dict[str, int] = {}
    for _part, fid, _bi, version, _p in _log_files(dest):
        next_ver[fid] = max(next_ver.get(fid, 0), version)

    avro_schema = _spark_to_avro(schema)
    avro_schema["fields"].append(
        {"name": "_hoodie_record_key", "type": ["null", "string"]}
    )
    data_names = [f.name for f in schema.fields]
    first_export_instant = min(prior)

    ch = (
        table.changes(last_v, snap_v)
        .withColumn("__key", F.col(key_col).cast("string"))
        .withColumn("__b", _mor_bucket(key_col, n_buckets))
    )

    def write_bucket(bidx: int, rows):
        dels, ups = [], []
        for r in rows:
            if r["_change_type"] == "delete":
                dels.append((r["__key"], ""))
            else:
                rec = {n: r[n] for n in data_names}
                rec["_hoodie_record_key"] = r["__key"]
                ups.append(rec)
        if not dels and not ups:
            return iter(())
        payload = b""
        if dels:
            payload += hl.write_delete_block(sorted(dels), instant)
        if ups:
            ups.sort(key=lambda rec: rec["_hoodie_record_key"])
            payload += hl.write_data_block(avro_schema, ups, instant)
        fid = f"mor-{bidx:05d}"
        anchor = base_instant.get(fid, first_export_instant)
        ver = next_ver.get(fid, 0) + 1
        final = os.path.join(
            dest, f".{fid}_{anchor}.log.{ver}_0-0-0"
        )
        tmp = final + f".inprogress.{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, final)
        return iter((bidx,))

    written = (
        ch.rdd.map(lambda r: (int(r["__b"]), r))
        .partitionBy(n_buckets, lambda b: b)
        .values()
        .mapPartitionsWithIndex(write_bucket)
        .collect()  # bucket ids only — bounded by n_buckets
    )
    meta = {
        "partitionToWriteStats": {
            "": [{"fileId": f"mor-{b:05d}"} for b in sorted(written)]
        },
        "operation": "mor_export_delta",
        "extraMetadata": {"snapshotVersion": str(snap_v)},
    }
    with open(
        os.path.join(td, f"{instant}.deltacommit"), "w", encoding="utf-8"
    ) as f:
        json.dump(meta, f)
    return {
        "instant": instant,
        "mode": "delta",
        "log_files": len(written),
        "snapshot_version": snap_v,
        "dest": dest,
    }
