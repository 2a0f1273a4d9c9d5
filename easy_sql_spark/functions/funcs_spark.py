"""Spark-runtime control functions: parallelism, caching, column exprs,
model scoring (reference funcs_spark.py:38-166, funcs_common.py:24-48)."""

from __future__ import annotations

MIN_SHUFFLE_PARTITIONS = 1
MAX_SHUFFLE_PARTITIONS = 2000


def build(processor):
    spark = processor.spark
    backend = processor.backend

    def repartition(table: str, n: str):
        df = spark.table(table).repartition(int(n))
        backend.create_temp_view(df, table)

    def repartition_by_column(table: str, *cols):
        df = spark.table(table).repartition(*cols)
        backend.create_temp_view(df, table)

    def coalesce(table: str, n: str):
        df = spark.table(table).coalesce(int(n))
        backend.create_temp_view(df, table)

    def set_shuffle_partitions(n: str):
        """Pins shuffle parallelism.  Unlike the reference (which disables
        AQE first, funcs_spark.py:59-61) we keep AQE on — with
        coalescePartitions AQE treats this as the upper bound, which is the
        scale-correct behavior."""
        n_int = max(MIN_SHUFFLE_PARTITIONS, min(int(n), MAX_SHUFFLE_PARTITIONS))
        spark.conf.set("spark.sql.shuffle.partitions", str(n_int))

    def unpersist(table: str):
        try:
            spark.catalog.uncacheTable(table)
        except Exception:
            pass

    def _cols(table: str) -> list[str]:
        return spark.sql(f"select * from {table} limit 0").columns

    def all_cols_without_one_expr(table: str, excluded: str) -> str:
        return ", ".join(
            f"{table}.`{c}`" for c in _cols(table) if c != excluded
        )

    def all_cols_with_exclusion_expr(table: str, *excluded) -> str:
        ex = set(excluded)
        return ", ".join(f"{table}.`{c}`" for c in _cols(table) if c not in ex)

    def all_cols_prefixed_with_exclusion_expr(
        table: str, prefix: str, *excluded
    ) -> str:
        ex = set(excluded)
        return ", ".join(
            f"{table}.`{c}` as `{prefix}{c}`"
            for c in _cols(table)
            if c not in ex
        )

    def model_predict(model_path: str, table: str, output_view: str):
        """Batch-score a saved Spark ML PipelineModel (reference
        funcs_spark.py:138-158): int feature columns cast to double first."""
        from pyspark.ml import PipelineModel
        from pyspark.sql import functions as F

        df = spark.table(table)
        for f in df.schema.fields:
            if f.dataType.simpleString() in ("int", "bigint", "smallint"):
                df = df.withColumn(f.name, F.col(f.name).cast("double"))
        model = PipelineModel.load(model_path)
        backend.create_temp_view(model.transform(df), output_view)

    def sleep(seconds: str):
        import time

        time.sleep(float(seconds))

    def call_java(class_name: str, method: str, *args):
        jvm = spark.sparkContext._jvm
        obj = jvm
        for part in class_name.split("."):
            obj = getattr(obj, part)
        return getattr(obj, method)(*args)

    def set_config(key: str, value: str):
        """Set a runtime SQL config (reference funcs_flink.py:33-34
        ``SetConfigFuncs.set_config``, re-expressed on spark.conf)."""
        spark.conf.set(key, value)

    def set_parallelism(partitions: str):
        """Reference funcs_flink.py:41-46 sets Flink's default parallelism;
        the Spark analog of that knob is shuffle partition count.  Kept as a
        distinct name (with the reference's int validation + error wording)
        so reference ETL files run unmodified."""
        try:
            int(partitions)
        except ValueError:
            raise ValueError(
                f"partitions must be an int when repartition a table, "
                f"got `{partitions}`"
            )
        set_shuffle_partitions(partitions)

    def _jdbc_conn_info(connector: str) -> tuple[str, str, str]:
        """A connector is either a literal ``jdbc:`` URL or the name of a
        variable group ``<connector>_url`` / ``_user`` / ``_password``
        (our replacement for the reference's Flink catalog YAML)."""
        if connector.startswith("jdbc:"):
            return connector, "", ""
        v = processor.vars_context
        url = v.get_var(f"{connector}_url")
        if not url:
            raise ValueError(
                f"connector {connector!r}: set variable `{connector}_url` "
                f"to a jdbc: URL (plus optional `{connector}_user`/"
                f"`{connector}_password`)"
            )
        return url, v.get_var(f"{connector}_user", ""), v.get_var(
            f"{connector}_password", ""
        )

    def exec_sql_in_source(step, db: str, connector: str):
        """Execute the step body's statements directly in a source RDB over
        JDBC (reference funcs_flink.py:68-87): one statement per non-comment
        line, run inside a single connection via the JVM's DriverManager
        (py4j — no Python DB driver needed; the jar must be on the Spark
        classpath, same requirement as read_jdbc).  ``db`` is the logical
        source name, kept for signature parity and logging."""
        body = processor.vars_context.replace_variables(step.sql)
        stmts = [
            ln.strip().rstrip(";")
            for ln in body.split("\n")
            if ln.strip() and not ln.strip().startswith("--")
        ]
        url, user, password = _jdbc_conn_info(connector)
        jvm = spark.sparkContext._jvm
        conn = (
            jvm.java.sql.DriverManager.getConnection(url, user, password)
            if user
            else jvm.java.sql.DriverManager.getConnection(url)
        )
        try:
            st = conn.createStatement()
            for s in stmts:
                processor.log(f"exec sql in source {db}.{connector}: {s}")
                st.execute(s)
            st.close()
        finally:
            conn.close()

    def test_run_etl(config, etl_file: str):
        """Run another ETL file end-to-end (reference funcs_flink.py:89-117
        shells out to ``python -m easy_sql.data_process``; Spark-first we run
        it in-process on the SAME session, so the inner ETL sees this ETL's
        temp views and writes to the same catalog — which is also what the
        subprocess achieved against the shared Flink cluster).  ``config``
        is the live EtlConfig (pass ``${__config__}``) used to resolve
        ``etl_file`` relative to the calling ETL's own file."""
        import os

        rel_base = processor.base_dir
        if config is not None and getattr(config, "abs_sql_file_path", None):
            rel_base = os.path.dirname(config.abs_sql_file_path)
        path = (
            etl_file
            if os.path.isabs(etl_file)
            else os.path.join(rel_base, etl_file)
        )
        with open(path, encoding="utf-8") as f:
            inner_sql = f.read()
        inner = type(processor)(
            spark,
            inner_sql,
            base_dir=os.path.dirname(path) or ".",
            logger=processor.log,
            sql_file_path=path,
        )
        inner.run()

    def refresh_rollup(
        src: str,
        dst: str,
        part_col: str,
        group_cols: str,
        aggs: str,
        predicate: str = "true",
    ):
        """Incremental materialized-rollup maintenance: recompute the
        aggregate ONLY for source rows matching ``predicate`` (push-down
        scoped — typically the changed partitions, e.g. ``dt >= '${day}'``)
        and keyed-upsert the result into ``dst`` on
        (part_col + group_cols).  Untouched rollup partitions are neither
        read nor rewritten (the upsert's copy-on-write scoping), so the
        refresh cost tracks the CHANGE size, not the table size — the
        incremental-view-maintenance pattern for daily rollups at scale.
        `func.refresh_rollup(db.sales, db.sales_rollup, dt, region|product,
        sum(amount) as total|count(*) as n, dt >= '2024-01-05')`."""
        from ..runtime.backend import Partition, TableMeta

        gcols = [c.strip() for c in str(group_cols).split("|") if c.strip()]
        agg_list = [a.strip() for a in str(aggs).split("|") if a.strip()]
        sel = ", ".join([part_col, *gcols, *agg_list])
        by = ", ".join([part_col, *gcols])
        out = processor.spark.sql(
            f"SELECT {sel} FROM {src} WHERE {predicate} GROUP BY {by}"
        )
        meta = TableMeta.parse(dst, [Partition(field=part_col)])
        processor.backend.save_table(
            out,
            meta,
            "upsert",
            create_table=True,
            merge_keys=[part_col, *gcols],
        )
        processor.log(f"refresh_rollup({src} -> {dst}): scope [{predicate}]")

    def analyze_table(table: str, cols: str = ""):
        """Maintenance: collect table (and optionally |-separated column)
        statistics — feeds Catalyst's cost-based optimizer (join
        reordering, broadcast decisions from real rowCount/NDV instead of
        file-size guesses).  `func.analyze_table(db.t, a|b)`."""
        spark = processor.spark
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
        col_list = [c.strip() for c in str(cols).split("|") if c.strip()]
        if col_list:
            spark.sql(
                f"ANALYZE TABLE {table} COMPUTE STATISTICS "
                f"FOR COLUMNS {', '.join(col_list)}"
            )
        processor.log(f"analyze_table({table}): stats collected")

    def zorder_table(table: str, cols: str, curve: str = "zorder"):
        """Maintenance: rewrite a table curve-clustered on |-separated
        columns (multi-dim data skipping) — `func.zorder_table(db.t, a|b)`
        or `func.zorder_table(db.t, a|b, hilbert)` for the measured-
        tighter Hilbert layout (operators/hilbert.py, <= 2 cols)."""
        col_list = [c.strip() for c in str(cols).split("|") if c.strip()]
        n = processor.backend.zorder_table(table, col_list, curve=curve)
        processor.log(
            f"zorder_table({table}, {col_list}, {curve}): {n} rows rewritten"
        )
        return n

    def compact_table(table: str, target_mb: str = "128", min_files: str = "4"):
        """Maintenance: rewrite fragmented partitions into ~target_mb files
        (see backend.compact_table) — `func.compact_table(db.t)` after
        append-heavy or streaming loads."""
        report = processor.backend.compact_table(
            table, target_mb=int(target_mb), min_files=int(min_files)
        )
        processor.log(
            f"compact_table({table}): {report['partitions_compacted']} "
            f"partitions, {report['files_before']} -> "
            f"{report['files_after']} files"
        )
        return report

    def _snapshot(root: str):
        from ..runtime.snapshots import SnapshotTable

        return SnapshotTable(spark, root)

    def snapshot_commit(
        root: str, view: str, mode: str = "append", partition_by: str = ""
    ):
        """Commit a view/table into the versioned snapshot table at
        ``root`` (runtime/snapshots.py): `func.snapshot_commit(/w/events,
        my_view, append|overwrite|overwrite_partitions, dt)`.  Creates
        the table on first commit."""
        t = _snapshot(root)
        df = spark.table(view)
        pby = [c for c in partition_by.split("|") if c] or None
        if not t.latest_version():
            m = t.create(df, partition_by=pby)
        elif mode == "append":
            m = t.append(df)
        elif mode == "overwrite":
            m = t.overwrite(df, partition_by=pby)
        elif mode == "overwrite_partitions":
            m = t.overwrite_partitions(df)
        else:
            raise ValueError(f"unknown snapshot commit mode {mode!r}")
        processor.log(
            f"snapshot_commit({root}, {view}, {mode}): v{m['version']}"
        )
        return m["version"]

    def snapshot_view(root: str, view_name: str, version: str = ""):
        """Register a (time-travel) read of a snapshot table as a temp
        view: `func.snapshot_view(/w/events, events_v3, 3)` — omit the
        version for latest."""
        t = _snapshot(root)
        df = t.read(version=int(version) if version else None)
        backend.create_temp_view(df, view_name)

    def snapshot_rollback(root: str, version: str):
        """RESTORE the snapshot table to an earlier version (rolls
        forward — the bad versions stay until vacuum).  ``version`` may
        be an integer version or an epoch-seconds timestamp prefixed
        ``ts:`` (restores the newest version at or before it)."""
        t = _snapshot(root)
        v = (
            t.version_at(float(version[3:]))
            if str(version).startswith("ts:")
            else int(version)
        )
        m = t.rollback(v)
        processor.log(f"snapshot_rollback({root}, {version}): v{m['version']}")

    def snapshot_compact(root: str, target_mb: str = "128"):
        """OPTIMIZE a fragmented snapshot table: rewrite the live set as
        one commit (old versions stay until vacuum)."""
        m = _snapshot(root).compact(target_mb=int(target_mb))
        processor.log(
            f"snapshot_compact({root}): v{m['version']}, "
            f"{len(m['live'])} live dirs"
        )
        return m["version"]

    def snapshot_vacuum(
        root: str, retain_versions: str = "1", min_age_seconds: str = "",
        dry_run: str = "",
    ):
        """Delete data dirs only referenced by versions older than the
        retained window, plus orphaned staging dirs older than
        ``min_age_seconds`` (default: the library's 24h retention — a
        young orphan may be a CONCURRENT writer's staged commit; pass 0
        explicitly only in single-writer test/dev)."""
        kwargs = {"retain_versions": int(retain_versions)}
        if min_age_seconds != "":
            kwargs["min_age_seconds"] = float(min_age_seconds)
        if dry_run != "":
            kwargs["dry_run"] = dry_run.lower() in ("true", "1", "yes")
        rep = _snapshot(root).vacuum(**kwargs)
        processor.log(f"snapshot_vacuum({root}): {rep}")
        return rep["deleted_dirs"]

    def snapshot_merge(
        root: str, view: str, keys: str, precombine: str = ""
    ):
        """Keyed SCD1 MERGE (upsert) of a view into the snapshot table:
        `func.snapshot_merge(/w/dim, updates_view, id|region, ts)` —
        matched rows replaced, unmatched insert, untouched dirs keep
        their files; serializable (conflicts raise, never lost
        updates)."""
        m = _snapshot(root).merge(
            spark.table(view),
            keys=[k for k in keys.split("|") if k],
            precombine=precombine or None,
        )
        processor.log(
            f"snapshot_merge({root}, {view}): v{m['version']}, "
            f"rewrote {len(m['removed'])} dirs"
        )
        return m["version"]

    def snapshot_apply_changes(
        root: str, view: str, keys: str, op_col: str = "__op",
        precombine: str = "", delete_op: str = "delete",
    ):
        """Apply a CHANGELOG view (CDC apply — the consume half of the
        reference's Flink postgres-cdc pipelines, and of
        ``func.hudi_cdc_view`` feeds): `func.snapshot_apply_changes(
        /w/mirror, changes_view, id, op, ts_ms)` — rows whose
        ``op_col`` equals ``delete_op`` delete their keys, everything
        else upserts; ``precombine`` picks the latest change per key
        inside the batch and guards against late events across batches
        (SnapshotTable.apply_changes)."""
        m = _snapshot(root).apply_changes(
            spark.table(view),
            keys=[k for k in keys.split("|") if k],
            op_col=op_col,
            precombine=precombine or None,
            delete_op=delete_op,
        )
        processor.log(
            f"snapshot_apply_changes({root}, {view}): v{m['version']}"
        )
        return m["version"]

    def snapshot_delete(root: str, where: str):
        """Copy-on-write DELETE: `func.snapshot_delete(/w/events,
        dt<=2024-01-01|status=F)` — conditions are ANDed, each
        `col<op>value` with op in <, <=, >, >=, = (values parsed as
        numbers when they look numeric); manifest-stats-pruned, rows
        with NULL predicate are kept (SQL semantics)."""
        conds = _parse_conds(where)
        if not conds:
            raise ValueError("snapshot_delete needs at least one condition")
        mf = _snapshot(root).delete_where(conds)
        processor.log(
            f"snapshot_delete({root}, {where}): v{mf['version']}, "
            f"rewrote {len(mf['removed'])} dirs"
        )
        return mf["version"]

    def snapshot_delete_dv(root: str, where: str):
        """DELETE via a deletion vector (merge-on-read): O(matched rows)
        written instead of rewriting dirs — `func.snapshot_delete_dv(
        /w/events, dt<=2024-01-01)`.  Reads apply the DV automatically;
        `func.snapshot_compact` materializes (applies + clears) it."""
        conds = _parse_conds(where)
        if not conds:
            raise ValueError("snapshot_delete_dv needs at least one condition")
        mf = _snapshot(root).delete_where_dv(conds)
        processor.log(
            f"snapshot_delete_dv({root}, {where}): v{mf['version']}, "
            f"{mf['deleted_rows']} rows"
        )
        return mf["deleted_rows"]

    def snapshot_changes(
        root: str, view_name: str, from_version: str, to_version: str = ""
    ):
        """Batch change feed as a temp view: net insert/delete rows with
        _change_type between two versions —
        `func.snapshot_changes(/w/t, delta_view, 3, 7)` (omit the end
        for latest)."""
        df = _snapshot(root).changes(
            int(from_version),
            int(to_version) if to_version != "" else None,
        )
        backend.create_temp_view(df, view_name)

    def snapshot_history(root: str, view_name: str):
        """DESCRIBE HISTORY analogue: the version log of surviving
        manifests (version, operation, ts, live/added dir counts,
        batch_id) registered as a temp view."""
        rows = _snapshot(root).history()
        df = spark.createDataFrame(
            [
                (
                    int(h["version"]), str(h["operation"]), float(h["ts"]),
                    int(h["live_dirs"]), int(h["added_dirs"]),
                    h["batch_id"] if h["batch_id"] is None else int(h["batch_id"]),
                )
                for h in rows
            ],
            "version int, operation string, ts double, live_dirs int, "
            "added_dirs int, batch_id long",
        )
        backend.create_temp_view(df, view_name)

    def _parse_conds(where: str) -> list | None:
        import re as _re

        conds = []
        for raw in (w for w in where.split("|") if w.strip()):
            m = _re.match(r"^\s*(\w+)\s*(<=|>=|<|>|=)\s*(.+?)\s*$", raw)
            if not m:
                raise ValueError(f"bad condition {raw!r}")
            col, op, val = m.groups()
            try:
                val = int(val)
            except ValueError:
                try:
                    val = float(val)
                except ValueError:
                    pass
            conds.append((col, op, val))
        return conds or None

    def _part_spec(partitions: str) -> dict | None:
        parts: dict[str, list] = {}
        for spec in (s for s in partitions.split("|") if s):
            c, v = spec.split("=", 1)
            parts.setdefault(c, []).append(v)
        return parts or None

    def delta_view(
        path: str, view_name: str, version: str = "",
        partitions: str = "", where: str = "",
    ):
        """Register a Delta Lake table as a temp view WITHOUT delta-spark
        jars, by replaying the open commit-log protocol
        (sources/delta_log.py): `func.delta_view(/lake/events, ev, 7,
        dt=2024-01-01|dt=2024-01-02)` — omit the version for latest;
        `ts:<epoch_ms>` time-travels by commit timestamp; the optional
        partition spec prunes files DRIVER-side from the log.  Tables
        needing deletion vectors / column mapping raise instead of
        returning wrong rows."""
        from ..sources.delta_log import read_delta

        kw = {"partitions": _part_spec(partitions),
              "where": _parse_conds(where)}
        if str(version).startswith("ts:"):
            df = read_delta(spark, path, timestamp_ms=int(version[3:]), **kw)
        else:
            df = read_delta(
                spark, path, version=int(version) if version else None, **kw
            )
        backend.create_temp_view(df, view_name)

    def iceberg_view(
        path: str, view_name: str, snapshot: str = "",
        partitions: str = "", where: str = "",
    ):
        """Register an Apache Iceberg table as a temp view WITHOUT the
        iceberg runtime jar (sources/iceberg_meta.py: metadata JSON +
        in-repo Avro codec): `func.iceberg_view(/lake/t, iv, 1234,
        p=a|p=b)` — omit the snapshot for current; `ts:<epoch_ms>`
        time-travels via the snapshot log; the optional partition spec
        prunes files driver-side from the manifests.  v2 position
        deletes are applied; equality deletes raise instead of
        returning wrong rows."""
        from ..sources.iceberg_meta import read_iceberg

        kw = {"partitions": _part_spec(partitions),
              "where": _parse_conds(where)}
        if str(snapshot).startswith("ts:"):
            df = read_iceberg(spark, path, as_of_ms=int(snapshot[3:]), **kw)
        else:
            df = read_iceberg(
                spark,
                path,
                snapshot_id=int(snapshot) if snapshot else None,
                **kw,
            )
        backend.create_temp_view(df, view_name)

    def delta_history_view(path: str, view_name: str):
        """Delta DESCRIBE HISTORY analogue from commitInfo actions
        (sources/delta_log.py), newest first, as a temp view."""
        from ..sources.delta_log import delta_history

        rows = delta_history(path)
        df = spark.createDataFrame(
            [
                (int(h["version"]), h["operation"],
                 None if h["timestamp"] is None else int(h["timestamp"]))
                for h in rows
            ],
            "version int, operation string, timestamp_ms long",
        )
        backend.create_temp_view(df, view_name)

    def iceberg_snapshots_view(path: str, view_name: str):
        """Iceberg snapshot log (sources/iceberg_meta.py), newest first,
        as a temp view."""
        from ..sources.iceberg_meta import iceberg_history

        rows = iceberg_history(path)
        df = spark.createDataFrame(
            [
                (int(h["snapshot_id"]),
                 None if h["timestamp_ms"] is None else int(h["timestamp_ms"]),
                 h["operation"])
                for h in rows
            ],
            "snapshot_id long, timestamp_ms long, operation string",
        )
        backend.create_temp_view(df, view_name)

    def hudi_view(path: str, view_name: str, as_of: str = ""):
        """Register a Hudi table (COPY_ON_WRITE or MERGE_ON_READ) as a
        temp view without the hudi bundle (sources/hudi_meta.py:
        timeline + file-slice selection; MOR log blocks replayed in
        executor tasks): `func.hudi_view(/lake/t, hv,
        20240101103000000)` — omit the instant for latest."""
        from ..sources.hudi_meta import read_hudi

        df = read_hudi(spark, path, as_of=as_of or None)
        backend.create_temp_view(df, view_name)

    def iceberg_incremental_view(
        path: str, view_name: str, from_snapshot: str, to_snapshot: str = ""
    ):
        """Iceberg incremental APPEND scan as a temp view: rows in data
        files added by snapshots after from_snapshot (replace/compaction
        snapshots skipped, other operations refuse):
        `func.iceberg_incremental_view(/lake/t, new_rows, 100)`."""
        from ..sources.iceberg_meta import read_iceberg_incremental

        df = read_iceberg_incremental(
            spark,
            path,
            int(from_snapshot),
            int(to_snapshot) if to_snapshot else None,
        )
        backend.create_temp_view(df, view_name)

    def hudi_incremental_view(
        path: str, view_name: str, from_instant: str, to_instant: str = ""
    ):
        """Hudi INCREMENTAL QUERY as a temp view: rows written by
        commits in (from_instant, to_instant] — the read-only-what-
        changed pattern of the reference's Flink-Hudi pipelines:
        `func.hudi_incremental_view(/lake/t, delta_rows,
        20240101103000000)`.  Untouched file groups are pruned before
        listing (sources/hudi_meta.py read_hudi_incremental)."""
        from ..sources.hudi_meta import read_hudi_incremental

        df = read_hudi_incremental(
            spark, path, from_instant, to_instant=to_instant or None
        )
        backend.create_temp_view(df, view_name)

    def hudi_cdc_view(
        path: str, view_name: str, from_instant: str = "",
        to_instant: str = "", key_field: str = "",
    ):
        """Hudi CHANGE-DATA-CAPTURE query (RFC-51 ``-cdc`` supplemental
        log files) as a temp view — one row per change with
        commit_time/op/record_key/before/after (images as JSON strings):
        `func.hudi_cdc_view(/lake/t, changes, 20240101103000000)` —
        instants bound the pull like the incremental query;
        ``key_field`` derives record_key from the images when the
        logging mode doesn't persist one (needed to drive a keyed
        apply, e.g. ``func.snapshot_apply_changes``)."""
        from ..sources.hudi_meta import read_hudi_cdc

        df = read_hudi_cdc(
            spark, path,
            from_instant=from_instant or None,
            to_instant=to_instant or None,
            key_field=key_field or None,
        )
        backend.create_temp_view(df, view_name)

    def hudi_timeline_view(path: str, view_name: str):
        """Hudi timeline (completed instants, newest first) as a temp
        view."""
        from ..sources.hudi_meta import hudi_history

        rows = hudi_history(path)
        df = spark.createDataFrame(
            [(h["instant"], h["action"]) for h in rows],
            "instant string, action string",
        )
        backend.create_temp_view(df, view_name)

    def snapshot_export_delta(root: str, checkpoint_format: str = "classic"):
        """Expose the snapshot table's current version as a Delta table
        (zero copy — a `_delta_log` derived from the manifest, pointing
        at the snapshot's own files): `func.snapshot_export_delta(/w/t)`
        then any Delta reader opens `/w/t`.  Re-run after commits to
        advance the delta log incrementally; export BEFORE vacuum.
        `checkpoint_format=v2` opts into uuid-manifest + sidecar
        checkpoints (requires v2Checkpoint-capable readers)."""
        from ..sources.delta_log import export_snapshot_to_delta

        rep = export_snapshot_to_delta(
            _snapshot(root), checkpoint_format=checkpoint_format
        )
        processor.log(f"snapshot_export_delta({root}): {rep}")
        return rep["delta_version"]

    def snapshot_export_iceberg(root: str):
        """Expose the snapshot table's current version as an Iceberg v2
        table (zero copy: metadata JSON + Avro manifests referencing the
        snapshot's own files, with a name-mapping property for the
        field-ID-less parquet): `func.snapshot_export_iceberg(/w/t)`.
        Re-run after commits to append a new Iceberg snapshot."""
        from ..sources.iceberg_meta import export_snapshot_to_iceberg

        rep = export_snapshot_to_iceberg(_snapshot(root))
        processor.log(f"snapshot_export_iceberg({root}): {rep}")
        return rep["snapshot_id"]

    def delta_changes_view(
        path: str, view_name: str, from_version: str, to_version: str = ""
    ):
        """Delta CHANGE DATA FEED as a temp view: per-commit change rows
        (_change_type / _commit_version / _commit_timestamp) for
        versions [from, to] — `func.delta_changes_view(/lake/t, cdf, 3)`
        reads every change since version 3 without delta-spark jars
        (sources/delta_log.py delta_changes)."""
        from ..sources.delta_log import delta_changes

        df = delta_changes(
            spark,
            path,
            int(from_version),
            int(to_version) if to_version else None,
        )
        backend.create_temp_view(df, view_name)

    def snapshot_export_hudi(
        root: str, dest: str = "", materialize: str = "false"
    ):
        """Expose the snapshot table's current version as a Hudi
        COPY_ON_WRITE table: `func.snapshot_export_hudi(/w/t)` (default
        dest `<root>/_hudi_export`).  Unpartitioned tables export zero
        copy (hardlinked base files, incremental instants);
        partitioned tables need materialize=true (one rewrite job) —
        see sources/hudi_meta.py export_snapshot_to_hudi."""
        from ..sources.hudi_meta import export_snapshot_to_hudi

        rep = export_snapshot_to_hudi(
            _snapshot(root),
            dest=dest or None,
            materialize=str(materialize).lower() == "true",
        )
        processor.log(f"snapshot_export_hudi({root}): {rep}")
        return rep["instant"]

    def snapshot_export_hudi_mor(
        root: str, dest: str = "", key_col: str = "", n_buckets: str = ""
    ):
        """Expose the snapshot table as a Hudi MERGE_ON_READ table:
        `func.snapshot_export_hudi_mor(/w/t, , k)` writes bucket-routed
        base files once, then every further call exports ONLY the
        snapshot change feed as log files (delete + data blocks per
        affected file group) — the streaming-write Hudi shape; see
        sources/hudi_meta.py export_snapshot_to_hudi_mor."""
        from ..sources.hudi_meta import export_snapshot_to_hudi_mor

        rep = export_snapshot_to_hudi_mor(
            _snapshot(root),
            dest=dest or None,
            key_col=key_col or None,
            # empty -> None: re-exports take bucket config from
            # hoodie.properties; an explicit value must MATCH it
            n_buckets=int(n_buckets) if n_buckets else None,
        )
        processor.log(f"snapshot_export_hudi_mor({root}): {rep}")
        return rep["instant"]

    def snapshot_files(root: str, view_name: str, version: str = ""):
        """DESCRIBE DETAIL analogue: one row per live data dir of the
        (time-travel) version — dir path, row count, min/max stats JSON,
        external base for shallow-clone dirs — registered as a temp
        view.  Driver-side manifest read; no data touched."""
        import json as _json

        t = _snapshot(root)
        v = int(version) if version else t.latest_version()
        m = t.manifest(v)
        rows_map = m.get("rows") or {}
        stats = m.get("stats") or {}
        ext = m.get("external") or {}
        df = spark.createDataFrame(
            [
                (
                    d,
                    rows_map.get(d),
                    _json.dumps(stats[d]) if d in stats else None,
                    ext.get(d),
                )
                for d in sorted(m["live"])
            ],
            "dir string, rows long, stats string, external_base string",
        )
        backend.create_temp_view(df, view_name)

    def snapshot_wap(
        root: str, view: str, checks: str, mode: str = "append"
    ):
        """Write-audit-publish: stage the view's rows into the snapshot
        table, audit the STAGED FILES with |-separated SQL predicates,
        publish only if all pass (failures reap the staging and raise):
        `func.snapshot_wap(/w/t, batch, id is not null|amount >= 0)`."""
        m = _snapshot(root).write_audit_publish(
            spark.table(view),
            checks=[c.strip() for c in checks.split("|") if c.strip()],
            mode=mode,
        )
        processor.log(f"snapshot_wap({root}, {view}): v{m['version']}")
        return m["version"]

    def snapshot_rollup(
        src_root: str, rollup_root: str, group_cols: str, sum_cols: str
    ):
        """Incremental materialized rollup: catch the rollup snapshot up
        to the source snapshot by consuming its change feed (signed
        sums/counts; operators/rollup.py).  Self-driving — the source
        version bookmark rides the rollup's manifests."""
        from ..operators.rollup import maintain_rollup

        rep = maintain_rollup(
            spark, src_root, rollup_root,
            [c for c in group_cols.split("|") if c],
            [c for c in sum_cols.split("|") if c],
        )
        processor.log(f"snapshot_rollup({src_root} -> {rollup_root}): {rep}")
        return rep["mode"]

    def snapshot_clone(src_root: str, target_root: str, version: str = ""):
        """Shallow CLONE: `func.snapshot_clone(/w/t, /w/t_branch)` — a
        new snapshot table referencing the source's files in place (zero
        data copied); writes to the clone never touch the source.
        `func.snapshot_compact` on the clone materializes it."""
        _snapshot(src_root).clone_to(
            target_root, version=int(version) if version else None
        )
        processor.log(f"snapshot_clone({src_root} -> {target_root})")

    def snapshot_add_constraint(root: str, name: str, expr: str):
        """ADD CONSTRAINT name CHECK expr: validates existing data (one
        scan), then every later write enforces the check inside the
        write job itself: `func.snapshot_add_constraint(/w/t, amt_pos,
        amount >= 0)`."""
        m = _snapshot(root).add_constraint(name, expr)
        processor.log(
            f"snapshot_add_constraint({root}, {name}): v{m['version']}"
        )

    def snapshot_drop_constraint(root: str, name: str):
        """DROP CONSTRAINT (metadata-only commit)."""
        m = _snapshot(root).drop_constraint(name)
        processor.log(
            f"snapshot_drop_constraint({root}, {name}): v{m['version']}"
        )

    def snapshot_row_count(root: str, partitions: str = "", version: str = ""):
        """Metadata-only COUNT(*): summed from the manifest's per-dir
        row counts, no data scanned — `func.snapshot_row_count(/w/t,
        dt=2024-01-01|dt=2024-01-02)` (partitions optional, values
        |-separated as col=value)."""
        n = _snapshot(root).row_count(
            version=int(version) if version else None,
            partitions=_part_spec(partitions),
        )
        processor.log(f"snapshot_row_count({root}): {n}")
        return n

    #: open deferred-commit contexts per index root: (index, context
    #: manager) — a multi-batch load's ingests share one index object so
    #: `func.dedup_index_flush` commits them as ONE snapshot version
    _didx_deferred: dict[str, tuple] = {}

    def _didx_all_flushed():
        """End-of-run guard (ADVICE r9): a load that passed ``defer=1``
        but never reached ``func.dedup_index_flush`` would otherwise
        complete "successfully" while committing NOTHING to the index —
        the admitted views were consumed downstream and the next load
        would re-admit the same docs.  Failing the run here turns that
        silent index loss into a loud ETL failure (nothing was
        committed, so the rerun-with-flush is safe)."""
        if _didx_deferred:
            roots = sorted(_didx_deferred)
            _didx_deferred.clear()  # abandon (uncommitted by design)
            raise RuntimeError(
                "dedup_index_ingest(defer=1) context(s) never flushed "
                f"for index root(s) {roots}: add a "
                "func.dedup_index_flush(<root>) step after the last "
                "deferred ingest — no pending admission was committed"
            )

    processor.run_end_checks.append(_didx_all_flushed)

    def dedup_index_ingest(
        root: str,
        view: str,
        out_view: str,
        batch_id: str = "",
        defer: str = "",
        strict_replay: str = "",
    ):
        """Incremental fuzzy dedup against the persistent LSH band index
        at ``root`` (operators/dedup_index.py): `func.dedup_index_ingest(
        /w/didx, batch_docs, admitted, 7)` — admits the non-duplicate
        part of the (doc_id, text) view, indexes it, and registers the
        admitted doc_ids as ``out_view``.  ``batch_id`` makes streaming
        replays idempotent.

        ``defer=1``: the ingest joins an open deferred-commit context
        for ``root`` (``MinHashDedupIndex.deferred_commits``) — several
        priority-ordered ingest steps of ONE load coalesce into a
        single snapshot commit at `func.dedup_index_flush(root)`, with
        identical admission semantics (later ingests probe committed ∪
        pending bands).  An ETL failure before the flush commits
        nothing.

        ``strict_replay=1``: a replayed batch whose commit history has
        been vacuumed FAILS the step instead of reconstructing via the
        whole-index join (which is exact only when a doc_id is offered
        at most once per index lifetime)."""
        from ..operators.dedup_index import MinHashDedupIndex

        vr = "raise" if strict_replay not in ("", "0", "false") else "fallback"
        if defer not in ("", "0", "false"):
            if root not in _didx_deferred:
                idx = MinHashDedupIndex(spark, root, vacuumed_replay=vr)
                cm = idx.deferred_commits()
                cm.__enter__()
                _didx_deferred[root] = (idx, cm)
            idx = _didx_deferred[root][0]
        else:
            idx = MinHashDedupIndex(spark, root, vacuumed_replay=vr)
        admitted = idx.ingest(
            spark.table(view),
            batch_id=int(batch_id) if batch_id != "" else None,
        )
        backend.create_temp_view(admitted, out_view)
        processor.log(f"dedup_index_ingest({root}, {view}) -> {out_view}")

    def dedup_index_flush(root: str):
        """Close the deferred-commit context opened by
        ``dedup_index_ingest(..., defer=1)`` for ``root``: all pending
        admitted bands commit as ONE snapshot version (manifest records
        the coalesced batch ids)."""
        if root not in _didx_deferred:
            raise ValueError(
                f"dedup_index_flush({root}): no open deferred ingest "
                "context (did you pass defer=1 to dedup_index_ingest?)"
            )
        _idx, cm = _didx_deferred.pop(root)
        cm.__exit__(None, None, None)
        processor.log(f"dedup_index_flush({root}): committed")

    def ann_index_create(root: str, view: str, k: str = "16", iters: str = "2"):
        """Train + seed the persistent IVF ANN index
        (operators/ann_index.py) from a (vec_id, v array<double>) view."""
        from ..operators.ann_index import IVFIndex

        IVFIndex(spark, root).create(
            spark.table(view), k=int(k), iters=int(iters)
        )
        processor.log(f"ann_index_create({root}, {view}, k={k})")

    def ann_index_ingest(root: str, view: str, batch_id: str = ""):
        """Append vectors under the index's frozen centroids (O(batch));
        ``batch_id`` gives exactly-once streaming replays."""
        from ..operators.ann_index import IVFIndex

        IVFIndex(spark, root).ingest(
            spark.table(view),
            batch_id=int(batch_id) if batch_id != "" else None,
        )
        processor.log(f"ann_index_ingest({root}, {view})")

    def ann_index_search(
        root: str, queries_view: str, out_view: str,
        topk: str = "10", nprobe: str = "4",
    ):
        """Top-k cosine search over the probed cells only; registers
        (query_id, neighbor_id, cos_sim, rank) as ``out_view``."""
        from ..operators.ann_index import IVFIndex

        res = IVFIndex(spark, root).search(
            spark.table(queries_view), topk=int(topk), nprobe=int(nprobe)
        )
        backend.create_temp_view(res, out_view)
        processor.log(f"ann_index_search({root}) -> {out_view}")

    return {
        k: v
        for k, v in locals().items()
        if callable(v)
        and not k.startswith("_")
        and k not in ("processor", "spark", "backend")
    }
