"""DML statement family of the executeSql surface: INSERT INTO /
OVERWRITE (incl. streaming sinks and column alignment), DELETE/UPDATE
(FLIP-282 row-level), ALTER TABLE COMPACT, DISTRIBUTED BY bucketing,
and STATEMENT SET execution.  Split out of sql_ddl.py in r10 (pure
move)."""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame

# the moved method bodies reference the shared helpers by bare name
from flink_1_20_spark.sqlenv.text import (
    TableMeta,
    _computed_col_expr,
    _split_depth0,
    _split_top_all,
    _sql_mask,
)


class DmlMixin:
    """Methods host: composed into TableEnvironment."""

    def _parse_insert(self, stmt: str):
        """Parse an INSERT statement into (name, query, kwargs) — shared
        by the executeSql dispatch and EXECUTE STATEMENT SET so both
        surfaces accept the same PARTITION / column-list syntax."""
        m = self._INSERT_STMT.match(stmt.strip().rstrip(";"))
        if m is None:
            return None
        cols = (
            [c.strip().strip("`") for c in m.group(4).split(",")]
            if m.group(4)
            else None
        )
        return (
            m.group(2).strip("`"),
            m.group(5),
            {
                "overwrite": m.group(1).upper() == "OVERWRITE",
                "static_partition": m.group(3),
                "columns": cols,
            },
        )

    def _align_insert_columns(
        self,
        meta: TableMeta,
        df: DataFrame,
        static_partition: str | None,
        columns: list[str] | None,
    ) -> DataFrame:
        """INSERT ... PARTITION (k=v) [(col, ...)]: the query's output
        binds POSITIONALLY to the declared column list (or to every
        non-static column in declared order when no list is given);
        static-partition keys become literals cast to their declared
        type; unmentioned columns fill NULL (Flink's partial-insert
        semantics)."""
        from pyspark.sql import functions as F

        declared = [c for c, _ in meta.columns]
        types = dict(meta.columns)
        spec = (
            self._parse_partition_spec(static_partition)
            if static_partition
            else {}
        )
        unknown = set(spec) - set(declared)
        if unknown:
            raise ValueError(f"not columns of {meta.name}: {sorted(unknown)}")
        targets = columns or [c for c in declared if c not in spec]
        bad = [c for c in targets if c not in declared or c in spec]
        if bad:
            raise ValueError(
                f"INSERT column list names unknown/static columns: {bad}"
            )
        if len(df.columns) != len(targets):
            raise ValueError(
                f"INSERT query produces {len(df.columns)} columns for "
                f"{len(targets)} target columns"
            )
        bound = df.select(
            *[F.col(src).alias(tgt) for src, tgt in zip(df.columns, targets)]
        )
        out = []
        for c in declared:
            if c in spec:
                out.append(F.lit(spec[c]).cast(types[c]).alias(c))
            elif c in targets:
                out.append(F.col(c))
            else:
                out.append(F.lit(None).cast(types[c]).alias(c))
        return bound.select(*out)

    # -- STATEMENT SET ---------------------------------------------------
    def execute_statement_set(self, statements: list[str]) -> None:
        """EXECUTE STATEMENT SET parity (multi-sink pipelines,
        TableEnvironmentImpl.createStatementSetOperation): run several
        INSERT INTO statements as one logical job, materializing each
        SOURCE table referenced more than once so its scan (and any
        computed columns) is evaluated one time, not per sink —
        Flink's CommonSubGraphBasedOptimizer shared-scan behavior,
        expressed as `.persist()` for the set's duration."""
        inserts = []
        for stmt in statements:
            parsed = self._parse_insert(stmt)
            if parsed is None:
                m = re.match(
                    r"\s*INSERT\s+INTO\s+(\S+)\s+(.*?);?\s*$", stmt, re.S | re.I
                )
                if not m:
                    raise ValueError(
                        f"statement set accepts only INSERT INTO: {stmt[:80]!r}"
                    )
                parsed = (m.group(1).strip("`"), m.group(2), {})
            inserts.append(parsed)

        refs: dict[str, int] = {}
        for _, query, _kw in inserts:
            for tbl in re.findall(r"\b(?:FROM|JOIN)\s+`?(\w+)`?", query, re.I):
                if tbl in self.tables:
                    refs[tbl] = refs.get(tbl, 0) + 1
        shared = [t for t, n in refs.items() if n > 1]
        cached = []
        for t in shared:
            df = self.spark.table(t)
            if not df.isStreaming:
                df.persist()
                cached.append(df)
        try:
            for name, query, kw in inserts:
                self._insert_into(name, query, **kw)
        finally:
            for df in cached:
                df.unpersist()

    def _upsert_materialized_insert(self, name: str, meta, df, fmt: str):
        """Streaming INSERT whose plan emits an UPDATING changelog (a
        non-windowed GROUP BY — StreamExecGroupAggregate — is the
        canonical case): an append-only file sink cannot consume it, and
        Flink rejects exactly this with "Table sink ... doesn't support
        consuming update changes" unless the sink declares a PRIMARY KEY
        and the planner inserts SinkUpsertMaterializer
        (SinkUpsertMaterializer.java). Same contract here: the sink
        table's PRIMARY KEY drives a per-epoch keyed parquet merge in
        update output mode — each epoch carries only changed keys, and
        the merge's per-key idempotence keeps restarts exactly-once at
        the table level. The PK must be the update key (Flink raises
        when the upsert key and primary key disagree); here that means
        the GROUP BY columns."""
        if not meta.primary_key:
            raise ValueError(
                f"Table sink {name!r} doesn't support consuming update "
                "changes produced by this query (an unbounded "
                "aggregation emits an updating changelog — "
                "StreamExecGroupAggregate); declare PRIMARY KEY (...) "
                "NOT ENFORCED on the sink table to materialize upserts "
                "the way Flink's upsert sinks do"
            )
        if fmt != "parquet":
            raise ValueError(
                "upsert materialization rewrites the sink by parquet "
                f"merge; format {fmt!r} is not supported for updating "
                "streaming inserts"
            )
        missing = [c for c in meta.primary_key if c not in df.columns]
        if missing:
            raise ValueError(
                f"sink primary key columns {missing} are absent from "
                "the inserted query's output — the upsert key must be "
                "the primary key"
            )
        from flink_1_20_spark.streaming.sinks import upsert_foreach_batch

        path = meta.options["path"]
        return upsert_foreach_batch(
            df,
            keys=list(meta.primary_key),
            path=path,
            output_mode="update",
            checkpoint=meta.options.get("checkpoint", path + ".__ckpt__"),
            # changelog-agg plans mark fully-retracted groups (live
            # count 0 — Flink's GroupAggFunction emits DELETE there);
            # the materializer removes those keys from the table
            retract_col=(
                "__retract_live" if "__retract_live" in df.columns else None
            ),
        )

    def _row_level_target(self, op: str, name: str) -> TableMeta:
        """Resolve and validate the target of DELETE/UPDATE: a batch
        filesystem table (Flink: TableException for streaming mode —
        DeleteTableITCase.testDeleteInStreamingMode; connectors without
        SupportsRowLevelDelete/Update reject at planning)."""
        meta = self._resolve_meta(name)
        if meta is None:
            raise ValueError(f"unknown table {name!r}")
        # identity check, not name check — a qualified/mangled reference
        # (db.mt → __cat_db__mt) must not bypass the guard
        if any(e.get("meta") is meta for e in self._materialized.values()):
            raise ValueError(
                f"{name} is a materialized table — its content is "
                "managed by the refresh pipeline"
            )
        if meta.connector != "filesystem":
            raise ValueError(
                f"{op} statement requires a table whose connector "
                f"supports row-level modification; {meta.connector!r} "
                "does not"
            )
        if meta.options.get("scan.streaming", "false") == "true":
            raise ValueError(
                f"{op} statement is not supported for streaming mode now"
            )
        return meta

    def _declared_frame(self, meta: TableMeta) -> DataFrame | None:
        """Physical files → declared-name DataFrame (rename projection +
        computed columns — the same mapping _register applies). None
        when the path holds no data yet. A crashed staging swap is
        rolled back first so the parked previous table is never read
        as empty."""
        from flink_1_20_spark.sources.connectors import (
            has_data_files,
            read_file,
            recover_swap,
        )

        path = meta.options.get("path")
        if path:
            recover_swap(path)
        if not has_data_files(path):
            return None
        schema = ", ".join(
            f"{meta.renames.get(c, c)} {t}" for c, t in meta.columns
        )
        df = read_file(
            self.spark, path, fmt=meta.options.get("format", "parquet"),
            schema=schema or None,
        )
        if meta.renames:
            from pyspark.sql import functions as F

            rev = {orig: cur for cur, orig in meta.renames.items()}
            df = df.select([F.col(c).alias(rev.get(c, c)) for c in df.columns])
        for cname, expr in meta.computed:
            df = df.selectExpr("*", f"({_computed_col_expr(expr)}) AS {cname}")
        return df

    def _rewrite_table_files(self, meta: TableMeta, df: DataFrame) -> None:
        """Replace a filesystem table's data with `df` (declared-name
        frame): project back to physical names, drop computed columns,
        write to a staging dir and swap — the write is fully distributed
        and the live path is never deleted before its replacement is
        committed (same crash-safe swap as the upsert materializer)."""
        import os
        import shutil

        from pyspark.sql import functions as F

        keep = [c for c, _ in meta.columns]
        out = df.select([F.col(c).alias(meta.renames.get(c, c)) for c in keep])
        path = meta.options["path"]
        fmt = meta.options.get("format", "parquet")
        tmp, old = path + ".__staging__", path + ".__old__"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        writer = out.write.format(fmt).mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        if meta.partitioned_by:
            writer = writer.partitionBy(
                *[meta.renames.get(c, c) for c in meta.partitioned_by]
            )
        writer.save(tmp)
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        meta.stats = None  # data changed; never keep a broadcast verdict
        self._register(meta, db=self._owner_db(meta))

    def _apply_distribution(self, df: DataFrame, meta: TableMeta) -> DataFrame:
        """DISTRIBUTED BY (FLIP-376 bucketed tables): cluster rows by
        the bucket key into the declared bucket count before a write —
        HASH keeps same-key rows in one file (co-located reads,
        join/agg locality at scale), RANGE keeps sort affinity; a
        bare bucket count just sizes the file count."""
        kind, dcols, buckets = meta.distribution
        if not dcols:
            return df.repartition(buckets)
        if kind == "RANGE":
            return (
                df.repartitionByRange(buckets, *dcols)
                if buckets
                else df.repartitionByRange(*dcols)
            )
        return df.repartition(buckets, *dcols) if buckets else df.repartition(*dcols)

    def _compact_table(self, meta: TableMeta, partition_spec: str | None):
        """ALTER TABLE [PARTITION (...)] COMPACT (SqlAlterTableCompact
        .java → the filesystem connector's batch compaction): rewrite
        the target's files into the bucketed layout when the table is
        DISTRIBUTED, else into a size-targeted file count (128 MiB per
        file, the connector's compaction.file-size default) — through
        the crash-safe staging swap, so concurrent readers never see a
        half-compacted table."""
        import math
        import os
        import shutil

        if meta.connector != "filesystem":
            raise ValueError(
                f"ALTER TABLE COMPACT: connector {meta.connector!r} has "
                "no files to compact"
            )
        if meta.options.get("scan.streaming", "false") == "true":
            raise ValueError(
                "ALTER TABLE COMPACT runs in batch mode; a streaming "
                "sink compacts through its rolling policy"
            )

        def dir_bytes(p: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith((".", "_"))
                )
            return total

        # Flink's compaction.file-size is a MemorySize ('64mb', '1 gb',
        # plain bytes); unparseable or non-positive values are ERRORS,
        # not a silent fall-through to the 128 MiB default
        raw = meta.options.get("compaction.file-size")
        if raw is None:
            target = 128 * 1024 * 1024
        else:
            sm = re.match(
                r"\s*(\d+)\s*(b|kb|mb|gb|tb)?\s*$", raw, re.I
            )
            if not sm:
                raise ValueError(
                    f"cannot parse compaction.file-size {raw!r} "
                    "(expected a MemorySize like '128mb')"
                )
            target = int(sm.group(1)) * {
                "b": 1, "kb": 1024, "mb": 1024**2,
                "gb": 1024**3, "tb": 1024**4,
            }[(sm.group(2) or "b").lower()]
            if target <= 0:
                raise ValueError("compaction.file-size must be positive")
        fmt = meta.options.get("format", "parquet")
        if partition_spec is not None:
            from flink_1_20_spark.sources.connectors import (
                COMPACT_OLD_PREFIX,
                COMPACT_STAGING_PREFIX,
                read_file,
            )

            spec = self._parse_partition_spec(partition_spec)
            if set(spec) != set(meta.partitioned_by):
                raise ValueError(
                    f"partition spec {sorted(spec)} must name exactly "
                    f"the partition keys {meta.partitioned_by}"
                )
            root = meta.options["path"]
            rel = os.path.join(
                *[
                    f"{meta.renames.get(k, k)}={spec[k]}"
                    for k in meta.partitioned_by
                ]
            )
            d = os.path.join(root, rel)
            if not os.path.isdir(d):
                raise ValueError(f"partition does not exist: {d}")
            part_df = read_file(self.spark, d, fmt=fmt)
            if meta.distribution is not None:
                # the bucketed layout holds WITHIN each partition
                part_df = self._apply_distribution(part_df, meta)
            else:
                n = max(1, math.ceil(dir_bytes(d) / target))
                part_df = part_df.coalesce(n)
            # staging/old park INSIDE the root under dot-prefixed names
            # (outside names shaped key=value would be scanned as bogus
            # partitions); recover_swap restores a parked partition
            # whose live dir went missing mid-swap
            enc = rel.replace(os.sep, "%2F")
            tmp = os.path.join(root, COMPACT_STAGING_PREFIX + enc)
            old = os.path.join(root, COMPACT_OLD_PREFIX + enc)
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            writer = part_df.write.format(fmt).mode("overwrite")
            if fmt == "csv":
                writer = writer.option("header", "true")
            writer.save(tmp)
            if os.path.exists(old):
                shutil.rmtree(old)
            os.rename(d, old)
            os.rename(tmp, d)
            shutil.rmtree(old)
            self._register(meta, db=self._owner_db(meta))
            return None
        df = self._declared_frame(meta)
        if df is None:
            return None  # nothing to compact
        if meta.distribution is not None:
            df = self._apply_distribution(df, meta)
        else:
            n = max(1, math.ceil(dir_bytes(meta.options["path"]) / target))
            df = df.coalesce(n)
        self._rewrite_table_files(meta, df)
        return None

    def _rows_affected(self, n: int) -> DataFrame:
        return self.spark.createDataFrame([(n,)], "rows_affected bigint")

    def _partition_eq_spec(self, cond: str, meta: TableMeta) -> dict | None:
        """`k1 = lit AND k2 = lit` over partition keys only → spec dict
        (the SupportsDeletePushDown analog: such a DELETE drops whole
        partition directories without scanning or rewriting data).
        Anything else → None (row-level path)."""
        if not meta.partitioned_by:
            return None
        spec: dict[str, str] = {}
        for part in _split_depth0(cond.strip(), r"\s+AND\s+"):
            part = part.strip()
            m = re.match(r"`?(\w+)`?\s*=\s*(' *'|[\w.+-]+)\s*$", _sql_mask(part))
            # a backslash escape reads differently in Spark and in the
            # partition value: leave such a DELETE to the row-level path
            if not m or "\\" in part:
                return None
            col, lit = m.group(1), part[m.start(2) : m.end(2)]
            if lit.startswith("'"):
                lit = lit[1:-1].replace("''", "'")  # SQL quote unescape
            if col not in meta.partitioned_by or col in spec:
                return None
            spec[col] = lit
        return spec

    def _delete_from(self, name: str, cond: str | None) -> DataFrame:
        """DELETE FROM t [WHERE cond]: rows where cond is TRUE are
        removed (NULL keeps the row, per SQL semantics). Partition-key
        equality conditions take the pushdown path — matching partition
        directories are dropped with no data rewrite; everything else
        rewrites the remaining rows through the staging swap. Returns
        one rows_affected row (Flink's DELETE TableResult)."""
        import os
        import shutil

        meta = self._row_level_target("DELETE", name)
        if cond is not None:
            spec = self._partition_eq_spec(cond, meta)
            if spec is not None:
                root = meta.options["path"]
                import glob as _glob

                from flink_1_20_spark.sources.connectors import recover_swap

                recover_swap(root)
                # directory names carry PHYSICAL column names (a renamed
                # partition key keeps its on-disk name) and literal
                # values must not act as glob metacharacters
                pattern = os.path.join(
                    root,
                    *[
                        _glob.escape(f"{meta.renames.get(k, k)}={spec[k]}")
                        if k in spec
                        else "*"
                        for k in meta.partitioned_by
                    ],
                )
                dirs = [d for d in _glob.glob(pattern) if os.path.isdir(d)]
                if not dirs:
                    return self._rows_affected(0)
                fmt = meta.options.get("format", "parquet")
                reader = self.spark.read.format(fmt).option("basePath", root)
                if fmt == "csv":
                    reader = reader.option("header", "true")
                n = reader.load(dirs).count()
                for d in dirs:
                    shutil.rmtree(d)
                meta.stats = None
                self._register(meta, db=self._owner_db(meta))
                return self._rows_affected(n)
        df = self._declared_frame(meta)
        if df is None:
            return self._rows_affected(0)
        total = df.count()
        if cond is None:
            remaining = df.limit(0)
        else:
            remaining = df.filter(f"NOT ({cond}) OR ({cond}) IS NULL")
        kept = remaining.count()
        self._rewrite_table_files(meta, remaining)
        return self._rows_affected(total - kept)

    def _update_table(
        self, name: str, set_clause: str, cond: str | None
    ) -> DataFrame:
        """UPDATE t SET c = expr[, ...] [WHERE cond]: every assignment
        RHS sees the OLD row (standard SQL), results cast back to the
        declared column types; partition keys and computed columns are
        not assignable (moving a row across partition directories /
        overriding a derived value — Flink rejects both at planning).
        Returns one rows_affected row."""
        meta = self._row_level_target("UPDATE", name)
        declared = dict(meta.columns)
        computed = {c for c, _ in meta.computed}
        assignments: list[tuple[str, str]] = []
        for part in _split_top_all(set_clause, ","):
            am = re.match(r"\s*`?(\w+)`?\s*=\s*(.+)\s*$", part, re.S)
            if not am:
                raise ValueError(f"cannot parse SET assignment: {part!r}")
            col, expr = am.group(1), am.group(2).strip()
            if col in computed:
                raise ValueError(
                    f"UPDATE cannot assign computed column {col!r}"
                )
            if col in meta.partitioned_by:
                raise ValueError(
                    f"UPDATE cannot assign partition key {col!r}"
                )
            if col not in declared:
                raise ValueError(f"unknown column {col!r} in SET clause")
            assignments.append((col, expr))
        df = self._declared_frame(meta)
        if df is None:
            return self._rows_affected(0)
        guard = (
            f"coalesce(CAST(({cond}) AS BOOLEAN), false)"
            if cond is not None
            else "true"
        )
        affected = df.filter(guard).count()
        assigned = dict(assignments)
        select = [
            (
                f"CAST(CASE WHEN {guard} THEN ({assigned[c]}) "
                f"ELSE `{c}` END AS {declared[c]}) AS `{c}`"
                if c in assigned
                else f"`{c}`"
            )
            for c, _ in meta.columns
        ]
        self._rewrite_table_files(meta, df.selectExpr(*select))
        return self._rows_affected(affected)

    def _register_streaming_sink(self, meta, q):
        """Shared bookkeeping for every streaming INSERT that keeps
        writing a registered table: stats invalidated (a continuously-
        growing table must not keep a small-table broadcast verdict),
        views re-registered, batch-read sinks put on the per-statement
        refresh list while the job lives, job tracked for SHOW JOBS."""
        meta.stats = None
        owner = next(
            (d for d, ts in self._dbs.items() if ts.get(meta.name) is meta),
            self.current_db,
        )
        self._register(meta, db=owner)
        if meta.options.get("scan.streaming", "false") != "true":
            self._live_sink_views[id(meta)] = (
                meta, owner, self.current_catalog, q
            )
        self._track_job(q)

    def _insert_into(
        self,
        name: str,
        query: str,
        overwrite: bool = False,
        static_partition: str | None = None,
        columns: list[str] | None = None,
    ):
        if name in self._materialized:
            # Flink: materialized tables are refresh-managed; direct DML
            # is rejected at validation
            raise ValueError(
                f"{name} is a materialized table — its content is managed "
                "by the refresh pipeline (ALTER MATERIALIZED TABLE ... "
                "REFRESH for a manual backfill)"
            )
        meta = self._resolve_meta(name)
        if meta is None:
            raise ValueError(f"unknown table {name!r}")
        # INSERT bodies get the same dialect treatment as top-level
        # SELECTs (window TVFs, legacy group windows, MATCH_RECOGNIZE)
        from flink_1_20_spark.sql_flink import (
            rewrite_flink_builtins,
            rewrite_legacy_group_windows,
            rewrite_unnest,
            rewrite_window_tvfs,
            run_match_recognize,
        )

        from flink_1_20_spark.sql_flink import rewrite_streaming_session_tvf

        dedup = self._try_streaming_dedup(query)
        over = self._try_streaming_over(query) if dedup is None else None
        query = rewrite_streaming_session_tvf(query, self._is_streaming_table)
        query = self._rewrite_cascading_tvf_sources(query)
        query = rewrite_unnest(
            rewrite_legacy_group_windows(rewrite_window_tvfs(query))
        )
        query = rewrite_flink_builtins(query)
        setop_job = self._try_streaming_setop_insert(
            name, meta, query, static_partition, columns, overwrite
        )
        if setop_job is not None:
            return setop_job
        if dedup is not None:
            df = dedup
        elif over is not None:
            df = over
        elif re.search(r"\bMATCH_RECOGNIZE\b", query, re.I):
            df = run_match_recognize(self.spark, query)
        else:
            # retract-aware changelog aggregation first: a GROUP BY over
            # a CDC changelog source must subtract -U/-D rows (Flink's
            # GroupAggFunction retract path); the rewrite adds a hidden
            # __retract_live marker the upsert materializer consumes
            df = self._maybe_changelog_agg(query)
            if df is None:
                df = self._sql_streaming_lowered(query)
        if (static_partition or columns) and meta.columns:
            df = self._align_insert_columns(meta, df, static_partition, columns)
        elif meta.columns:
            # Flink binds INSERT output to the sink POSITIONALLY with
            # implicit casts (DynamicSinkUtils.validateSchemaAndApplyImplicitCast)
            # — without this, `INSERT INTO t VALUES (...)` writes col1/
            # col2/... into the files and by-name reads see NULLs
            phys = [c for c in df.columns if c != "__retract_live"]
            if len(phys) != len(meta.columns):
                raise ValueError(
                    f"INSERT query produces {len(phys)} columns "
                    f"for {len(meta.columns)} declared columns of "
                    f"{meta.name}"
                )
            # df[src], not F.col(src): a source alias like `sum(v)`
            # must resolve as a NAME, never parse as an expression
            df = df.select(
                [
                    df[src].cast(t).alias(c)
                    for src, (c, t) in zip(phys, meta.columns)
                ]
                + [df[c] for c in df.columns if c == "__retract_live"]
            )
        if meta.distribution is not None:
            df = self._apply_distribution(df, meta)
        if meta.renames and meta.columns:
            # files keep their PHYSICAL column names across RENAME
            # COLUMN — writing the declared name would orphan the
            # column for every read through the rename mapping
            df = df.select(
                [df[c].alias(meta.renames.get(c, c)) for c in df.columns]
            )
        if df.isStreaming:
            # streaming INSERT: start a continuous query into the sink
            # (TableEnvironment.executeSql returns a TableResult whose
            # job keeps running — here, the StreamingQuery handle).
            # Debug sinks run in update mode: Flink's unbounded
            # aggregations emit an updating changelog (+I/-U/+U) to
            # print sinks, which is Spark's update output mode; append
            # there would additionally demand watermarked window
            # grouping. Filesystem stays append (as in Flink, where
            # file sinks require append-only input).
            mode = "update" if meta.connector in ("print", "blackhole") else "append"
            if meta.connector == "print":
                q = df.writeStream.format("console").outputMode(mode).start()
            elif meta.connector == "blackhole":
                q = df.writeStream.format("noop").outputMode(mode).start()
            elif meta.connector == "filesystem":
                fmt = meta.options.get("format", "parquet")
                # snapshot BEFORE the append attempt: if the attempt
                # fails and we fall back to the upsert materializer,
                # only droppings the attempt itself created may be
                # scrubbed — a pre-existing _spark_metadata/_checkpoint
                # belongs to an earlier LEGITIMATE append-mode insert
                # into this table and deleting it would destroy that
                # sink's exactly-once log (r11 review find)
                _p = meta.options.get("path")
                if _p is None:
                    raise ValueError(
                        f"filesystem table {meta.name!r} has no 'path' "
                        "option — a filesystem sink requires one "
                        "(CREATE TABLE ... WITH ('connector'="
                        "'filesystem', 'path'='...'))"
                    )
                _pre_meta = os.path.exists(os.path.join(_p, "_spark_metadata"))
                _pre_ckpt = os.path.exists(os.path.join(_p, "_checkpoint"))
                try:
                    q = (
                        df.writeStream.format(fmt)
                        .option("path", _p)
                        .option(
                            "checkpointLocation",
                            meta.options.get(
                                "checkpoint", _p + "/_checkpoint"
                            ),
                        )
                        .start()
                    )
                except Exception as ex:
                    # updating-plan signatures that mean "this needs the
                    # upsert materializer, not an append file sink":
                    # non-windowed streaming aggregation, and the
                    # stateful changelog-agg fold (applyInPandasWithState
                    # runs in update mode, which an append sink rejects)
                    _upd = (
                        "STREAMING_OUTPUT_MODE" in str(ex),
                        "not supported" in str(ex)
                        and "streaming aggregations" in str(ex),
                        "applyInPandasWithState in update mode"
                        in str(ex),
                    )
                    if not any(_upd):
                        raise
                    # the failed append attempt drops a FileStreamSink
                    # metadata log (and, absent an explicit checkpoint
                    # option, the default in-path checkpoint dir) into
                    # the sink directory.  On a RE-EXECUTED insert the
                    # directory already holds the live upsert table, and
                    # a leftover _spark_metadata makes every plain
                    # parquet read of it resolve against the (empty)
                    # sink log instead of the files — scrub the
                    # droppings before falling back, but ONLY those this
                    # attempt created (the pre-attempt snapshot guards a
                    # legitimate earlier append insert's artifacts).
                    # (FOUND by the r11 upsert_agg restart differential:
                    # the re-executed INSERT's first merge crashed
                    # reading its own table.)  An upsert insert never
                    # creates a _spark_metadata — its snapshots are
                    # plain batch parquet writes.
                    if _pre_meta:
                        # a pre-existing log means an earlier APPEND
                        # streaming insert owns this directory — the
                        # upsert materializer's plain parquet reads and
                        # swap writes cannot coexist with it; fail
                        # clearly rather than crash inside the first
                        # merge (and never delete the append sink's
                        # exactly-once log)
                        raise ValueError(
                            f"table {meta.name!r} at {_p!r} already "
                            "holds an append streaming sink log "
                            "(_spark_metadata) from a previous "
                            "append-mode INSERT — an updating INSERT "
                            "cannot upsert-materialize into it; use a "
                            "fresh table/path for the updating query"
                        )
                    shutil.rmtree(
                        os.path.join(_p, "_spark_metadata"),
                        ignore_errors=True,
                    )
                    if not _pre_ckpt and "checkpoint" not in meta.options:
                        shutil.rmtree(
                            os.path.join(_p, "_checkpoint"),
                            ignore_errors=True,
                        )
                    q = self._upsert_materialized_insert(name, meta, df, fmt)
                self._register_streaming_sink(meta, q)
                return q
            else:
                raise ValueError(
                    f"connector {meta.connector!r} is not stream-writable"
                )
            self._track_job(q)  # SHOW JOBS lifecycle visibility
            return q
        if meta.connector == "filesystem":
            from flink_1_20_spark.sources.connectors import write_file, write_partitioned

            fmt = meta.options.get("format", "parquet")
            mode = "overwrite" if overwrite else "append"
            phys_parts = [meta.renames.get(c, c) for c in meta.partitioned_by]
            if meta.partitioned_by:
                if overwrite and static_partition:
                    # INSERT OVERWRITE t PARTITION (k=v): Flink replaces
                    # ONLY the named partition; Spark's static overwrite
                    # mode would truncate the whole table
                    prev = self.spark.conf.get(
                        "spark.sql.sources.partitionOverwriteMode"
                    )
                    self.spark.conf.set(
                        "spark.sql.sources.partitionOverwriteMode", "dynamic"
                    )
                    try:
                        write_partitioned(
                            df,
                            meta.options["path"],
                            phys_parts,
                            fmt=fmt,
                            mode=mode,
                        )
                    finally:
                        self.spark.conf.set(
                            "spark.sql.sources.partitionOverwriteMode", prev
                        )
                else:
                    write_partitioned(
                        df, meta.options["path"], phys_parts, fmt=fmt, mode=mode
                    )
            else:
                write_file(df, meta.options["path"], fmt=fmt, mode=mode)
            # the write changed the data: ANALYZE stats are stale now, and
            # a grown table must never keep a broadcast verdict it earned
            # when it was small — drop them until the next ANALYZE
            meta.stats = None
            owner = next(
                (d for d, ts in self._dbs.items()
                 if ts.get(meta.name) is meta),
                self.current_db,
            )
            self._register(meta, db=owner)  # refresh the readable view
        elif meta.connector == "print":
            for row in df.collect():
                print(f"+I[{', '.join(str(v) for v in row)}]")
        elif meta.connector == "blackhole":
            df.foreachPartition(lambda _: None)
        else:
            raise ValueError(f"connector {meta.connector!r} is not writable here")

