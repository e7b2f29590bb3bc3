"""Flink-SQL DDL surface: `CREATE TABLE ... WITH ('connector'=...)`.

Reference parity: TableEnvironment.executeSql
(flink-table/flink-table-api-java/.../internal/TableEnvironmentImpl.java:727)
with the WITH-options connector contract resolved by factory discovery
(flink-table/flink-table-common/.../factories/FactoryUtil.java:52). This
module is the §3.1 "DDL/catalog glue we author" — a user's Flink DDL
scripts (filesystem/datagen/print/blackhole connectors, Flink type
names, computed columns, watermark clauses) run against Spark: tables
register as temp views over the mapped connector, queries and DML go
through `spark.sql` (Catalyst does the rest).

Scope: CREATE [TEMPORARY] TABLE [IF NOT EXISTS] ... WITH (...),
DROP TABLE [IF EXISTS], INSERT INTO <table> <query>, and passthrough of
every other statement to `spark.sql`. PRIMARY KEY ... NOT ENFORCED is
accepted and recorded (Flink also never enforces it). Unsupported
connectors raise with the factory-style message rather than guessing.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

# the module prelude (type mapping, text helpers, TableMeta) moved to
# sqlenv.text in r10; re-exported here EXPLICITLY (r11 ADVICE: the old
# star import depended on text.__all__ keeping underscore-private names
# — a dropped name became a late NameError instead of an ImportError at
# module load) so existing imports
# (`from flink_1_20_spark.sql_ddl import flink_type_to_spark, ...`)
# keep working and removals fail loudly
from flink_1_20_spark.sqlenv.text import (  # noqa: F401
    _GENERIC_HEADS,
    _SIMPLE_TYPES,
    TableMeta,
    _apply_watermark,
    _computed_col_expr,
    _ctl_view_name,
    _db_view_name,
    _from_comma_tables,
    _leading_cte_names,
    _match_lexed,
    _option_pairs,
    _scan_streaming_setops,
    _split_on_where,
    _split_top,
    _split_top_all,
    _sql_mask,
    _sql_regions,
    _sub_unquoted,
    flink_type_to_spark,
    spark_type_to_flink,
)
from flink_1_20_spark.sqlenv.catalog_ddl import CatalogDdlMixin
from flink_1_20_spark.sqlenv.dml import DmlMixin
from flink_1_20_spark.sqlenv.materialized import MaterializedMixin
from flink_1_20_spark.sqlenv.streaming_sql import StreamingSqlMixin

class TableEnvironment(
    CatalogDdlMixin, DmlMixin, StreamingSqlMixin, MaterializedMixin
):
    """Minimal executeSql host: DDL → connector mapping, DQL/DML → Catalyst.

    SESSION-GLOBAL SIDE EFFECT: constructing a TableEnvironment sets
    ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` on the shared SparkSession
    for its whole lifetime — Flink's map semantics keep the last value
    on duplicate keys (MapUnionFunction), Spark's default throws.  This
    cannot be scoped to dialect statements: execute_sql returns LAZY
    DataFrames (the caller may collect after any restore) and streaming
    queries evaluate on micro-batch threads long after lowering, so a
    set/restore would flip map semantics mid-query.  Non-dialect Spark
    code sharing the session therefore also gets last-wins duplicate
    map keys; set the conf back explicitly if that code needs the
    EXCEPTION policy (and do not run it concurrently with dialect
    streams that rely on LAST_WIN)."""

    DEFAULT_DB = "default_database"  # Flink's default database name

    DEFAULT_CATALOG = "default_catalog"  # Flink's default catalog name

    # Flink's table.optimizer.join.broadcast-threshold default (bytes)
    BROADCAST_THRESHOLD_DEFAULT = 1024 * 1024

    def __init__(self, spark: SparkSession):
        self.spark = spark
        # catalogs (CatalogManager.java:80, GenericInMemoryCatalog.java:52):
        # catalog -> {type/comment/options, dbs: {db: {table: meta}},
        # current_db}; self._dbs aliases the CURRENT catalog's dbs and
        # self.tables the CURRENT database's dict so unqualified
        # statements keep operating on them directly
        self._dbs: dict[str, dict[str, TableMeta]] = {self.DEFAULT_DB: {}}
        self._catalogs: dict[str, dict] = {
            self.DEFAULT_CATALOG: {
                "type": "generic_in_memory",
                "comment": "",
                "options": {},
                "dbs": self._dbs,
                "current_db": self.DEFAULT_DB,
            }
        }
        self.current_catalog = self.DEFAULT_CATALOG
        self.current_db = self.DEFAULT_DB
        self.tables: dict[str, TableMeta] = self._dbs[self.DEFAULT_DB]
        self.functions: dict[str, str] = {}  # name -> python path
        # database comments/properties (CREATE/ALTER/DESCRIBE DATABASE),
        # view definition SQL (SHOW CREATE VIEW), keyed per catalog.db
        self._db_meta: dict[str, dict[str, str | dict]] = {}
        self._view_sql: dict[str, str] = {}
        # view columns that are PROPAGATED window time attributes
        # (window_time/window_end of an inner window TVF, possibly
        # aliased) — consumed by the cascading-window TVF pre-pass
        self._view_time_attrs: dict[str, set[str]] = {}
        self.session_options: dict[str, str] = {}  # SET 'k' = 'v' store
        # Spark-conf values as they were before our SET mutated them,
        # keyed by the Spark key — RESET restores these (Flink's RESET
        # returns a key to its default, so a reset session must not keep
        # running with the mutated runtime state)
        self._conf_saved: dict[str, str | None] = {}
        self._jars: list[str] = []  # ADD JAR paths (SHOW JARS surface)
        # streaming queries this environment started (SHOW JOBS keeps
        # terminated ones visible with status FINISHED, as Flink does;
        # Spark's manager only lists active queries); start instants by
        # query id feed DESCRIBE JOB's start_time column
        self._started_jobs: list = []
        self._job_started_at: dict = {}
        # filesystem sink tables whose registered view needs a re-read:
        # sink-first tables register as an EMPTY relation (no files at
        # registration), and a streaming job writing a table freezes /
        # (for upserts) invalidates any static file index — both are
        # re-registered at statement entry by _refresh_sink_views so
        # reads observe the current snapshot, as Flink reads the
        # catalog table rather than a cached scan. Keyed by id(meta).
        self._stale_sink_views: dict[int, tuple] = {}
        self._live_sink_views: dict[int, tuple] = {}
        # materialized tables (FLIP-435, CatalogMaterializedTable.java):
        # name -> {meta, definition, freshness_sec, mode, status,
        # query/stop_event handles, last_error} — the backing TableMeta
        # is ALSO in self.tables so reads/DESCRIBE resolve normally
        self._materialized: dict[str, dict] = {}
        # serializes statement lowering against the FULL-mode refresh
        # timer: _batch_source_views swaps global temp views, and a user
        # statement lowered mid-swap would see streaming sources as
        # batch. RLock — execute_sql recurses (views, MT definitions)
        import threading

        self._ddl_lock = threading.RLock()
        # Flink's map semantics keep the LAST value on duplicate keys
        # (MAP_UNION, map literals — MapUnionFunction); Spark's default
        # dedup policy throws instead
        try:
            spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        except Exception:
            pass  # conf locked down (e.g. a connect session) — map

    def _cascade_time_attr(self, table: str, col: str) -> bool:
        """Is `col` a recorded propagated window time attribute of the
        view `table`?  (The cascading-window pre-pass's alias lookup —
        see rewrite_cascading_tvf_sources.)"""
        return col in self._view_time_attrs.get(table, ())

    # -- statement router ------------------------------------------------
    def execute_sql(self, stmt: str) -> DataFrame | None:
        with self._ddl_lock:
            return self._execute_sql_locked(stmt)

    def _execute_sql_locked(self, stmt: str) -> DataFrame | None:
        s = stmt.strip().rstrip(";")
        u = s.upper()
        self._refresh_sink_views()
        # -- catalog statements (SqlCreateCatalogConverter.java,
        # SqlAlterCatalogOptionsConverter.java,
        # SqlDescribeCatalogConverter.java surface) ----------------------
        m = _match_lexed(
            r"CREATE\s+CATALOG\s+(IF\s+NOT\s+EXISTS\s+)?(\S+)"
            r"(?:\s+COMMENT\s+'([^']*)')?"
            r"(?:\s+WITH\s*\((.*)\))?\s*$",
            s,
            re.S | re.I,
        )
        if m:
            return self._create_catalog(
                m.group(2).strip("`"),
                m.group(3) or "",
                m.group(4) or "",
                if_not_exists=bool(m.group(1)),
            )
        m = re.match(r"DROP\s+CATALOG\s+(?:IF\s+EXISTS\s+)?(\S+)$", s, re.I)
        if m:
            cat = m.group(1).strip("`")
            if cat == self.current_catalog:
                raise ValueError("cannot drop the current catalog")
            if cat not in self._catalogs and "IF EXISTS" not in u:
                raise ValueError(f"catalog does not exist: {cat}")
            self._catalogs.pop(cat, None)
            return None
        m = re.match(r"USE\s+CATALOG\s+(\S+)$", s, re.I)
        if m:
            return self._use_catalog(m.group(1).strip("`"))
        m = _match_lexed(
            r"SHOW\s+CATALOGS(?:\s+(NOT\s+)?LIKE\s+'([^']*)')?$", s, re.I
        )
        if m:
            names = self._like_filter(
                sorted(self._catalogs), m.group(2), bool(m.group(1))
            )
            return self.spark.createDataFrame(
                [(c,) for c in names], "catalog_name string"
            )
        if re.match(r"SHOW\s+CURRENT\s+CATALOG$", u):
            return self.spark.createDataFrame(
                [(self.current_catalog,)], "current_catalog_name string"
            )
        m = re.match(r"DESCRIBE\s+CATALOG\s+(EXTENDED\s+)?(\S+)$", s, re.I)
        if m:
            return self._describe_catalog(m.group(2).strip("`"), bool(m.group(1)))
        # SHOW CREATE CATALOG (SqlShowCreateCatalog.java): reconstruct
        # the DDL from the recorded type/comment/options
        m = re.match(r"SHOW\s+CREATE\s+CATALOG\s+(\S+)$", s, re.I)
        if m:
            cname = m.group(1).strip("`")
            entry = self._catalogs.get(cname)
            if entry is None:
                raise ValueError(f"catalog does not exist: {cname}")
            opts = {"type": entry["type"], **entry["options"]}
            declared_db = entry.get("default_db", self.DEFAULT_DB)
            if declared_db != self.DEFAULT_DB:
                opts["default-database"] = declared_db
            comment = (
                f"\nCOMMENT '{entry['comment']}'" if entry["comment"] else ""
            )
            body = ",\n".join(f"  '{k}' = '{v}'" for k, v in opts.items())
            ddl = f"CREATE CATALOG `{cname}`{comment} WITH (\n{body}\n)"
            return self.spark.createDataFrame([(ddl,)], "result string")
        m = re.match(r"ALTER\s+CATALOG\s+(\S+)\s+(.*)$", s, re.S | re.I)
        if m and m.group(1).strip("`") in self._catalogs:
            return self._alter_catalog(m.group(1).strip("`"), m.group(2).strip())
        # -- database statements (CatalogManager.java:80 surface) --------
        m = _match_lexed(
            r"CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\S+)"
            r"(?:\s+COMMENT\s+'([^']*)')?"
            r"(?:\s+WITH\s*\((.*)\))?\s*$",
            s,
            re.S | re.I,
        )
        if m:
            db = m.group(1).strip("`")
            existed = db in self._dbs
            self._dbs.setdefault(db, {})
            if not existed:
                # an IF NOT EXISTS re-run (or duplicate CREATE) must not
                # wipe the comment/properties recorded at first creation
                self._db_meta[f"{self.current_catalog}.{db}"] = {
                    "comment": m.group(2) or "",
                    "properties": dict(_option_pairs(m.group(3) or "")),
                }
            return None
        m = re.match(r"DESCRIBE\s+DATABASE\s+(EXTENDED\s+)?(\S+)$", s, re.I)
        if m:
            db = m.group(2).strip("`")
            if db not in self._dbs:
                raise ValueError(f"database does not exist: {db}")
            meta = self._db_meta.get(f"{self.current_catalog}.{db}", {})
            rows = [
                ("name", db),
                ("comment", str(meta.get("comment", ""))),
            ]
            if m.group(1):
                rows += [
                    (f"property:{k}", v)
                    for k, v in sorted(dict(meta.get("properties", {})).items())
                ]
            return self.spark.createDataFrame(
                rows, "info_name string, info_value string"
            )
        m = re.match(r"ALTER\s+DATABASE\s+(\S+)\s+SET\s*\((.*)\)\s*$", s, re.S | re.I)
        if m:
            db = m.group(1).strip("`")
            if db not in self._dbs:
                raise ValueError(f"database does not exist: {db}")
            meta = self._db_meta.setdefault(
                f"{self.current_catalog}.{db}", {"comment": "", "properties": {}}
            )
            props = dict(meta.setdefault("properties", {}))
            props.update(_option_pairs(m.group(2)))
            meta["properties"] = props
            return None
        m = re.match(
            r"DROP\s+DATABASE\s+(?:IF\s+EXISTS\s+)?(\S+?)"
            r"\s*(CASCADE|RESTRICT)?$",
            s,
            re.I,
        )
        if m:
            db = m.group(1).strip("`")
            if db == self.current_db:
                raise ValueError("cannot drop the current database")
            held = self._dbs.get(db, {})
            if held and (m.group(2) or "RESTRICT").upper() == "RESTRICT":
                raise ValueError(f"database {db} is not empty (use CASCADE)")
            for t in held:
                self.spark.catalog.dropTempView(_db_view_name(db, t))
            self._dbs.pop(db, None)
            return None
        m = re.match(r"USE\s+(\S+)$", s, re.I)
        if m and m.group(1).strip("`") in self._dbs:
            return self._use_database(m.group(1).strip("`"))
        m = _match_lexed(
            r"SHOW\s+DATABASES(?:\s+(NOT\s+)?LIKE\s+'([^']*)')?$", s, re.I
        )
        if m:
            names = self._like_filter(
                sorted(self._dbs), m.group(2), bool(m.group(1))
            )
            return self.spark.createDataFrame(
                [(d,) for d in names], "database_name string"
            )
        if re.match(r"SHOW\s+CURRENT\s+DATABASE$", u):
            return self.spark.createDataFrame(
                [(self.current_db,)], "current_database_name string"
            )
        # -- session clauses (SqlClient SET/RESET/ADD JAR surface,
        # SqlNodeToOperationConversion SqlSet/SqlReset/SqlAddJar paths) --
        m = _match_lexed(r"SET\s+'([^']+)'\s*=\s*'([^']*)'$", s, re.I)
        if m:
            return self._set_option(m.group(1), m.group(2))
        if re.match(r"SET$", u):
            return self.spark.createDataFrame(
                sorted(self.session_options.items()) or [],
                "key string, value string",
            )
        m = _match_lexed(r"RESET\s+'([^']+)'$", s, re.I)
        if m:
            self._reset_option(m.group(1))
            return None
        if re.match(r"RESET$", u):
            for key in list(self.session_options):
                self._reset_option(key)
            return None
        m = _match_lexed(r"ADD\s+JAR\s+'([^']+)'$", s, re.I)
        if m:
            # Spark has a native ADD JAR; route through it so the jar
            # actually lands on the session classpath. Record only after
            # the load succeeds, once per path — SHOW JARS must never
            # list a jar that is not actually on the classpath.
            self.spark.sql(f"ADD JAR '{m.group(1)}'")
            if m.group(1) not in self._jars:
                self._jars.append(m.group(1))
            return None
        m = _match_lexed(r"REMOVE\s+JAR\s+'([^']+)'$", s, re.I)
        if m:
            # Flink unregisters the jar from the session; Spark cannot
            # unload a loaded jar, so this only drops it from SHOW JARS
            # (matching Flink's session-listing semantics best-effort)
            if m.group(1) in self._jars:
                self._jars.remove(m.group(1))
            return None
        if re.match(r"SHOW\s+JARS$", u):
            return self.spark.createDataFrame(
                [(j,) for j in self._jars] or [], "jar string"
            )
        # SHOW JOBS / STOP JOB (FLIP-291 SQL-gateway job lifecycle,
        # SqlShowJobs/SqlStopJob): Flink lists cluster jobs; the Spark
        # analogue is the session's active streaming queries.
        if re.match(r"SHOW\s+JOBS$", u):
            listed: dict[str, tuple] = {}
            for q in self.spark.streams.active:
                listed[q.id] = (q.id, q.name or "", "RUNNING")
            for q in self._started_jobs:  # terminated env jobs stay visible
                if q.id not in listed:
                    listed[q.id] = (q.id, q.name or "", "FINISHED")
            return self.spark.createDataFrame(
                list(listed.values()) or [],
                "job_id string, job_name string, status string",
            )
        # DESCRIBE JOB '<id>' (SqlDescribeJob.java,
        # OperationExecutor.callDescribeJobOperation: one row of
        # job id / name / status / start time; a missing id is an error,
        # not an empty result). Visibility contract matches SHOW JOBS:
        # active session queries plus terminated env-started ones.
        m = _match_lexed(r"(?:DESCRIBE|DESC)\s+JOB\s+'([^']+)'$", s, re.I)
        if m:
            jid = m.group(1)
            target = next(
                (q for q in self.spark.streams.active if q.id == jid), None
            )
            status = "RUNNING"
            if target is None:
                target = next(
                    (q for q in self._started_jobs if q.id == jid), None
                )
                status = "FINISHED"
            if target is None:
                raise ValueError(f"Described job {jid} does not exist")
            started = self._job_started_at.get(jid)
            if started is None:
                # active query this env did not start (e.g. a direct
                # writeStream.start() on the shared session): Flink's
                # JobStatusMessage always carries a start time, so
                # best-effort one — the earliest progress-event
                # timestamp, else the observation instant — and pin it
                # so repeated DESCRIBEs stay stable.
                import datetime as _dt

                for p in target.recentProgress or []:
                    ts = p.get("timestamp")
                    if ts:
                        started = _dt.datetime.fromisoformat(
                            ts.replace("Z", "+00:00")
                        ).replace(tzinfo=None)
                        break
                started = started or _dt.datetime.now()
                self._job_started_at[jid] = started
            return self.spark.createDataFrame(
                [(jid, target.name or "", status, started)],
                "job_id string, job_name string, status string, "
                "start_time timestamp",
            )
        m = _match_lexed(
            r"STOP\s+JOB\s+'([^']+)'(\s+WITH\s+SAVEPOINT)?(\s+WITH\s+DRAIN)?$",
            s,
            re.I,
        )
        if m:
            if m.group(2):
                raise ValueError(
                    "STOP JOB WITH SAVEPOINT is a non-goal here (savepoint "
                    "manipulation — SURVEY §7); use plain STOP JOB"
                )
            target = next(
                (q for q in self.spark.streams.active if q.id == m.group(1)),
                None,
            )
            if target is None:
                raise ValueError(f"no such job: {m.group(1)}")
            if m.group(3):
                # WITH DRAIN: process currently-available input, then
                # stop. processAllAvailable() never returns while a
                # source keeps producing (Spark documents this), so the
                # drain is BOUNDED: wait up to the configured timeout,
                # then stop regardless — Flink's drain terminates even
                # on unbounded sources (watermark → +inf); a hung
                # execute_sql would not.
                import threading

                timeout = float(
                    self.session_options.get("stop-job.drain-timeout-sec", "30")
                )
                waiter = threading.Thread(
                    target=target.processAllAvailable, daemon=True
                )
                waiter.start()
                waiter.join(timeout)
            target.stop()
            return None
        # SHOW [FULL] MODULES: the module system is a documented non-goal
        # (SURVEY §7 — Spark's function registry is session-fixed), but
        # the listing surface reports the resolved state truthfully:
        # exactly the core module, enabled.
        # SHOW PROCEDURES (SqlShowProcedures.java): the generic
        # in-memory catalog exposes no procedures — an empty listing is
        # the truthful answer (Flink's GenericInMemoryCatalog returns
        # the same); CALL therefore always fails to resolve.
        if re.match(r"SHOW\s+PROCEDURES(\s+.*)?$", u):
            return self.spark.createDataFrame([], "procedure_name string")
        m = re.match(r"CALL\s+(\S+)", s, re.I)
        if m:
            raise ValueError(
                f"procedure not found: {m.group(1)} (the generic in-memory "
                "catalog defines no procedures — SqlShowProcedures.java "
                "surface; see SURVEY §7)"
            )
        # COMPILE/EXECUTE PLAN (SqlCompilePlan.java): Flink's JSON
        # compiled plans are version-upgrade machinery for its own
        # ExecNode graph — there is no Spark analog to persist
        # (Catalyst plans are not a stable serialization format).
        if re.match(r"(COMPILE|EXECUTE)\s+PLAN\b", u):
            raise ValueError(
                "COMPILE/EXECUTE PLAN is a documented non-goal: Flink's "
                "JSON compiled plans pin its ExecNode graph across version "
                "upgrades; Catalyst has no stable plan serialization to "
                "target (SURVEY §7)"
            )
        # EXECUTE STATEMENT SET BEGIN <insert>; ... END (SqlStatementSet
        # .java) — textual form of the programmatic statement set: shared
        # scans persisted for the set's duration, every INSERT runs
        m = re.match(
            r"EXECUTE\s+STATEMENT\s+SET\s+BEGIN\s+(.*?)\s*;?\s*END$",
            s,
            re.S | re.I,
        )
        if m:
            stmts = [x.strip() for x in _split_top_all(m.group(1), ";") if x.strip()]
            if not stmts:
                raise ValueError("empty STATEMENT SET")
            return self.execute_statement_set(stmts)
        # EXECUTE <statement> (SqlExecute.java): a transparent wrapper —
        # unwrap and re-dispatch (PLAN / STATEMENT SET matched above)
        m = re.match(r"EXECUTE\s+(.+)$", s, re.S | re.I)
        if m:
            return self._execute_sql_locked(m.group(1))
        if (
            re.match(r"CREATE\s+(TEMPORARY\s+)?MODEL\s+\S", u)
            or re.match(r"(DROP|ALTER)\s+MODEL\s+\S", u)
            or re.match(r"(DESCRIBE|DESC)\s+MODEL\s+\S", u)
            or re.match(r"SHOW\s+CREATE\s+MODEL\s+\S", u)
            or re.match(r"SHOW\s+MODELS\b", u)
        ):
            # \s+\S: a model STATEMENT names a model — `DESC model`
            # against a TABLE named model must reach the generic
            # DESCRIBE handler, not this trap
            # the whole family (SqlCreateModel/SqlAlterModel/SqlDropModel/
            # SqlRichDescribeModel/SqlShowCreateModel/SqlShowModels) fails
            # with ONE documented message instead of a raw ParseException
            raise ValueError(
                "model DDL is a documented non-goal: Flink's model "
                "statements (SqlCreateModel.java and siblings) front "
                "external model providers the generic in-memory catalog "
                "does not have (SURVEY §7)"
            )
        if re.match(r"SHOW\s+FULL\s+MODULES$", u):
            return self.spark.createDataFrame(
                [("core", True)], "module_name string, used boolean"
            )
        if re.match(r"SHOW\s+MODULES$", u):
            return self.spark.createDataFrame([("core",)], "module_name string")
        # USE MODULES m1[, m2...] (SqlUseModules.java): re-orders the
        # enabled set among LOADED modules — only core is ever loaded
        # here (LOAD MODULE is the documented non-goal), so the only
        # valid ordering is ['core']; anything else is the reference's
        # "module ... is not loaded" validation error
        m = re.match(r"USE\s+MODULES\s+(.+)$", s, re.I)
        if m:
            mods = [x.strip().strip("`") for x in m.group(1).split(",")]
            bad = [x for x in mods if x.lower() != "core"]
            if bad:
                raise ValueError(
                    f"No module with name '{bad[0]}' exists (only the "
                    "core module is loaded; LOAD MODULE is a documented "
                    "non-goal — SURVEY §7)"
                )
            return None
        # qualified-name rewrites, ONE regex pass each (not a loop over
        # every registered table): extract dotted candidates, rewrite
        # only those that resolve to a registered table. 3-part
        # `catalog.db.table` first so the 2-part pass never partially
        # rewrites its tail (the lookbehind also blocks matching right
        # after a dot); quoted text and comments are never touched
        # ("x.y" is a string literal, `x.y` one identifier).
        if "." in s:

            def _repl3(mm: re.Match) -> str:
                centry = self._catalogs.get(mm.group(1))
                if centry and mm.group(3) in centry["dbs"].get(mm.group(2), {}):
                    return _ctl_view_name(mm.group(1), mm.group(2), mm.group(3))
                return mm.group(0)

            def _repl2(mm: re.Match) -> str:
                if mm.group(2) in self._dbs.get(mm.group(1), {}):
                    return _db_view_name(mm.group(1), mm.group(2))
                return mm.group(0)

            s = _sub_unquoted(s, r"(?<![\w.])(\w+)\.(\w+)\.(\w+)\b", _repl3)
            s = _sub_unquoted(s, r"(?<![\w.])(\w+)\.(\w+)\b", _repl2)
        u = s.upper()
        # TRUNCATE TABLE (SqlTruncateTable, Flink 1.18+): filesystem
        # tables overwrite their path with an empty relation of the
        # declared schema. Sits AFTER the qualified-name rewrite so
        # `TRUNCATE TABLE db.t` resolves via the mangled form, and
        # refreshes BOTH registered views through _register (the bare
        # name and the __cat_<db>__<table> alias) so qualified reads
        # never dangle on the deleted files.
        m = re.match(r"TRUNCATE\s+TABLE\s+(\S+)$", s, re.I)
        if m:
            name = m.group(1).strip("`")
            meta = self._resolve_meta(name)
            if meta is None:
                raise ValueError(f"unknown table: {name}")
            if meta.connector != "filesystem":
                raise ValueError(
                    f"TRUNCATE TABLE: connector {meta.connector!r} has no data to truncate"
                )
            from flink_1_20_spark.sources.connectors import write_file

            schema = ", ".join(f"{c} {t}" for c, t in meta.columns)
            empty = self.spark.createDataFrame([], schema=schema)
            write_file(
                empty,
                meta.options["path"],
                fmt=meta.options.get("format", "parquet"),
                mode="overwrite",
            )
            owner = next(
                (d for d, ts in self._dbs.items() if ts.get(meta.name) is meta),
                self.current_db,
            )
            self._register(meta, db=owner)
            return None
        # DELETE FROM t [WHERE cond] / UPDATE t SET ... [WHERE cond]
        # (FLIP-282 batch row-level modifications, Flink 1.17+:
        # DeletePushDownUtils + SupportsRowLevelDelete/Update,
        # DeleteTableITCase/UpdateTableITCase semantics — one
        # rows-affected row back, streaming mode rejected)
        m = re.match(r"DELETE\s+FROM\s+(\S+)(?:\s+WHERE\s+(.*))?$", s, re.S | re.I)
        if m:
            return self._delete_from(m.group(1).strip("`"), m.group(2))
        m = re.match(r"UPDATE\s+(\S+)\s+SET\s+(.*)$", s, re.S | re.I)
        if m:
            # WHERE split must ignore literals ('a WHERE b' in a SET
            # value is data, not a clause boundary)
            set_clause, cond = _split_on_where(m.group(2))
            return self._update_table(m.group(1).strip("`"), set_clause, cond)
        # ANALYZE TABLE t [PARTITION(...)] COMPUTE STATISTICS
        # [FOR COLUMNS c1, ... | FOR ALL COLUMNS]
        # (SqlNodeToOperationConversion.java:1112 convertAnalyzeTable) —
        # the collected stats feed the broadcast-join decision exactly as
        # Flink's planner consumes CatalogTableStatistics against
        # table.optimizer.join.broadcast-threshold.
        m = re.match(
            r"ANALYZE\s+TABLE\s+(\S+?)(?:\s+PARTITION\s*\(([^)]*)\))?"
            r"\s+COMPUTE\s+STATISTICS"
            r"(?:\s+FOR\s+(?:(ALL)\s+COLUMNS|COLUMNS\s+(.+)))?$",
            s,
            re.S | re.I,
        )
        if m:
            return self._analyze_table(
                m.group(1).strip("`"),
                m.group(2),
                all_columns=bool(m.group(3)),
                columns=m.group(4),
            )
        # -- materialized tables (FLIP-435: SqlCreateMaterializedTable.java:47,
        # SqlAlterMaterializedTable{Suspend,Resume,Refresh,Freshness,
        # RefreshMode,AsQuery}.java, SqlDropMaterializedTable.java,
        # CatalogMaterializedTable.java, IntervalFreshness.java) ---------
        if re.match(r"CREATE\s+MATERIALIZED\s+TABLE\b", u):
            return self._create_materialized_table(s)
        m = re.match(
            r"DROP\s+MATERIALIZED\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?(\S+)$", s, re.I
        )
        if m:
            return self._drop_materialized_table(
                m.group(2).strip("`"), bool(m.group(1))
            )
        m = re.match(r"ALTER\s+MATERIALIZED\s+TABLE\s+(\S+)\s+(.*)$", s, re.S | re.I)
        if m:
            return self._alter_materialized_table(
                m.group(1).strip("`"), m.group(2).strip()
            )
        # CTAS / RTAS (SqlCreateTableAs.java:69, SqlReplaceTableAs.java):
        # schema inferred from the query, WITH options optional (a
        # managed warehouse path is derived when absent). Matched before
        # the plain CREATE TABLE branch; a column body right after the
        # table name keeps this regex from matching.
        # a real token break (\s+) is required before WITH/AS so a table
        # name merely ENDING in "as" (atlas, deltas) can never donate its
        # tail to the AS keyword via backtracking
        m = re.match(
            r"CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?"
            r"(`?[\w.]+`?)(?:\s+WITH\s*\((.*?)\))?\s+AS\s+(.+)$",
            s,
            re.S | re.I,
        )
        if m:
            return self._create_table_as(
                m.group(3).strip("`"),
                bool(m.group(1)),
                bool(m.group(2)),
                m.group(4) or "",
                m.group(5).strip(),
            )
        if re.match(r"CREATE\s+(TEMPORARY\s+)?TABLE\b", u):
            # LIKE form first, guarded hard (base must be a KNOWN table
            # and the trailing parens must hold only feature clauses) so
            # a LIKE inside a computed-column expression can't match
            m = re.match(
                r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                r"(\S+)\s*(?:\((.*?)\)\s*)?(?:WITH\s*\((.*?)\)\s*)?"
                r"LIKE\s+(\S+)\s*(?:\((.*)\))?\s*$",
                s,
                re.S | re.I,
            )
            _feats_ok = m and re.fullmatch(
                r"\s*(?:(?:INCLUDING|EXCLUDING|OVERWRITING)\s+\w+\s*,?\s*)*",
                m.group(5) or "",
                re.I,
            )
            if m and m.group(4).strip("`") in self.tables and _feats_ok:
                return self._create_table_like(
                    m.group(1).strip("`"),
                    m.group(2) or "",
                    m.group(3) or "",
                    m.group(4).strip("`"),
                    m.group(5) or "",
                )
            return self._create_table(s)
        if re.match(r"DROP\s+TABLE\b", u):
            return self._drop_table(s)
        # CREATE [TEMPORARY] VIEW → Spark temp view (Flink views are
        # catalog-scoped; session-scoped is the right mapping here)
        m = re.match(
            r"CREATE\s+(?:TEMPORARY\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?(\S+)\s+AS\s+(.*)$",
            s,
            re.S | re.I,
        )
        if m:
            body = self.execute_sql(m.group(2))
            vname = m.group(1).strip("`")
            body.createOrReplaceTempView(vname)
            self._view_sql[vname] = m.group(2).strip()  # SHOW CREATE VIEW
            # replacing a view invalidates any time-attr record and any
            # cascade-rebuilt sibling derived from the OLD body — a new
            # record is laid down below only if the new body has a TVF
            self._view_time_attrs.pop(vname, None)
            self.spark.catalog.dropTempView(f"{vname}__cascade_wm")
            # cascading windows: record which of this view's columns
            # are propagated window time attributes — window_time of
            # an inner window TVF, under whatever alias the view gave
            # it (the reference REQUIRES aliasing in the inner view to
            # avoid clashing with the outer TVF's own window columns;
            # window-agg.md 'cascading window aggregation' aliases
            # window_time AS rowtime — and ONLY window_time stays a
            # time attribute of a window agg's output there).  The
            # regex also sees subquery projections — harmlessly
            # conservative: such a column is still a window attribute
            # of SOME layer of this view.
            if re.search(
                r"\bTABLE\s*\(\s*(?:TUMBLE|HOP|CUMULATE|SESSION)\s*\(",
                m.group(2),
                re.I,
            ):
                self._view_time_attrs[vname] = {
                    (mm.group(2) or mm.group(1)).lower()
                    for mm in re.finditer(
                        r"\b(window_time)\b"
                        r"(?:\s+AS\s+`?(\w+)`?)?",
                        m.group(2),
                        re.I,
                    )
                }
            return None
        if re.match(r"DROP\s+(?:TEMPORARY\s+)?VIEW\b", u):
            name = s.split()[-1].strip("`")
            self.spark.catalog.dropTempView(name)
            self.spark.catalog.dropTempView(f"{name}__cascade_wm")
            self._view_sql.pop(name, None)
            self._view_time_attrs.pop(name, None)
            return None
        m = re.match(r"SHOW\s+CREATE\s+VIEW\s+(\S+)$", s, re.I)
        if m:
            vname = m.group(1).strip("`")
            sql_body = self._view_sql.get(vname)
            if sql_body is None:
                raise ValueError(f"view not found: {vname}")
            return self.spark.createDataFrame(
                [(f"CREATE VIEW `{vname}` AS {sql_body}",)], "result string"
            )
        # CREATE [TEMPORARY] [SYSTEM] FUNCTION name AS 'target' — Flink
        # registers a class by fully-qualified name
        # (SqlNodeToOperationConversion CREATE FUNCTION path,
        # flink-table-common/.../functions/); here the target is a
        # Python path `module.attr` resolving to a pyspark UDF/UDTF, a
        # Flink-style class with .eval, or a plain callable.
        m = _match_lexed(
            r"CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?(\S+)\s+AS\s+'([^']+)'"
            r"(?:\s+LANGUAGE\s+(\w+))?$",
            s,
            re.I,
        )
        if m:
            return self._create_function(
                m.group(1).strip("`"), m.group(2), (m.group(3) or "PYTHON")
            )
        m = re.match(
            r"DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
            r"(?:IF\s+EXISTS\s+)?(\S+)$",
            s,
            re.I,
        )
        if m:
            self.functions.pop(m.group(1).strip("`"), None)
            return None
        # SHOW TABLES/VIEWS/FUNCTIONS [(FROM|IN) [catalog.]db]
        # [[NOT] LIKE '<sql pattern>'] (SqlShowTables.java:52 — Flink
        # 1.20 added the scoping/filter clauses to all three listings)
        m = _match_lexed(
            r"SHOW\s+TABLES"
            r"(?:\s+(?:FROM|IN)\s+(\S+))?"
            r"(?:\s+(NOT\s+)?LIKE\s+'([^']*)')?$",
            s,
            re.I,
        )
        if m:
            if m.group(1):
                scope = m.group(1).strip("`")
                cat, _, db = scope.rpartition(".")
                if cat and cat not in self._catalogs:
                    raise ValueError(f"catalog does not exist: {cat}")
                dbs = self._catalogs[cat]["dbs"] if cat else self._dbs
                if db not in dbs:
                    raise ValueError(f"database does not exist: {scope}")
                names = set(dbs[db])
            else:
                names = set(self.tables) | {
                    t.name for t in self.spark.catalog.listTables()
                }
            names = sorted(n for n in names if not n.startswith("__"))
            names = self._like_filter(names, m.group(3), bool(m.group(2)))
            return self.spark.createDataFrame(
                [(n,) for n in names], "table_name string"
            )
        m = _match_lexed(
            r"SHOW\s+VIEWS(?:\s+(NOT\s+)?LIKE\s+'([^']*)')?$", s, re.I
        )
        if m:
            names = sorted(
                t.name
                for t in self.spark.catalog.listTables()
                if t.tableType == "TEMPORARY"
                and t.name not in self.tables
                and not t.name.startswith("__")  # internal helper views
            )
            names = self._like_filter(names, m.group(2), bool(m.group(1)))
            return self.spark.createDataFrame(
                [(n,) for n in names], "view_name string"
            )
        m = _match_lexed(
            r"SHOW\s+(?:USER\s+)?FUNCTIONS(?:\s+(NOT\s+)?LIKE\s+'([^']*)')?$",
            s,
            re.I,
        )
        if m:
            names = self._like_filter(
                sorted(self.functions), m.group(2), bool(m.group(1))
            )
            return self.spark.createDataFrame(
                [(n,) for n in names], "function_name string"
            )
        # ALTER VIEW v RENAME TO v2 / ALTER VIEW v AS <query>
        # (SqlAlterViewRenameConverter.java, SqlAlterViewAsConverter.java)
        m = re.match(
            r"ALTER\s+VIEW\s+(\S+)\s+(?:RENAME\s+TO\s+(\S+)|AS\s+(.*))$",
            s,
            re.S | re.I,
        )
        if m:
            vname = m.group(1).strip("`")
            if vname not in self._view_sql:
                raise ValueError(f"view not found: {vname}")
            if m.group(2):
                new = m.group(2).strip("`")
                if new in self._view_sql or new in self.tables:
                    raise ValueError(f"object already exists: {new}")
                body = self._view_sql[vname]
                # re-derive under the NEW name first — a failing body
                # must leave the old view fully intact (and only then
                # mutate the bookkeeping)
                self.execute_sql(body).createOrReplaceTempView(new)
                self._view_sql[new] = body
                self._view_sql.pop(vname)
                self.spark.catalog.dropTempView(vname)
            else:
                body = m.group(3).strip()
                self.execute_sql(body).createOrReplaceTempView(vname)
                self._view_sql[vname] = body
            return None
        # ALTER FUNCTION f AS 'new.target' (SqlAlterFunction.java)
        m = _match_lexed(
            r"ALTER\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
            r"(?:IF\s+EXISTS\s+)?(\S+)\s+AS\s+'([^']+)'"
            r"(?:\s+LANGUAGE\s+\w+)?$",
            s,
            re.I,
        )
        if m:
            fname = m.group(1).strip("`")
            if fname not in self.functions and "IF EXISTS" not in u:
                raise ValueError(f"function not found: {fname}")
            if fname in self.functions:
                # spark.udf.register overwrites in place — re-resolving
                # the new target IS the replace
                self._create_function(fname, m.group(2), "PYTHON")
            return None
        m = re.match(r"(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(\S+)$", s, re.I)
        if m and not re.match(r"(?:DESCRIBE|DESC)\s+(?:SELECT|WITH|VALUES)\b", s, re.I):
            return self._describe(m.group(1).strip("`"))
        # SHOW COLUMNS (FROM|IN) t [[NOT] LIKE '<sql pattern>'] — the
        # DESCRIBE shape filtered by column name (SqlShowColumns)
        m = _match_lexed(
            r"SHOW\s+COLUMNS\s+(?:FROM|IN)\s+(\S+?)"
            r"(?:\s+(NOT\s+)?LIKE\s+'([^']*)')?$",
            s,
            re.I,
        )
        if m:
            from pyspark.sql import functions as F

            out = self._describe(m.group(1).strip("`"))
            if m.group(3) is not None:
                like = F.col("name").like(m.group(3))
                out = out.filter(~like if m.group(2) else like)
            return out
        m = re.match(r"SHOW\s+CREATE\s+TABLE\s+(\S+)$", s, re.I)
        if m:
            return self._show_create_table(m.group(1).strip("`"))
        # SHOW PARTITIONS t [PARTITION (k=v[, ...])]
        # (SqlShowPartitionsConverter.java — Flink lists the catalog
        # partitions of a partitioned table, optionally filtered by a
        # partial spec; here partitions ARE the filesystem directories)
        m = re.match(
            r"SHOW\s+PARTITIONS\s+(\S+?)(?:\s+PARTITION\s*\(([^)]*)\))?$",
            s,
            re.I,
        )
        if m:
            return self._show_partitions(m.group(1).strip("`"), m.group(2))
        m = re.match(r"ALTER\s+TABLE\s+(\S+)\s+(.*)$", s, re.S | re.I)
        if m and m.group(1).strip("`") in self.tables:
            return self._alter_table(m.group(1).strip("`"), m.group(2).strip())
        # INSERT [INTO|OVERWRITE] t [PARTITION (k=v, ...)] [(col, ...)]
        # <query> — static partition spec (SqlNodeToOperationConversion
        # convertSqlInsert: staticPartitions) and partial-column inserts
        # (Flink 1.14+ column lists; missing columns fill NULL). One
        # parser shared with EXECUTE STATEMENT SET.
        parsed = self._parse_insert(s)
        if parsed is not None:
            return self._insert_into(*parsed[:2], **parsed[2])
        m = re.match(r"INSERT\s+(INTO|OVERWRITE)\s+(\S+)\s+(.*)$", s, re.S | re.I)
        if m:
            return self._insert_into(
                m.group(2).strip("`"),
                m.group(3),
                overwrite=m.group(1).upper() == "OVERWRITE",
            )
        # EXPLAIN [PLAN FOR | <details>] <stmt> — Flink's EXPLAIN surface
        # (SqlRichExplain + ExplainDetail): ESTIMATED_COST maps to
        # Spark's cost mode, JSON_EXECUTION_PLAN to the formatted plan
        # (the structured rendering Spark offers); CHANGELOG_MODE has no
        # Spark analog (Catalyst plans carry no RowKind annotation) and
        # says so. EXPLAIN over an INSERT explains the SOURCE pipeline —
        # the sink side is a connector write with no Catalyst plan.
        m = re.match(
            r"EXPLAIN\s+(?:PLAN\s+FOR\s+)?"
            r"(?:(ESTIMATED_COST|JSON_EXECUTION_PLAN|CHANGELOG_MODE|PLAN_ADVICE)\s+)?(.*)$",
            s,
            re.S | re.I,
        )
        if m and not re.match(r"EXPLAIN\s+(FORMATTED|EXTENDED|CODEGEN|COST)\b", s, re.I):
            detail = (m.group(1) or "").upper()
            if detail == "CHANGELOG_MODE":
                raise ValueError(
                    "EXPLAIN CHANGELOG_MODE is Flink-planner-specific "
                    "(+I/-U/+U/-D annotations on every ExecNode); Catalyst "
                    "plans carry no RowKind — use plain EXPLAIN, and the "
                    "streaming sink's output mode (append/update) for the "
                    "changelog contract"
                )
            mode = {"ESTIMATED_COST": "COST ", "JSON_EXECUTION_PLAN": "FORMATTED "}.get(
                detail, ""
            )
            body = m.group(2)
            im = re.match(
                r"INSERT\s+(?:INTO|OVERWRITE)\s+\S+"
                r"(?:\s+PARTITION\s*\([^)]*\))?\s*(?:\([\w\s,`]+\)\s*)?"
                r"\s+(.*)$",
                body,
                re.S | re.I,
            )
            if im:
                body = im.group(1)  # explain the source pipeline
            from flink_1_20_spark.sql_flink import (
                rewrite_flink_builtins,
                rewrite_legacy_group_windows,
                rewrite_unnest,
                rewrite_window_tvfs,
            )

            rewritten = rewrite_flink_builtins(
                rewrite_unnest(
                    rewrite_legacy_group_windows(rewrite_window_tvfs(body))
                )
            )
            if detail == "PLAN_ADVICE":
                return self._explain_plan_advice(rewritten)
            return self.spark.sql("EXPLAIN " + mode + rewritten)
        if re.search(r"FOR\s+SYSTEM_TIME\s+AS\s+OF", s, re.I):
            return self._temporal_join(s)
        # Flink dialect → Spark SQL (window TVFs, legacy group windows,
        # MATCH_RECOGNIZE); plain statements pass through to Catalyst.
        from flink_1_20_spark.sql_flink import (
            rewrite_flink_builtins,
            rewrite_legacy_group_windows,
            rewrite_unnest,
            rewrite_window_tvfs,
            run_match_recognize,
        )

        # Flink-only hints: OPTIONS('k'='v') dynamic table options and
        # LOOKUP(...) tuning have no Spark analog (the lookup path
        # broadcasts already) and their quoted-key syntax breaks Spark's
        # hint parser — strip them. BROADCAST / SHUFFLE_HASH /
        # SHUFFLE_MERGE hints share Spark's names and pass through.
        for a, b, kind in reversed(_sql_regions(s)):
            if kind == "/*" and re.match(r"/\*\+\s*(?:OPTIONS|LOOKUP)\s*\(", s[a:b], re.I):
                s = s[:a] + s[b:]
        from flink_1_20_spark.sql_flink import rewrite_streaming_session_tvf

        s = self._rank1_ties_broken(s)
        dedup = self._try_streaming_dedup(s)
        if dedup is not None:
            return dedup
        over = self._try_streaming_over(s)
        if over is not None:
            return over
        s = rewrite_streaming_session_tvf(s, self._is_streaming_table)
        s = self._rewrite_cascading_tvf_sources(s)
        s = rewrite_unnest(rewrite_legacy_group_windows(rewrite_window_tvfs(s)))
        s = rewrite_flink_builtins(s)
        if re.search(r"\bMATCH_RECOGNIZE\b", u):
            return run_match_recognize(self.spark, s)
        return self._sql_streaming_lowered(s)

    # -- session options -------------------------------------------------
    # Flink config keys with a direct Spark runtime analog; everything
    # else is recorded in the session store (visible via bare SET) so
    # scripts that tune Flink-only knobs run unchanged.
    _OPTION_MAP = {
        "table.exec.resource.default-parallelism": "spark.sql.shuffle.partitions",
        "parallelism.default": "spark.sql.shuffle.partitions",
        "table.local-time-zone": "spark.sql.session.timeZone",
    }

    def _spark_key(self, key: str) -> str | None:
        target = self._OPTION_MAP.get(key)
        if target is None and key.startswith("spark."):
            # direct Spark conf passthrough for hybrid scripts
            target = key
        return target

    def _set_option(self, key: str, value: str) -> None:
        self.session_options[key] = value
        target = self._spark_key(key)
        if target is not None:
            if target not in self._conf_saved:
                self._conf_saved[target] = self.spark.conf.get(target, None)
            self.spark.conf.set(target, value)
        if key == "table.optimizer.join.broadcast-threshold":
            self._reapply_broadcast_verdicts()
        return None

    def _reapply_broadcast_verdicts(self) -> None:
        """The broadcast hint is baked into a table's registered view, so
        a threshold change must re-register every analyzed table — in
        EVERY catalog, not just the current one (Flink reads the
        threshold at plan time; this is the registration-time
        equivalent). Each table re-registers under its owning
        catalog/db so foreign namespaces never clobber the current
        database's bare views."""
        for cat, centry in self._catalogs.items():
            for db, tbls in centry["dbs"].items():
                for meta in tbls.values():
                    if meta.stats is not None and "size_bytes" in meta.stats:
                        self._register(meta, db=db, catalog=cat)

    def _track_job(self, q) -> None:
        """Record an env-started streaming query for the job-lifecycle
        surface: SHOW JOBS keeps it visible after termination, DESCRIBE
        JOB reports its start instant (Flink's JobStatusMessage carries
        the cluster-side start time; the env's observation of .start()
        returning is the Spark-session equivalent)."""
        import datetime as _dt

        self._started_jobs.append(q)
        self._job_started_at[q.id] = _dt.datetime.now()

    def _explain_plan_advice(self, query: str) -> DataFrame:
        """EXPLAIN PLAN_ADVICE (SqlRichExplain.java + ExplainDetail;
        rendered like the reference's '== Optimized Physical Plan With
        Advice ==' section with numbered advice lines, PlanAdvice.java).
        Flink ships two PlanAnalyzers — GroupAggregationAnalyzer
        (two-phase agg tuning) and NonDeterministicUpdateAnalyzer (NDU
        correctness risk, FlinkStreamPlanAnalyzers.java); Catalyst
        already plans two-phase aggregation unconditionally, so the
        Spark-side analyzers target the plan risks that actually matter
        here: quadratic joins, broadcast opportunities the ANALYZE
        machinery can unlock, row-at-a-time Python, filters that never
        reached the scan, and nondeterminism in streaming plans."""
        df = self.spark.sql(query)
        jqe = df._jdf.queryExecution()
        try:
            mode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode
            plan = jqe.explainString(mode.fromString("formatted"))
        except Exception:
            plan = jqe.toString()
        advice: list[tuple[str, str]] = []
        if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan):
            advice.append((
                "WARNING",
                "join without a usable equi-condition (CartesianProduct/"
                "BroadcastNestedLoopJoin): O(|build| x |probe|) work at "
                "scale — add an equality predicate, or quantize range/"
                "interval conditions onto band keys so the join becomes "
                "an equi-join",
            ))
        if "SortMergeJoin" in plan:
            advice.append((
                "ADVICE",
                "sort-merge join in the plan: if one side is small, run "
                "ANALYZE TABLE <t> COMPUTE STATISTICS so the measured "
                "size drives a broadcast join under "
                "'table.optimizer.join.broadcast-threshold' and the "
                "shuffle+sort disappears",
            ))
        if "BatchEvalPython" in plan:
            advice.append((
                "WARNING",
                "row-at-a-time Python UDF (BatchEvalPython): each row "
                "crosses the JVM/Python boundary pickled — a pandas UDF "
                "(ArrowEvalPython, vectorized over Arrow batches) is "
                "typically 10-100x faster",
            ))
        # a pushed-filter list that is empty or carries only the
        # IsNotNull guards means the real predicate stayed in a Filter
        # node above the scan (Spark always pushes IsNotNull for
        # non-null comparisons, so its presence alone is not pushdown).
        # Only claimed for single-scan plans: with several scans the
        # empty list and the Filter node can belong to DIFFERENT scans
        # (e.g. a join whose other side pushed its predicate fine), and
        # pairing them textually would fabricate advice.
        if plan.count("PushedFilters:") == 1 and re.search(
            r"PushedFilters:\s*\[(?:\s*IsNotNull\([^)]*\)\s*,?)*\]", plan
        ) and re.search(r"\(\d+\)\s+Filter\b|\*\s+Filter\b", plan):
            advice.append((
                "ADVICE",
                "a Filter sits above a scan whose PushedFilters is empty: "
                "predicates on raw source columns push into the parquet "
                "reader; predicates on computed expressions do not — "
                "filter on the stored column (or store the derived "
                "column) so row groups can be skipped",
            ))
        # quoted text and comments are blanked before the scan (a
        # '%now(%' LIKE pattern is not a call); ANSI niladic forms
        # (current_timestamp without parens) match as bare words, and
        # unix_timestamp only in its zero-arg form (with arguments it
        # is a deterministic parse)
        scrubbed = _sql_mask(query, idents=True)
        if df.isStreaming and re.search(
            r"\b(?:rand|randn|uuid|shuffle|monotonically_increasing_id"
            r")\s*\(|\bunix_timestamp\s*\(\s*\)|"
            r"\b(?:current_timestamp|current_date|localtimestamp|"
            r"now\s*\(\s*\))",
            scrubbed,
            re.I,
        ):
            advice.append((
                "WARNING",
                "non-deterministic function in a streaming query: "
                "micro-batch retries and changelog updates can recompute "
                "it to a DIFFERENT value (the reference's "
                "NonDeterministicUpdateAnalyzer raises the same NDU "
                "warning) — materialize the value at ingestion time "
                "instead of computing it in the pipeline",
            ))
        lines = "\n".join(
            f"advice[{i}]: [{kind}] {content}"
            for i, (kind, content) in enumerate(advice, start=1)
        ) or "No available advice..."
        return self.spark.createDataFrame(
            [(f"== Physical Plan With Advice ==\n{plan}\n\n{lines}\n",)],
            "plan string",
        )

    def _reset_option(self, key: str) -> None:
        self.session_options.pop(key, None)
        target = self._spark_key(key)
        if target is not None and target in self._conf_saved:
            prev = self._conf_saved.pop(target)
            if prev is None:
                self.spark.conf.unset(target)
            else:
                self.spark.conf.set(target, prev)
            # aliasing Flink keys (e.g. parallelism.default AND
            # table.exec.resource.default-parallelism both map to
            # spark.sql.shuffle.partitions): if another session option
            # still targets this conf, it must keep applying — re-set it
            # and keep the ORIGINAL restore point for its own reset
            for k, v in self.session_options.items():
                if self._spark_key(k) == target:
                    self._conf_saved[target] = prev
                    self.spark.conf.set(target, v)
                    break
        if key == "table.optimizer.join.broadcast-threshold":
            self._reapply_broadcast_verdicts()

    # -- programmatic Table API entry points ------------------------------
    # TableEnvironment.from(path) / fromValues / sqlQuery /
    # createStatementSet (TableEnvironment.java surface) — return the
    # fluent Table facade so DDL-registered tables compose with the
    # Table API without re-reading sources.
    def from_path(self, path: str):
        from flink_1_20_spark.table_api import Table

        # each path segment may be quoted independently (`db`.`tbl`)
        segs = [p.strip().strip("`") for p in path.split(".")]
        if len(segs) == 2:
            db, tbl = segs
            if db in self._dbs and tbl in self._dbs[db]:
                return Table(self.spark.table(_db_view_name(db, tbl)))
        return Table(self.spark.table(".".join(segs)))

    def from_elements(self, elements, schema=None):
        from flink_1_20_spark.table_api import Table

        return Table(self.spark.createDataFrame(elements, schema))

    def sql_query(self, sql: str):
        from flink_1_20_spark.table_api import Table

        # reject non-queries by SHAPE before executing: Flink's sqlQuery
        # validates without side effects, so a CREATE/INSERT passed here
        # must fail WITHOUT creating the database / writing the data
        if not re.match(
            r"\s*(SELECT|WITH|VALUES|TABLE|SHOW|DESCRIBE|DESC|EXPLAIN)\b",
            sql,
            re.I,
        ):
            raise ValueError(
                "sql_query expects a query (SELECT/WITH/VALUES/...), "
                "not a DDL/DML statement — use execute_sql for those"
            )
        df = self.execute_sql(sql)
        if df is None:
            raise ValueError("sql_query expects a query, not a DDL statement")
        return Table(df)

    def create_statement_set(self) -> "StatementSet":
        return StatementSet(self)

    _INSERT_STMT = re.compile(
        r"INSERT\s+(INTO|OVERWRITE)\s+(\S+)"
        r"(?:\s+PARTITION\s*\(([^)]*)\))?"
        r"\s*(?:\(([\w\s,`]+)\)\s*)?"
        r"\s+((?:SELECT|WITH|VALUES|TABLE|FROM|\().*)$",
        re.S | re.I,
    )

    _FRESHNESS_UNIT_SEC = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}

    _CREATE_MT = re.compile(
        r"CREATE\s+MATERIALIZED\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(\S+)\s*"
        r"(?:\(\s*PRIMARY\s+KEY\s*\(([^)]*)\)\s*(?:NOT\s+ENFORCED)?\s*\)\s*)?"
        r"(?:COMMENT\s+'((?:[^']|'')*)'\s*)?"
        r"(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?"
        r"(?:WITH\s*\((.*?)\)\s*)?"
        r"FRESHNESS\s*=\s*INTERVAL\s+'(\d+)'\s+(SECOND|MINUTE|HOUR|DAY)S?\s*"
        r"(?:REFRESH_MODE\s*=\s*(FULL|CONTINUOUS)\s*)?"
        r"AS\s+(.*)$",
        re.S | re.I,
    )

    # -- streaming OVER aggregation (StreamExecOverAggregate.java:74) ----
    _OVER_ITEM = re.compile(
        r"(SUM|COUNT|AVG)\s*\(\s*(\*|`?\w+`?)\s*\)\s*OVER\s+"
        r"(\w+|\([^)]*\))\s+AS\s+`?(\w+)`?$",
        re.S | re.I,
    )

    _OVER_STMT = re.compile(
        r"SELECT\s+(.*?)\s+FROM\s+`?(\w+)`?\s*"
        r"(?:WINDOW\s+(\w+)\s+AS\s*\(([^)]*)\))?\s*$",
        re.S | re.I,
    )

    _OVER_SPEC = re.compile(
        r"PARTITION\s+BY\s+(.+?)\s+ORDER\s+BY\s+`?(\w+)`?\s+"
        r"(ROWS|RANGE)\s+BETWEEN\s+(.*?)\s+PRECEDING\s+AND\s+CURRENT\s+ROW$",
        re.S | re.I,
    )

    _DEDUP_RANK = re.compile(
        r"^\s*SELECT\s+(?P<outer>.+?)\s+FROM\s*\(\s*"
        r"SELECT\s+\*\s*,\s*ROW_NUMBER\s*\(\s*\)\s*OVER\s*\(\s*"
        r"PARTITION\s+BY\s+(?P<keys>[^)]+?)\s+"
        r"ORDER\s+BY\s+`?(?P<ts>\w+)`?\s*(?P<dir>ASC|DESC)?\s*\)\s+"
        r"AS\s+(?P<rn>\w+)\s+FROM\s+`?(?P<tbl>\w+)`?\s*\)\s*"
        r"(?:AS\s+)?\w*\s*WHERE\s+(?P=rn)\s*(?P<cmp><=|=)\s*(?P<topn>\d+)\s*$",
        re.S | re.I,
    )

    def _is_streaming_table(self, name: str) -> bool:
        """True when `name` resolves to a streaming temp view — the
        window-TVF lowering uses this to pick streaming-compatible forms
        (SESSION → native session_window struct)."""
        try:
            return bool(self.spark.table(name.strip("`")).isStreaming)
        except Exception:
            return False

    def _broadcast_threshold(self) -> int:
        raw = self.session_options.get(
            "table.optimizer.join.broadcast-threshold",
            str(self.BROADCAST_THRESHOLD_DEFAULT),
        )
        try:
            return int(raw)
        except ValueError:
            return self.BROADCAST_THRESHOLD_DEFAULT

    _CDC_FORMATS = {
        "debezium-json": "parse_debezium",
        "canal-json": "parse_canal",
        "maxwell-json": "parse_maxwell",
        "ogg-json": "parse_ogg",
    }



class StatementSet:
    """Programmatic STATEMENT SET (StatementSetImpl.java): buffer INSERT
    statements, run them as one multi-sink submission on execute()."""

    def __init__(self, env: TableEnvironment):
        self._env = env
        self._stmts: list[str] = []

    def add_insert_sql(self, stmt: str) -> "StatementSet":
        self._stmts.append(stmt)
        return self

    def execute(self) -> None:
        stmts, self._stmts = self._stmts, []
        self._env.execute_statement_set(stmts)
