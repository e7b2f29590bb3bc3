"""Catalog & DDL statement family of the executeSql surface:
CREATE/DROP/ALTER TABLE (incl. LIKE, CTAS, positions, partitions),
catalogs/databases, DESCRIBE/SHOW CREATE/ANALYZE, and table/view
registration.  Split out of sql_ddl.py in r10 (pure move — see that
module's docstring for the reference-parity contract)."""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame

# the moved method bodies reference the shared helpers by bare name
from flink_1_20_spark.sqlenv.text import (
    TableMeta,
    _apply_watermark,
    _computed_col_expr,
    _ctl_view_name,
    _db_view_name,
    _option_pairs,
    _split_top_all,
    _sql_mask,
    flink_type_to_spark,
    spark_type_to_flink,
)


class CatalogDdlMixin:
    """Methods host: composed into TableEnvironment."""

    def _unwatermarked_stream(self, meta: TableMeta) -> DataFrame:
        """The streaming source exactly as _register builds it, MINUS the
        declared watermark — for operators that define their own (Spark
        forbids watermark redefinition downstream)."""
        schema = ", ".join(
            f"{meta.renames.get(c, c)} {t}" for c, t in meta.columns
        )
        if (
            meta.connector == "filesystem"
            and meta.options.get("format") in self._CDC_FORMATS
        ):
            import flink_1_20_spark.sources.cdc as cdc

            raw = self.spark.readStream.text(meta.options["path"])
            fn = getattr(cdc, self._CDC_FORMATS[meta.options["format"]])
            df = fn(raw, "value", schema)
        elif (
            meta.connector == "filesystem"
            and meta.options.get("scan.streaming") == "true"
        ):
            from flink_1_20_spark.streaming.sources import file_source

            df = file_source(
                self.spark,
                meta.options["path"],
                schema,
                fmt=meta.options.get("format", "parquet"),
            )
        else:
            raise ValueError(
                f"table {meta.name!r} is not a streaming source"
            )
        if meta.renames:
            from pyspark.sql import functions as F

            rev = {orig: cur for cur, orig in meta.renames.items()}
            df = df.select([F.col(c).alias(rev.get(c, c)) for c in df.columns])
        for cname, expr in meta.computed:
            df = df.selectExpr("*", f"({_computed_col_expr(expr)}) AS {cname}")
        return df

    def _resolve_meta(self, name: str):
        """Look up TableMeta by bare name (current database) or by the
        mangled `__cat_<db>__<table>` form qualified references rewrite
        to — so INSERT INTO / DESCRIBE / SHOW CREATE TABLE work across
        databases, not just views."""
        meta = self.tables.get(name)
        if meta is not None:
            return meta
        # reconstruct-and-compare instead of regex-splitting the mangled
        # form: a non-greedy '__' split mis-parses catalog/db names that
        # themselves contain double underscores
        if name.startswith("__ctl_"):
            for cat, centry in self._catalogs.items():
                for db, tbls in centry["dbs"].items():
                    for t, meta in tbls.items():
                        if name == _ctl_view_name(cat, db, t):
                            return meta
            return None
        if name.startswith("__cat_"):
            for db, tbls in self._dbs.items():
                for t, meta in tbls.items():
                    if name == _db_view_name(db, t):
                        return meta
        return None

    # -- CREATE FUNCTION / SHOW / DESCRIBE -------------------------------
    @staticmethod
    def _like_filter(names: list[str], pattern: str | None, negate: bool) -> list[str]:
        """SQL LIKE over a name listing (% = any run, _ = one char):
        every other character matches literally (hence re.escape)."""
        if pattern is None:
            return list(names)
        rx = re.compile(
            "^" + re.escape(pattern).replace("%", ".*").replace("_", ".") + "$"
        )
        return [n for n in names if bool(rx.match(n)) != negate]

    def _create_function(self, name: str, path: str, language: str):
        """Resolve `module.attr` and register it under `name`.

        Accepted targets, mirroring Flink's ScalarFunction/TableFunction
        registration surface onto Spark's:
          * a pyspark UDF object (`@udf` / `@pandas_udf` result),
          * a pyspark UDTF object (`@udtf` result) — registered as a
            table function usable in LATERAL / TABLE(...),
          * a Flink-style class exposing ``eval`` (instantiated; the
            optional ``result_type`` attribute pins the return type),
          * a plain callable (optional ``result_type``, default string).
        """
        import importlib

        if language.upper() not in ("PYTHON", "SQL"):
            raise ValueError(f"unsupported function language: {language}")
        mod_path, _, attr = path.rpartition(".")
        if not mod_path:
            raise ValueError(f"function target must be module.attr: {path!r}")
        obj = getattr(importlib.import_module(mod_path), attr)
        # a @udf/@pandas_udf product (pyspark's own register() detects
        # wrapped UDFs the same way)
        if hasattr(obj, "asNondeterministic"):
            self.spark.udf.register(name, obj)
        elif type(obj).__name__ == "UserDefinedTableFunction":
            self.spark.udtf.register(name, obj)
        elif isinstance(obj, type) and hasattr(obj, "eval"):
            inst = obj()
            rt = getattr(obj, "result_type", "string")
            self.spark.udf.register(name, inst.eval, rt)
        elif callable(obj):
            rt = getattr(obj, "result_type", "string")
            self.spark.udf.register(name, obj, rt)
        else:
            raise ValueError(f"cannot register {path!r} as a function")
        self.functions[name] = path
        return None

    def _describe(self, name: str) -> DataFrame:
        """Flink DESCRIBE: (name, type, null, key, extras, watermark)."""
        meta = self._resolve_meta(name)
        rows = []
        if meta is not None:
            pk = set(meta.primary_key)
            wm_col = meta.watermark[0] if meta.watermark else None
            for col, typ in meta.columns:
                rows.append(
                    (
                        col,
                        typ,
                        True,
                        "PRI(NOT ENFORCED)" if col in pk else None,
                        None,
                        meta.watermark[1] if col == wm_col else None,
                    )
                )
            for col, expr in meta.computed:
                rows.append((col, "COMPUTED", True, None, f"AS {expr}", None))
        else:
            df = self.spark.table(name)
            for f_ in df.schema.fields:
                rows.append(
                    (f_.name, f_.dataType.simpleString(), f_.nullable,
                     None, None, None)
                )
        return self.spark.createDataFrame(
            rows,
            "name string, type string, `null` boolean, key string, "
            "extras string, watermark string",
        )

    # -- CREATE TABLE ... LIKE -------------------------------------------
    def _create_table_like(
        self, name: str, extra_cols: str, with_body: str, base: str, feats: str
    ) -> None:
        """CREATE TABLE new (extra...) WITH (...) LIKE base (feature
        clauses) — Flink's table-inheritance DDL (SqlCreateTableLike):
        the new table copies the base's schema/watermark/constraints/
        options, with INCLUDING/EXCLUDING/OVERWRITING feature clauses
        and local additions merged on top."""
        import copy

        src = self.tables.get(base)
        if src is None:
            raise ValueError(f"LIKE base table not found: {base}")
        meta = copy.deepcopy(src)
        meta.name = name
        fu = feats.upper()
        if "EXCLUDING ALL" in fu:
            meta.options = {}
            meta.watermark = None
            meta.primary_key = []
            meta.computed = []
        if "EXCLUDING OPTIONS" in fu:
            meta.options = {}
        if "EXCLUDING WATERMARKS" in fu:
            meta.watermark = None
        if "EXCLUDING CONSTRAINTS" in fu:
            meta.primary_key = []
        if "EXCLUDING GENERATED" in fu:
            meta.computed = []
        new_opts = dict(_option_pairs(with_body))
        if "connector" in new_opts:
            meta.connector = new_opts.pop("connector")
        if "OVERWRITING OPTIONS" in fu or new_opts:
            meta.options.update(new_opts)
        for raw in _split_top_all(extra_cols, ","):
            col = raw.strip()
            if not col:
                continue
            if re.match(r"WATERMARK\b", col, re.I):
                wm = re.match(
                    r"WATERMARK\s+FOR\s+(\S+)\s+AS\s+(.*)$", col, re.S | re.I
                )
                meta.watermark = (wm.group(1).strip("`"), wm.group(2).strip())
                continue
            ac = re.match(r"`?(\w+)`?\s+AS\s+(.*)$", col, re.S | re.I)
            if ac and not re.match(r"`?\w+`?\s+(ARRAY|MAP|ROW)\b", col, re.I):
                meta.computed.append((ac.group(1), ac.group(2).strip()))
                continue
            cname, ctype = col.split(None, 1)
            meta.columns.append((cname.strip("`"), flink_type_to_spark(ctype)))
        self._register(meta)
        self.tables[name] = meta

    # -- SHOW CREATE TABLE / ALTER TABLE ---------------------------------
    def _show_create_table(self, name: str) -> DataFrame:
        """Reconstruct the CREATE TABLE DDL from the stored TableMeta
        (Flink's SHOW CREATE TABLE surface)."""
        meta = self._resolve_meta(name)
        if meta is None:
            raise ValueError(f"table not found: {name}")
        # spark_type_to_flink: struct -> ROW (r10 round-trip find)
        lines = [f"  `{c}` {spark_type_to_flink(t)}" for c, t in meta.columns]
        lines += [f"  `{c}` AS {e}" for c, e in meta.computed]
        if meta.watermark:
            lines.append(
                f"  WATERMARK FOR `{meta.watermark[0]}` AS {meta.watermark[1]}"
            )
        if meta.primary_key:
            cols = ", ".join(f"`{c}`" for c in meta.primary_key)
            lines.append(f"  PRIMARY KEY ({cols}) NOT ENFORCED")
        opts = {"connector": meta.connector, **meta.options}
        with_clause = ",\n".join(f"  '{k}' = '{v}'" for k, v in opts.items())
        dist = ""
        if meta.distribution is not None:
            kind, dcols, buckets = meta.distribution
            into = f" INTO {buckets} BUCKETS" if buckets else ""
            dist = (
                f"DISTRIBUTED INTO {buckets} BUCKETS\n"
                if not dcols
                else "DISTRIBUTED BY "
                + kind
                + "("
                + ", ".join(f"`{c}`" for c in dcols)
                + f"){into}\n"
            )
        part = (
            "PARTITIONED BY ("
            + ", ".join(f"`{c}`" for c in meta.partitioned_by)
            + ")\n"
            if meta.partitioned_by
            else ""
        )
        ddl = (
            f"CREATE TABLE `{name}` (\n"
            + ",\n".join(lines)
            + f"\n) {dist}{part}WITH (\n{with_clause}\n)"
        )
        return self.spark.createDataFrame([(ddl,)], "result string")

    def _alter_table(self, name: str, action: str):
        """ALTER TABLE: RENAME TO / SET (options) / ADD col / DROP col /
        ADD|DROP PARTITION — the mutations Flink's AlterTableOperation
        family supports; the table is re-registered so subsequent reads
        see the change."""
        meta = self.tables[name]
        # partition mutations first: the generic ADD/DROP column regexes
        # below would otherwise swallow `ADD PARTITION (...)`
        if re.match(
            r"(?:ADD|DROP)\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?PARTITION\b",
            action,
            re.I,
        ):
            return self._alter_partitions(meta, action)
        m = re.match(r"RENAME\s+TO\s+(\S+)$", action, re.I)
        if m:
            new = m.group(1).strip("`")
            self.spark.catalog.dropTempView(name)
            self.spark.catalog.dropTempView(_db_view_name(self.current_db, name))
            meta.name = new
            self.tables[new] = self.tables.pop(name)
            self._register(meta)
            return None
        # RENAME <old> TO <new> (SqlAlterTableRenameColumn.java): the
        # catalog schema renames; existing files keep the physical name,
        # so the registered view reads by the original and renames
        m = re.match(r"RENAME\s+`?(\w+)`?\s+TO\s+`?(\w+)`?$", action, re.I)
        if m:
            old, new = m.group(1), m.group(2)
            if old not in [c for c, _ in meta.columns]:
                raise ValueError(f"column not found: {old}")
            if new in [c for c, _ in meta.columns] or new in [
                c for c, _ in meta.computed
            ]:
                raise ValueError(f"column already exists: {new}")
            # reject up front (as Flink does) when a computed column
            # reads the renamed column — mutating first would wedge the
            # table: _register's selectExpr fails AFTER meta changed
            referencing = [
                c
                for c, expr in meta.computed
                if re.search(rf"\b{re.escape(old)}\b", expr)
            ]
            if referencing:
                raise ValueError(
                    f"cannot rename {old}: computed column(s) "
                    f"{referencing} reference it — drop/redefine them first"
                )
            if meta.watermark and re.search(
                rf"\b{re.escape(old)}\b", meta.watermark[1]
            ):
                # the watermark delay expr is our own recorded text —
                # rewrite references in place
                meta.watermark = (
                    meta.watermark[0],
                    re.sub(rf"\b{re.escape(old)}\b", new, meta.watermark[1]),
                )
            meta.columns = [
                (new if c == old else c, t) for c, t in meta.columns
            ]
            # track back to the PHYSICAL name (renaming twice keeps the
            # original file name as the read target)
            meta.renames[new] = meta.renames.pop(old, old)
            meta.primary_key = [new if c == old else c for c in meta.primary_key]
            meta.partitioned_by = [
                new if c == old else c for c in meta.partitioned_by
            ]
            if meta.distribution is not None:
                kind, dcols, buckets = meta.distribution
                meta.distribution = (
                    kind, [new if c == old else c for c in dcols], buckets
                )
            if meta.watermark and meta.watermark[0] == old:
                meta.watermark = (new, meta.watermark[1])
            meta.stats = None  # per-column stats are keyed by old names
            self._register(meta)
            return None
        # MODIFY WATERMARK FOR ts AS expr (SqlAlterTableModify watermark
        # form) and MODIFY (<col> <type>[, ...]) / MODIFY <col> <type>
        m = re.match(
            r"MODIFY\s+WATERMARK\s+FOR\s+`?(\w+)`?\s+AS\s+(.*)$", action, re.S | re.I
        )
        if m:
            meta.watermark = (m.group(1), m.group(2).strip())
            self._register(meta)
            return None
        m = re.match(r"MODIFY\s*\(?\s*(.*?)\)?$", action, re.S | re.I)
        if m and m.group(1):
            declared = {c for c, _ in meta.columns}
            # parse + validate the WHOLE list before touching the live
            # meta — a failure on the Nth entry must not leave entries
            # 1..N-1 (or a type change whose position spec then fails)
            # half-applied on the shared registry object
            entries: list[tuple[str, str, tuple | None]] = []
            for coldef in _split_top_all(m.group(1), ","):
                coldef, pos = self._strip_position(coldef)
                cm = re.match(r"\s*`?(\w+)`?\s+(.+?)\s*$", coldef, re.S)
                if not cm or cm.group(1) not in declared:
                    raise ValueError(
                        f"MODIFY: unknown column in {coldef.strip()!r}"
                    )
                if pos is not None:
                    self._validate_position(meta, pos, declared)
                entries.append(
                    (cm.group(1), flink_type_to_spark(cm.group(2)), pos)
                )
            for name_, new_t, pos in entries:
                meta.columns = [
                    (c, new_t if c == name_ else t) for c, t in meta.columns
                ]
                if pos is not None:
                    self._place_column(meta, name_, pos)
            self._register(meta)
            return None
        # ADD CONSTRAINT <name> PRIMARY KEY (...) NOT ENFORCED
        # (SqlAlterTableAddConstraint.java) / DROP CONSTRAINT | DROP
        # PRIMARY KEY (SqlAlterTableDropConstraint.java)
        m = re.match(
            r"ADD\s+CONSTRAINT\s+\S+\s+PRIMARY\s+KEY\s*\(([^)]*)\)"
            r"(?:\s+NOT\s+ENFORCED)?$",
            action,
            re.I,
        )
        if m:
            meta.primary_key = [
                c.strip().strip("`") for c in m.group(1).split(",") if c.strip()
            ]
            return None  # recorded, never enforced (as in Flink)
        if re.match(r"DROP\s+(?:CONSTRAINT\s+\S+|PRIMARY\s+KEY)$", action, re.I):
            meta.primary_key = []
            return None
        # DROP WATERMARK (SqlAlterTableDropWatermark.java)
        if re.match(r"DROP\s+WATERMARK$", action, re.I):
            if meta.watermark is None:
                raise ValueError(f"table {name} has no watermark to drop")
            meta.watermark = None
            self._register(meta)
            return None
        m = re.match(r"SET\s*\((.*)\)$", action, re.S | re.I)
        if m:
            for kv in _split_top_all(m.group(1), ","):
                km = re.match(r"\s*'([^']*)'\s*=\s*'([^']*)'\s*$", kv)
                if not km:
                    raise ValueError(f"cannot parse option: {kv!r}")
                meta.options[km.group(1)] = km.group(2)
            self._register(meta)
            return None
        # RESET ('k' [, ...]) (SqlAlterTableReset.java): drop options
        # back to their defaults; the connector identity is not an
        # option that can be reset
        m = re.match(r"RESET\s*\((.*)\)$", action, re.S | re.I)
        if m:
            keys = [
                k.strip().strip("'")
                for k in _split_top_all(m.group(1), ",")
                if k.strip()
            ]
            if not keys:
                raise ValueError("ALTER TABLE RESET requires at least one key")
            if "connector" in keys:
                raise ValueError("ALTER TABLE RESET does not support changing 'connector'")
            # options the factory REQUIRES have no default to reset to —
            # Flink's factory revalidation rejects; popping them here
            # would wedge the table (a mutated meta _register cannot read)
            required = (
                {"path", "format"} if meta.connector == "filesystem" else set()
            )
            bad = sorted(required & set(keys))
            if bad:
                raise ValueError(
                    f"ALTER TABLE RESET cannot remove required option(s) "
                    f"{bad} of the {meta.connector!r} connector"
                )
            for k in keys:
                meta.options.pop(k, None)
            self._register(meta)
            return None
        # DROP DISTRIBUTION (SqlAlterTableDropDistribution.java,
        # FLIP-376): subsequent writes stop clustering by the bucket key
        if re.match(r"DROP\s+DISTRIBUTION$", action, re.I):
            if meta.distribution is None:
                raise ValueError(f"table {name} has no distribution to drop")
            meta.distribution = None
            return None
        # COMPACT (SqlAlterTableCompact.java → the filesystem
        # connector's small-file compaction): rewrite the table's (or
        # one partition's) files into the target layout
        m = re.match(r"PARTITION\s*\((.*?)\)\s+COMPACT$", action, re.S | re.I)
        if m:
            return self._compact_table(meta, m.group(1))
        if re.match(r"COMPACT$", action, re.I):
            return self._compact_table(meta, None)
        m = re.match(r"ADD\s*\(?\s*(.*?)\)?$", action, re.S | re.I)
        if m and m.group(1) and not action.upper().startswith("ADD CONSTRAINT"):
            # parse + validate everything BEFORE mutating the live meta
            # (a failing position spec must not leave a phantom column)
            entries = []
            for coldef in _split_top_all(m.group(1), ","):
                coldef, pos = self._strip_position(coldef)
                cm = re.match(r"\s*`?(\w+)`?\s+(.+?)\s*$", coldef, re.S)
                if not cm:
                    raise ValueError(f"cannot parse column: {coldef!r}")
                entries.append(
                    (cm.group(1), flink_type_to_spark(cm.group(2)), pos)
                )
            # AFTER may anchor on an existing column or one added
            # EARLIER in this same statement (placement is sequential)
            available = {c for c, _ in meta.columns}
            for name_, _, pos in entries:
                if pos is not None:
                    self._validate_position(meta, pos, available)
                available.add(name_)
            for name_, t, pos in entries:
                meta.columns.append((name_, t))
                if pos is not None:
                    self._place_column(meta, name_, pos)
            self._register(meta)
            return None
        # DROP (c1[, c2 ...]) / DROP c (SqlAlterTableDropColumn.java
        # takes a column LIST)
        m = re.match(r"DROP\s*\(?\s*([\w`\s,]+?)\s*\)?$", action, re.I)
        if m:
            cols = [c.strip().strip("`") for c in m.group(1).split(",")]
            bad = [c for c in cols if not re.fullmatch(r"\w+", c)]
            if bad:
                raise ValueError(
                    f"cannot parse DROP column list near {bad[0]!r}"
                )
            known = {c for c, _ in meta.columns} | {c for c, _ in meta.computed}
            bad = [c for c in cols if c not in known]
            if bad:
                raise ValueError(f"DROP: unknown column(s) {bad}")
            # structural members (Flink's schema validation): dropping a
            # partition key orphans the directory layout, a PK member
            # invalidates the constraint, the watermark column breaks
            # event-time, a bucket key dangles the distribution, and a
            # column a computed column reads wedges re-registration
            bad = [c for c in cols if c in meta.partitioned_by]
            if bad:
                raise ValueError(f"cannot drop partition key column(s) {bad}")
            bad = [c for c in cols if c in meta.primary_key]
            if bad:
                raise ValueError(
                    f"cannot drop primary key column(s) {bad} — DROP "
                    "PRIMARY KEY first"
                )
            if meta.watermark and meta.watermark[0] in cols:
                raise ValueError(
                    f"cannot drop watermark column {meta.watermark[0]!r} "
                    "— DROP WATERMARK first"
                )
            if meta.distribution is not None:
                bad = [c for c in cols if c in meta.distribution[1]]
                if bad:
                    raise ValueError(
                        f"cannot drop distribution bucket column(s) {bad} "
                        "— DROP DISTRIBUTION first"
                    )
            dropped = set(cols)
            for cname, expr in meta.computed:
                if cname in dropped:
                    continue
                refs = [
                    c for c in dropped
                    if re.search(rf"\b{re.escape(c)}\b", expr)
                ]
                if refs:
                    raise ValueError(
                        f"cannot drop column(s) {refs}: computed column "
                        f"{cname!r} reads them — drop it first"
                    )
            if meta.options.get("format") == "csv":
                # csv files bind columns by POSITION: only a strict
                # SUFFIX of the declared order can go without shifting
                # every later column onto the wrong file data
                remaining = [c for c, _ in meta.columns if c not in dropped]
                if remaining != [c for c, _ in meta.columns][: len(remaining)]:
                    raise ValueError(
                        "csv tables can only drop TRAILING columns — "
                        "files bind columns by position, and removing "
                        "an interior column would mis-read existing data"
                    )
            for col in cols:
                meta.columns = [(c, t) for c, t in meta.columns if c != col]
                meta.computed = [(c, e) for c, e in meta.computed if c != col]
            self._register(meta)
            return None
        raise ValueError(f"unsupported ALTER TABLE action: {action!r}")

    # -- catalogs (SqlCreateCatalogConverter.java and siblings) ----------
    def _create_catalog(
        self, name: str, comment: str, with_body: str, if_not_exists: bool = False
    ):
        if name in self._catalogs:
            if if_not_exists:
                return None
            raise ValueError(f"catalog already exists: {name}")
        options = dict(_option_pairs(with_body))
        ctype = options.pop("type", "generic_in_memory")
        if ctype != "generic_in_memory":
            raise ValueError(
                f"Could not find any factory for catalog type {ctype!r} "
                "(supported here: generic_in_memory)"
            )
        default_db = options.pop("default-database", self.DEFAULT_DB)
        self._catalogs[name] = {
            "type": ctype,
            "comment": comment,
            "options": options,
            # the DECLARED default database (current_db drifts with USE;
            # SHOW CREATE CATALOG must replay the original declaration)
            "default_db": default_db,
            "dbs": {default_db: {}},
            "current_db": default_db,
        }
        return None

    def _use_catalog(self, name: str):
        """USE CATALOG <c>: unqualified names now resolve in <c>'s
        current database (CatalogManager.setCurrentCatalog). The bare
        temp views of the outgoing database are swapped for the incoming
        one's; catalog- and db-qualified mangled views stay put so every
        qualified reference keeps resolving."""
        if name not in self._catalogs:
            raise ValueError(f"catalog does not exist: {name}")
        if name == self.current_catalog:
            return None
        self._catalogs[self.current_catalog]["current_db"] = self.current_db
        for t in self.tables:
            self.spark.catalog.dropTempView(t)
        entry = self._catalogs[name]
        self.current_catalog = name
        self._dbs = entry["dbs"]
        self.current_db = entry["current_db"]
        self.tables = self._dbs[self.current_db]
        for meta in self.tables.values():
            self._register(meta)
        return None

    def _describe_catalog(self, name: str, extended: bool) -> DataFrame:
        entry = self._catalogs.get(name)
        if entry is None:
            raise ValueError(f"catalog does not exist: {name}")
        rows = [
            ("name", name),
            ("type", entry["type"]),
            ("comment", entry["comment"]),
        ]
        if extended:
            rows += [
                (f"option:{k}", v) for k, v in sorted(entry["options"].items())
            ]
        return self.spark.createDataFrame(rows, "info_name string, info_value string")

    def _alter_catalog(self, name: str, action: str):
        """ALTER CATALOG SET (...) / RESET (...) / COMMENT '...' —
        Flink 1.20's SqlAlterCatalogOptions/Reset/Comment converters."""
        entry = self._catalogs[name]
        m = re.match(r"SET\s*\((.*)\)$", action, re.S | re.I)
        if m:
            for k, v in _option_pairs(m.group(1)):
                if k == "type":
                    raise ValueError("ALTER CATALOG cannot change 'type'")
                entry["options"][k] = v
            return None
        m = re.match(r"RESET\s*\((.*)\)$", action, re.S | re.I)
        if m:
            for k in re.findall(r"'([^']+)'", m.group(1)):
                if k == "type":
                    raise ValueError("ALTER CATALOG cannot reset 'type'")
                entry["options"].pop(k, None)
            return None
        m = re.match(r"COMMENT\s+'([^']*)'$", action, re.I)
        if m:
            entry["comment"] = m.group(1)
            return None
        raise ValueError(f"unsupported ALTER CATALOG action: {action!r}")

    # -- ANALYZE TABLE ---------------------------------------------------
    def _analyze_table(
        self,
        name: str,
        part_body: str | None,
        all_columns: bool = False,
        columns: str | None = None,
    ):
        """COMPUTE STATISTICS: row count + on-disk size (+ per-column
        ndv/null/min/max for FOR [ALL] COLUMNS) stored on the TableMeta —
        the CatalogTableStatistics the reference's planner reads. The
        table is re-registered so the broadcast decision (Flink's
        table.optimizer.join.broadcast-threshold) takes effect at once."""
        from pyspark.sql import functions as F

        meta = self._resolve_meta(name)
        if meta is None:
            raise ValueError(f"table not found: {name}")
        df = self.spark.table(name)
        root = meta.options.get("path")
        if part_body:
            spec = self._parse_partition_spec(part_body)
            unknown = set(spec) - set(meta.partitioned_by)
            if unknown:
                raise ValueError(
                    f"not partition keys of {meta.name}: {sorted(unknown)}"
                )
            for k, v in spec.items():
                df = df.filter(F.col(k).cast("string") == v)

        aggs = [F.count(F.lit(1)).alias("__n")]
        col_names: list[str] = []
        if all_columns:
            col_names = [c for c, _ in meta.columns] or df.columns
        elif columns:
            col_names = [c.strip().strip("`") for c in columns.split(",")]
        for c in col_names:
            aggs += [
                F.approx_count_distinct(c).alias(f"__ndv_{c}"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nul_{c}"),
                F.min(c).alias(f"__min_{c}"),
                F.max(c).alias(f"__max_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]  # one job, one row — driver-safe

        # None = "not measured" (non-filesystem connectors have no on-disk
        # footprint to walk); the broadcast verdict treats unknown size as
        # unknown, never as zero
        size_bytes = None
        if meta.connector == "filesystem" and root and os.path.exists(root):
            size_bytes = 0
            walk_root = root
            if part_body and meta.partitioned_by and set(spec) == set(
                meta.partitioned_by
            ):
                walk_root = os.path.join(
                    root, *[f"{k}={spec[k]}" for k in meta.partitioned_by]
                )
            for dirpath, _dirs, files in os.walk(walk_root):
                size_bytes += sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for f in files
                    if not f.startswith(("_", "."))
                )
        col_stats = {
            c: {
                "ndv": row[f"__ndv_{c}"],
                "null_count": row[f"__nul_{c}"],
                "min": row[f"__min_{c}"],
                "max": row[f"__max_{c}"],
            }
            for c in col_names
        }
        if part_body:
            # partition-scoped stats stay PARTITION-scoped (Flink's
            # CatalogPartitionStatistics): they must never feed the
            # table-level broadcast decision — one small partition of a
            # huge table would otherwise broadcast the whole table
            stats = meta.stats if meta.stats is not None else {}
            key = "/".join(f"{k}={spec[k]}" for k in meta.partitioned_by if k in spec)
            stats.setdefault("partitions", {})[key] = {
                "row_count": row["__n"],
                "size_bytes": size_bytes,
                "columns": col_stats,
            }
            meta.stats = stats
        else:
            meta.stats = {
                **(meta.stats or {}),
                "row_count": row["__n"],
                "size_bytes": size_bytes,
                "columns": col_stats,
            }
        owner = next(
            (d for d, ts in self._dbs.items() if ts.get(meta.name) is meta),
            self.current_db,
        )
        self._register(meta, db=owner)
        return None

    def _batch_source_views(self):
        """Context manager: temporarily re-register every monitored-dir
        streaming table of the current catalog as a bounded read of the
        same path, restoring the streaming registration on exit —
        Flink's manual/scheduled refresh runs the definition in BATCH
        execution mode over the same connectors."""
        from contextlib import contextmanager
        from dataclasses import replace

        @contextmanager
        def cm():
            swapped: list[tuple[TableMeta, str]] = []
            for db, tbls in self._dbs.items():
                for meta in tbls.values():
                    if meta.connector != "filesystem":
                        continue
                    if meta.options.get("scan.streaming") == "true":
                        batch = replace(
                            meta,
                            options={
                                k: v
                                for k, v in meta.options.items()
                                if k != "scan.streaming"
                            },
                        )
                        self._register(batch, db=db)
                        swapped.append((meta, db))
                    elif meta.name not in self._materialized:
                        # plain batch source: re-register so the view's
                        # cached file listing (InMemoryFileIndex pinned at
                        # registration) sees files added since — a refresh
                        # over a stale listing would silently miss them
                        self._register(meta, db=db)
            try:
                yield
            finally:
                for meta, db in swapped:
                    self._register(meta, db=db)

        return cm()

    # -- partitions (SqlShowPartitionsConverter.java,
    # SqlAlterTableAddPartitionConverter.java,
    # SqlAlterTableDropPartitionConverter.java) --------------------------
    @staticmethod
    def _parse_partition_spec(body: str) -> dict[str, str]:
        """`dt = '2024-01-01', hr = 0` → {'dt': '2024-01-01', 'hr': '0'}"""
        spec: dict[str, str] = {}
        for kv in _split_top_all(body, ","):
            m = re.match(r"\s*`?(\w+)`?\s*=\s*(.+?)\s*$", kv)
            if not m:
                raise ValueError(f"cannot parse partition spec entry: {kv!r}")
            spec[m.group(1)] = m.group(2).strip().strip("'\"")
        return spec

    def _partitioned_meta(self, name: str) -> TableMeta:
        meta = self._resolve_meta(name)
        if meta is None:
            raise ValueError(f"table not found: {name}")
        if meta.connector != "filesystem" or not meta.partitioned_by:
            raise ValueError(f"table {meta.name} is not partitioned")
        return meta

    def _show_partitions(self, name: str, spec_body: str | None) -> DataFrame:
        """List the partition directories of a partitioned filesystem
        table as Flink-style `k=v[/k2=v2]` spec strings (partition
        pruning on read works directly against this layout — the scan's
        PartitionFilters prune whole listed directories)."""
        meta = self._partitioned_meta(name)
        root = meta.options["path"]
        parts: list[str] = []

        def walk(d: str, depth: int, prefix: list[str]) -> None:
            if depth == len(meta.partitioned_by):
                parts.append("/".join(prefix))
                return
            key = meta.partitioned_by[depth] + "="
            if not os.path.isdir(d):
                return
            for entry in sorted(os.listdir(d)):
                if entry.startswith(key) and os.path.isdir(os.path.join(d, entry)):
                    walk(os.path.join(d, entry), depth + 1, prefix + [entry])

        walk(root, 0, [])
        if spec_body:
            want = self._parse_partition_spec(spec_body)
            unknown = set(want) - set(meta.partitioned_by)
            if unknown:
                raise ValueError(f"not partition keys of {meta.name}: {sorted(unknown)}")

            def keep(p: str) -> bool:
                kv = dict(seg.split("=", 1) for seg in p.split("/"))
                return all(kv.get(k) == v for k, v in want.items())

            parts = [p for p in parts if keep(p)]
        return self.spark.createDataFrame(
            [(p,) for p in parts] or [], "partition string"
        )

    def _alter_partitions(self, meta: TableMeta, action: str):
        """ADD creates the partition directories (Flink's filesystem
        catalog add-partition registers an empty location); DROP removes
        them and their data. Multiple `PARTITION (...)` specs per
        statement, per the reference grammar."""
        m = re.match(
            r"(ADD|DROP)\s+(IF\s+(?:NOT\s+)?EXISTS\s+)?(.+)$", action, re.S | re.I
        )
        op, guarded = m.group(1).upper(), bool(m.group(2))
        if meta.connector != "filesystem" or not meta.partitioned_by:
            raise ValueError(f"table {meta.name} is not partitioned")
        specs = re.findall(r"PARTITION\s*\(([^)]*)\)", m.group(3), re.I)
        if not specs:
            raise ValueError(f"no PARTITION spec in: {action!r}")
        root = meta.options["path"]
        for body in specs:
            spec = self._parse_partition_spec(body)
            if set(spec) != set(meta.partitioned_by):
                raise ValueError(
                    f"partition spec {sorted(spec)} must name exactly the "
                    f"partition keys {meta.partitioned_by}"
                )
            d = os.path.join(root, *[f"{k}={spec[k]}" for k in meta.partitioned_by])
            if op == "ADD":
                if os.path.exists(d):
                    if not guarded:
                        raise ValueError(f"partition already exists: {d}")
                    continue
                os.makedirs(d)
            else:
                if not os.path.exists(d):
                    if not guarded:
                        raise ValueError(f"partition does not exist: {d}")
                    continue
                shutil.rmtree(d)
        owner = next(
            (db for db, ts in self._dbs.items() if ts.get(meta.name) is meta),
            self.current_db,
        )
        self._register(meta, db=owner)  # refresh the view over the new layout
        return None

    # -- CREATE TABLE ----------------------------------------------------
    def _create_table_as(
        self,
        name: str,
        or_replace: bool,
        if_not_exists: bool,
        options_body: str,
        query: str,
    ):
        """CTAS (SqlCreateTableAs.java:69) / RTAS (SqlReplaceTableAs.java):
        derive the schema from the query, create the backing table, then
        run the query through the normal INSERT path (so streaming
        definitions start a continuous insert job exactly as
        `CREATE TABLE ...; INSERT INTO ...` would). OR REPLACE drops the
        existing table first — definition AND data are replaced."""
        if name in self._materialized:
            raise ValueError(
                f"{name} is a materialized table — use ALTER MATERIALIZED "
                "TABLE ... AS to change its definition"
            )
        if name in self.tables:
            if if_not_exists:
                return None
            if not or_replace:
                raise ValueError(
                    f"table already exists: {name} (use CREATE OR REPLACE "
                    "TABLE to replace it)"
                )
            self._drop_table(f"DROP TABLE {name}")
        options = dict(_option_pairs(options_body))
        connector = options.pop("connector", "filesystem")
        if connector != "filesystem":
            raise ValueError(
                f"CREATE TABLE AS: connector {connector!r} cannot persist "
                "a derived schema here (supported: filesystem)"
            )
        fmt = options.pop("format", "parquet")
        path = options.pop("path", None)
        if path is None:
            wh = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            path = os.path.join(
                re.sub(r"^file:/*", "/", wh), "_tables", self.current_db, name
            )
        df = self.execute_sql(query)
        meta = TableMeta(
            name=name,
            connector="filesystem",
            options={"path": path, "format": fmt, **options},
            columns=[
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            ],
        )
        self.tables[name] = meta
        self._register(meta)  # lazy-empty until the insert lands
        # OVERWRITE for the batch fill (RTAS must replace old data at a
        # reused path); streaming queries go through the continuous path
        return self._insert_into(name, query, overwrite=not df.isStreaming)

    def _create_table(self, s: str) -> None:
        # DISTRIBUTED BY [HASH|RANGE] (cols) [INTO n BUCKETS] /
        # DISTRIBUTED INTO n BUCKETS (FLIP-376, SqlDistribution.java) —
        # extracted before the main patterns (it sits between the column
        # body and PARTITIONED BY/WITH)
        distribution = None
        # scan outside quoted text and comments — a path option like
        # '/data/DISTRIBUTED INTO 3 BUCKETS' is data, not the clause
        dm = re.search(
            r"\bDISTRIBUTED\s+(?:BY\s+(?:(HASH|RANGE)\s*)?\(([^)]*)\)\s*"
            r"(?:INTO\s+(\d+)\s+BUCKETS)?|INTO\s+(\d+)\s+BUCKETS)",
            _sql_mask(s),
            re.I,
        )
        if dm:
            kind = (dm.group(1) or "HASH").upper()
            cols = [
                c.strip().strip("`")
                for c in (dm.group(2) or "").split(",")
                if c.strip()
            ]
            raw_buckets = dm.group(3) or dm.group(4)
            buckets = int(raw_buckets) if raw_buckets is not None else None
            if buckets is not None and buckets < 1:
                raise ValueError("bucket count must be at least 1")
            if not cols and buckets is None:
                raise ValueError(
                    "DISTRIBUTED requires bucket columns or a bucket count"
                )
            distribution = (kind, cols, buckets)
            s = s[: dm.start()] + s[dm.end() :]
        # PARTITIONED BY is matched by a dedicated pattern FIRST: in the
        # combined pattern the greedy column-body group would swallow the
        # optional clause (regex backtracking prefers the longer body
        # over matching an optional group)
        m = re.match(
            r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(\S+)\s*\((.*)\)\s*(?:COMMENT\s+'[^']*'\s*)?"
            r"PARTITIONED\s+BY\s*\(([^)]*)\)\s*"
            r"WITH\s*\((.*)\)\s*$",
            s,
            re.S | re.I,
        ) or re.match(
            r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(\S+)\s*\((.*)\)\s*(?:COMMENT\s+'[^']*'\s*)?"
            r"()WITH\s*\((.*)\)\s*$",
            s,
            re.S | re.I,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE TABLE: {s[:120]!r}")
        name = m.group(1).strip("`")
        body, part_by, with_body = m.group(2), m.group(3), m.group(4)
        options = dict(_option_pairs(with_body))
        connector = options.pop("connector", None)
        if connector is None:
            raise ValueError("WITH options must include 'connector'")

        meta = TableMeta(name=name, connector=connector, options=options)
        if part_by:
            meta.partitioned_by = [c.strip().strip("`") for c in part_by.split(",")]

        for raw in _split_top_all(body, ","):
            col = raw.strip()
            if not col:
                continue
            cu = col.upper()
            if cu.startswith("PRIMARY KEY"):
                pk = re.search(r"\(([^)]*)\)", col)
                meta.primary_key = [
                    c.strip().strip("`") for c in pk.group(1).split(",")
                ] if pk else []
                continue  # NOT ENFORCED — recorded, never enforced (as in Flink)
            if cu.startswith("WATERMARK"):
                wm = re.match(
                    r"WATERMARK\s+FOR\s+(\S+)\s+AS\s+(.*)$", col, re.S | re.I
                )
                meta.watermark = (wm.group(1).strip("`"), wm.group(2).strip())
                continue
            ac = re.match(r"`?(\w+)`?\s+AS\s+(.*)$", col, re.S | re.I)
            if ac and not re.match(r"`?\w+`?\s+(ARRAY|MAP|ROW)\b", col, re.I):
                meta.computed.append((ac.group(1), ac.group(2).strip()))
                continue
            cname, ctype = col.split(None, 1)
            meta.columns.append((cname.strip("`"), flink_type_to_spark(ctype)))

        if distribution is not None:
            declared = {c for c, _ in meta.columns}
            bad = [c for c in distribution[1] if c not in declared]
            if bad:
                raise ValueError(
                    f"invalid bucket key {bad}: distribution keys must "
                    "be physical columns of the table"
                )
            meta.distribution = distribution
        self._register(meta)
        self.tables[name] = meta

    def _refresh_sink_views(self) -> None:
        """Re-read filesystem sink views whose static file index cannot
        be trusted: tables registered EMPTY before any file existed
        (`_stale_sink_views`, refreshed once data appears) and tables a
        streaming job is actively writing (`_live_sink_views`, refreshed
        every statement while the job lives — an upsert epoch swaps the
        whole directory, so a frozen index would read deleted files).
        Runs at statement entry; no-op when both maps are empty."""
        from flink_1_20_spark.sources.connectors import has_data_files

        def has_data(meta: TableMeta) -> bool:
            return has_data_files(meta.options.get("path"))

        def is_current(meta: TableMeta, db: str, cat: str) -> bool:
            return (
                self._catalogs.get(cat, {}).get("dbs", {}).get(db, {}).get(
                    meta.name
                )
                is meta
            )

        for key, (meta, db, cat) in list(self._stale_sink_views.items()):
            if not is_current(meta, db, cat):
                del self._stale_sink_views[key]  # dropped / replaced
                continue
            if has_data(meta):
                try:
                    self._register(meta, db=db, catalog=cat)
                    del self._stale_sink_views[key]
                except Exception:
                    pass  # mid-write; retry at the next statement
        for key, (meta, db, cat, q) in list(self._live_sink_views.items()):
            if not is_current(meta, db, cat):
                del self._live_sink_views[key]
                continue
            if has_data(meta):
                try:
                    self._register(meta, db=db, catalog=cat)
                except Exception:
                    pass  # mid-swap; the previous view stands
            if not q.isActive:
                del self._live_sink_views[key]

    def _register(
        self, meta: TableMeta, db: str | None = None, catalog: str | None = None
    ) -> None:
        # read by the PHYSICAL column names (pre-rename); the view layer
        # renames back to the declared names below
        schema = ", ".join(
            f"{meta.renames.get(c, c)} {t}" for c, t in meta.columns
        )
        if (
            meta.connector == "filesystem"
            and meta.options.get("format") in self._CDC_FORMATS
        ):
            # CDC-JSON table formats (flink-formats/flink-json Debezium/
            # Canal/Maxwell/Ogg factories): the declared columns are the
            # PAYLOAD schema; the decoded changelog adds row_kind (+I/
            # -U/+U/-D) and the envelope timestamp — exactly what the
            # Deserialization schemas emit into Flink's RowData.
            import flink_1_20_spark.sources.cdc as cdc

            streaming = meta.options.get("scan.streaming", "false") == "true"
            if streaming:  # monitored directory → unbounded changelog
                raw = self.spark.readStream.text(meta.options["path"])
            else:
                raw = self.spark.read.text(meta.options["path"])
            fn = getattr(cdc, self._CDC_FORMATS[meta.options["format"]])
            df = fn(raw, "value", schema)
            if meta.renames:
                # one simultaneous projection (a sequential rename chain
                # breaks on column swaps — two columns transiently share
                # a name)
                rev = {orig: cur for cur, orig in meta.renames.items()}
                from pyspark.sql import functions as F

                df = df.select(
                    [F.col(c).alias(rev.get(c, c)) for c in df.columns]
                )
            for cname, expr in meta.computed:
                df = df.selectExpr("*", f"({_computed_col_expr(expr)}) AS {cname}")
            if meta.watermark and df.isStreaming:
                # zero-delay fallback is gated on the two recognized
                # non-INTERVAL strategies; anything else raises (see
                # _apply_watermark)
                df = _apply_watermark(df, *meta.watermark)
            # same namespace rules as the common tail below: the bare
            # name belongs to the CURRENT db/catalog only
            cat = catalog or self.current_catalog
            tgt_db = db or self.current_db
            df.createOrReplaceTempView(_ctl_view_name(cat, tgt_db, meta.name))
            if cat == self.current_catalog:
                df.createOrReplaceTempView(_db_view_name(tgt_db, meta.name))
                if tgt_db == self.current_db:
                    df.createOrReplaceTempView(meta.name)
            return
        if (
            meta.connector == "filesystem"
            and meta.options.get("scan.streaming", "false") == "true"
        ):
            # continuous directory monitoring for regular formats
            # (FileSource.forRecordStreamFormat().monitorContinuously());
            # streaming reads require the DECLARED schema
            from flink_1_20_spark.streaming.sources import file_source

            if not schema:
                raise ValueError(
                    "'scan.streaming'='true' requires declared columns"
                )
            fmt = meta.options.get("format", "parquet")
            df = file_source(self.spark, meta.options["path"], schema, fmt=fmt)
        elif meta.connector == "filesystem":
            from flink_1_20_spark.sources.connectors import read_file

            fmt = meta.options.get("format", "parquet")
            path = meta.options["path"]
            try:
                df = read_file(self.spark, path, fmt=fmt, schema=schema or None)
            except Exception as ex:
                # sink-only table: path not yet populated — register an
                # empty relation now and let _refresh_sink_views re-read
                # it once files appear
                if "PATH_NOT_FOUND" in str(ex) or "Path does not exist" in str(ex):
                    df = self.spark.createDataFrame([], schema=schema)
                    self._stale_sink_views[id(meta)] = (
                        meta,
                        db or self.current_db,
                        catalog or self.current_catalog,
                    )
                else:
                    raise
        elif meta.connector == "datagen":
            from flink_1_20_spark.streaming.sources import rate_source

            rps = int(meta.options.get("rows-per-second", "10"))
            df = rate_source(self.spark, rows_per_second=rps)
        elif meta.connector in ("print", "blackhole"):
            # pure sinks: no readable side; register an empty relation so
            # SELECTs fail loudly at the semantic level, not with a KeyError
            df = self.spark.createDataFrame([], schema=schema or "dummy string")
        else:
            raise ValueError(
                f"Could not find any factory for connector '{meta.connector}' "
                "(supported here: filesystem, datagen, print, blackhole)"
            )
        if meta.renames:
            # one simultaneous projection — a sequential rename chain
            # breaks on column swaps (two columns transiently share a name)
            rev = {orig: cur for cur, orig in meta.renames.items()}
            from pyspark.sql import functions as F

            df = df.select([F.col(c).alias(rev.get(c, c)) for c in df.columns])
        for cname, expr in meta.computed:
            df = df.selectExpr("*", f"({_computed_col_expr(expr)}) AS {cname}")
        if meta.watermark and df.isStreaming:
            # zero-delay fallback gated on SOURCE_WATERMARK() / the
            # strictly-ascending `AS ts` form — see _apply_watermark
            df = _apply_watermark(df, *meta.watermark)
        # statistics-informed broadcast (Flink planner: CatalogTableStatistics
        # vs table.optimizer.join.broadcast-threshold): an ANALYZEd table
        # whose measured size fits under the threshold joins as the
        # broadcast side even where Spark's own file-size estimate would
        # not have chosen it
        measured = meta.stats.get("size_bytes") if meta.stats is not None else None
        if (
            measured is not None
            and not df.isStreaming
            and 0 <= measured <= self._broadcast_threshold()
        ):
            df = df.hint("broadcast")
        # mangled aliases so `db.table` / `catalog.db.table` references
        # resolve from anywhere (see the qualified-name rewrites); the
        # bare name is the CURRENT database's namespace only — a table
        # from another db/catalog must never clobber it
        cat = catalog or self.current_catalog
        tgt_db = db or self.current_db
        df.createOrReplaceTempView(_ctl_view_name(cat, tgt_db, meta.name))
        if cat == self.current_catalog:
            df.createOrReplaceTempView(_db_view_name(tgt_db, meta.name))
            if tgt_db == self.current_db:
                df.createOrReplaceTempView(meta.name)

    def _use_database(self, db: str) -> None:
        """USE <db>: unqualified names now resolve in <db> — the previous
        database's flat temp views are dropped and the target's tables
        re-registered under their bare names (the mangled per-db views
        stay, so qualified references keep working everywhere)."""
        if db == self.current_db:
            return None
        for name in self.tables:
            self.spark.catalog.dropTempView(name)
        self.current_db = db
        self.tables = self._dbs[db]
        for meta in self.tables.values():
            self._register(meta)
        return None

    # -- DROP / INSERT ---------------------------------------------------
    def _drop_table(self, s: str) -> None:
        m = re.match(r"DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\S+)\s*$", s, re.I)
        name = m.group(1).strip("`")
        if name in self._materialized:
            # SqlDropMaterializedTable is its own statement in Flink
            raise ValueError(
                f"{name} is a materialized table — use DROP MATERIALIZED TABLE"
            )
        existed = self.tables.pop(name, None)
        if existed or not re.search(r"IF\s+EXISTS", s, re.I):
            self.spark.catalog.dropTempView(name)
            self.spark.catalog.dropTempView(
                _db_view_name(self.current_db, name)
            )

    @staticmethod
    def _strip_position(coldef: str) -> tuple[str, tuple[str, str | None] | None]:
        """Trailing `FIRST` / `AFTER <col>` (SqlColumnPosSpec.java on
        ADD/MODIFY schema changes) → (definition without the spec,
        ('FIRST', None) | ('AFTER', anchor) | None)."""
        m = re.match(r"(.*?)\s+FIRST\s*$", coldef, re.S | re.I)
        if m:
            return m.group(1), ("FIRST", None)
        m = re.match(r"(.*?)\s+AFTER\s+`?(\w+)`?\s*$", coldef, re.S | re.I)
        if m:
            return m.group(1), ("AFTER", m.group(2))
        return coldef, None

    def _validate_position(
        self, meta: TableMeta, pos: tuple[str, str | None], available: set
    ) -> None:
        """Reject a FIRST/AFTER spec BEFORE any meta mutation: csv
        tables bind file columns positionally (a catalog reorder would
        silently mis-read existing data), an AFTER anchor must exist,
        and computed columns cannot anchor (they always render at the
        end of the schema in this model, after the physical columns)."""
        if meta.options.get("format") == "csv":
            raise ValueError(
                "FIRST/AFTER column positions are not supported on csv "
                "tables — csv files bind columns by position, and a "
                "catalog reorder would mis-read existing data"
            )
        if pos[0] == "AFTER" and pos[1] not in available:
            if pos[1] in {c for c, _ in meta.computed}:
                raise ValueError(
                    f"AFTER {pos[1]}: computed columns render at the "
                    "end of the schema here — anchor on a physical "
                    "column"
                )
            raise ValueError(f"AFTER column not found: {pos[1]}")

    def _place_column(
        self, meta: TableMeta, name: str, pos: tuple[str, str | None]
    ) -> None:
        """Reorder `name` in meta.columns per a VALIDATED FIRST/AFTER
        spec (see _validate_position)."""
        entry = next((c, t) for c, t in meta.columns if c == name)
        cols = [(c, t) for c, t in meta.columns if c != name]
        if pos[0] == "FIRST":
            idx = 0
        else:
            names = [c for c, _ in cols]
            if pos[1] not in names:
                raise ValueError(f"AFTER column not found: {pos[1]}")
            idx = names.index(pos[1]) + 1
        cols.insert(idx, entry)
        meta.columns = cols

    def _owner_db(self, meta: TableMeta) -> str:
        """The current catalog's db holding exactly this meta (falls
        back to the current db — e.g. a meta resolved via a qualified
        reference into the current catalog)."""
        return next(
            (d for d, ts in self._dbs.items() if ts.get(meta.name) is meta),
            self.current_db,
        )

