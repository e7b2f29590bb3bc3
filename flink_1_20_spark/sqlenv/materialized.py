"""Materialized tables (FLIP-435) family of the executeSql surface:
CREATE/ALTER/DROP MATERIALIZED TABLE, FRESHNESS modes (continuous /
full with the refresh timer), SUSPEND/RESUME, and manual REFRESH.
Split out of sql_ddl.py in r10 (pure move)."""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame

# the moved method bodies reference the shared helpers by bare name
from flink_1_20_spark.sqlenv.text import (
    TableMeta,
    _ctl_view_name,
    _db_view_name,
    _option_pairs,
    _split_top_all,
)


class MaterializedMixin:
    """Methods host: composed into TableEnvironment."""

    def _managed_mt_path(self, name: str) -> str:
        root = self.session_options.get("materialized-table.storage.dir")
        if root is None:
            wh = self.spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            )
            root = os.path.join(re.sub(r"^file:/*", "/", wh), "_materialized")
        return os.path.join(root, name)

    def _create_materialized_table(self, s: str):
        m = self._CREATE_MT.match(s)
        if not m:
            raise ValueError(
                f"cannot parse CREATE MATERIALIZED TABLE (FRESHNESS = "
                f"INTERVAL '<n>' <unit> and AS <query> are required): {s[:120]!r}"
            )
        name = m.group(2).strip("`")
        if name in self._materialized:
            if m.group(1):
                return None
            raise ValueError(f"materialized table already exists: {name}")
        if name in self.tables:
            raise ValueError(f"a table named {name!r} already exists")
        pk = [c.strip().strip("`") for c in (m.group(3) or "").split(",") if c.strip()]
        part_by = [
            c.strip().strip("`") for c in (m.group(5) or "").split(",") if c.strip()
        ]
        options = dict(_option_pairs(m.group(6) or ""))
        freshness_sec = int(m.group(7)) * self._FRESHNESS_UNIT_SEC[
            m.group(8).upper()
        ]
        mode = (m.group(9) or "").upper()
        definition = m.group(10).strip()
        if not mode:
            thr = float(
                self.session_options.get(
                    "materialized-table.refresh-mode.freshness-threshold-sec",
                    "1800",
                )
            )
            mode = "CONTINUOUS" if freshness_sec <= thr else "FULL"
        fmt = options.pop("format", "parquet")
        path = options.pop("path", None) or self._managed_mt_path(name)
        # schema comes from the BATCH form of the definition (identical
        # to the streaming form's schema; Flink derives it the same way)
        with self._batch_source_views():
            batch_df = self.execute_sql(definition)
        if mode == "CONTINUOUS" and not self.execute_sql(definition).isStreaming:
            # validate BEFORE any state mutation — a half-created MT
            # would block the retry with "already exists"
            raise ValueError(
                f"materialized table {name!r}: REFRESH_MODE = CONTINUOUS "
                "requires streaming-capable sources (monitored-dir tables "
                "with 'scan.streaming'='true'); declare REFRESH_MODE = FULL "
                "for bounded sources"
            )
        meta = TableMeta(
            name=name,
            connector="filesystem",
            options={"path": path, "format": fmt, **options},
            columns=[
                (f.name, f.dataType.simpleString()) for f in batch_df.schema.fields
            ],
            primary_key=pk,
            partitioned_by=part_by,
        )
        entry = {
            "meta": meta,
            "db": self.current_db,
            "root": path,  # declared path; snapshots live in _v<N> under it
            "version": 0,
            "definition": definition,
            "freshness_sec": freshness_sec,
            "mode": mode,
            "status": "RUNNING",
            "query": None,
            "stop_event": None,
            "last_error": None,
        }
        self.tables[name] = meta
        self._materialized[name] = entry
        if mode == "FULL":
            # initial full refresh now, then the scheduled cadence
            self._materialized_refresh(entry)
            self._start_full_timer(entry)
        else:
            # bootstrap an empty snapshot so the path exists with the
            # declared schema, then let the monitored-dir stream ingest
            # existing + new source files at the freshness cadence
            self._mt_new_version(entry, batch_df.limit(0))
            self._start_continuous(entry)
        return None

    def _mt_writer(self, entry: dict, df):
        meta = entry["meta"]
        writer = df.write.format(meta.options.get("format", "parquet"))
        if meta.partitioned_by:
            writer = writer.partitionBy(*meta.partitioned_by)
        return writer

    def _mt_new_version(self, entry: dict, df) -> None:
        """Full-refresh write, safe under concurrent readers: the new
        snapshot lands in a fresh `_v<N>` directory under the declared
        path, the views re-point to it, and only versions older than the
        PREVIOUS one are garbage-collected — an in-place overwrite would
        delete files out from under any in-flight scan (the same reason
        Flink's full refresh swaps table snapshots atomically rather than
        truncating)."""
        meta = entry["meta"]
        entry["version"] += 1
        cur = os.path.join(entry["root"], f"_v{entry['version']:06d}")
        self._mt_writer(entry, df).mode("overwrite").save(cur)
        meta.options["path"] = cur
        meta.stats = None
        self._register(meta, db=entry["db"])
        if os.path.isdir(entry["root"]):
            for d in os.listdir(entry["root"]):
                if d.startswith("_v") and d < f"_v{entry['version'] - 1:06d}":
                    shutil.rmtree(os.path.join(entry["root"], d), ignore_errors=True)

    def _mt_append_epoch(self, entry: dict, df) -> None:
        meta = entry["meta"]
        self._mt_writer(entry, df).mode("append").save(meta.options["path"])
        meta.stats = None  # the table grew — any broadcast verdict is stale
        self._register(meta, db=entry["db"])

    def _start_continuous(self, entry: dict) -> None:
        meta, name = entry["meta"], entry["meta"].name
        df = self.execute_sql(entry["definition"])
        if not df.isStreaming:
            raise ValueError(
                f"materialized table {name!r}: REFRESH_MODE = CONTINUOUS "
                "requires streaming-capable sources (monitored-dir tables "
                "with 'scan.streaming'='true'); declare REFRESH_MODE = FULL "
                "for bounded sources"
            )
        def write_epoch(bdf, _epoch_id):
            self._mt_append_epoch(entry, bdf)

        q = (
            df.writeStream.queryName(f"mt:{name}")
            .foreachBatch(write_epoch)
            .option("checkpointLocation", entry["root"] + "_checkpoint")
            .trigger(processingTime=f"{int(entry['freshness_sec'])} seconds")
            .start()
        )
        entry["query"] = q
        entry["status"] = "RUNNING"
        self._track_job(q)

    def _start_full_timer(self, entry: dict) -> None:
        import threading

        stop = threading.Event()
        entry["stop_event"] = stop
        entry["status"] = "RUNNING"

        def loop():
            while not stop.wait(entry["freshness_sec"]):
                try:
                    self._materialized_refresh(entry, from_timer=stop)
                except Exception as ex:  # recorded, cadence continues
                    entry["last_error"] = repr(ex)

        t = threading.Thread(
            target=loop, daemon=True, name=f"mt-refresh-{entry['meta'].name}"
        )
        t.start()

    def _materialized_refresh(
        self,
        entry: dict,
        part_body: str | None = None,
        from_timer=None,
    ):
        # the timer thread enters here directly (not through execute_sql)
        # — take the same lock so the batch-view swap can never interleave
        # with a user statement's lowering
        with self._ddl_lock:
            if from_timer is not None and (
                from_timer.is_set()
                or self._materialized.get(entry["meta"].name) is not entry
                or entry.get("stop_event") is not from_timer
            ):
                # stale tick: it fired, then blocked here while DROP /
                # SUSPEND / SET REFRESH_MODE / SET FRESHNESS held the
                # lock. Running it now would resurrect a dropped
                # table's snapshot dir and temp views (or duplicate a
                # re-cadenced refresh) — discard it instead
                return None
            return self._materialized_refresh_locked(entry, part_body)

    def _materialized_refresh_locked(
        self, entry: dict, part_body: str | None = None
    ):
        meta = entry["meta"]
        q = entry.get("query")
        if q is not None and q.isActive:
            raise ValueError(
                f"materialized table {meta.name!r} is RUNNING in continuous "
                "mode — ALTER MATERIALIZED TABLE ... SUSPEND before a manual "
                "REFRESH (concurrent batch overwrite and streaming appends "
                "would race)"
            )
        from pyspark.sql import functions as F

        with self._batch_source_views():
            df = self.execute_sql(entry["definition"])
        if part_body:
            # partition-scoped backfill: dynamic overwrite replaces only
            # the refreshed partitions IN PLACE on the current snapshot
            # (a fresh version would drop the untouched partitions)
            spec = self._parse_partition_spec(part_body)
            unknown = set(spec) - set(meta.partitioned_by)
            if unknown:
                raise ValueError(
                    f"not partition keys of {meta.name}: {sorted(unknown)}"
                )
            for k, v in spec.items():
                df = df.filter(F.col(k).cast("string") == v)
            prev = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            try:
                self._mt_writer(entry, df).mode("overwrite").save(
                    meta.options["path"]
                )
            finally:
                self.spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )
            meta.stats = None
            self._register(meta, db=entry["db"])
        else:
            self._mt_new_version(entry, df)
        return None

    def _suspend_materialized(self, entry: dict) -> None:
        q = entry.get("query")
        if q is not None and q.isActive:
            # finish the in-flight epoch so SUSPEND/RESUME is exactly-once
            # (stop() mid-batch would replay the epoch's append on resume);
            # bounded like STOP JOB WITH DRAIN — a monitored dir with no
            # new files returns immediately
            import threading

            timeout = float(
                self.session_options.get("stop-job.drain-timeout-sec", "30")
            )
            waiter = threading.Thread(target=q.processAllAvailable, daemon=True)
            waiter.start()
            waiter.join(timeout)
            q.stop()
        ev = entry.get("stop_event")
        if ev is not None:
            ev.set()
        entry["status"] = "SUSPENDED"

    def _alter_materialized_table(self, name: str, action: str):
        entry = self._materialized.get(name)
        if entry is None:
            raise ValueError(f"materialized table not found: {name}")
        au = action.upper()
        if au == "SUSPEND":
            self._suspend_materialized(entry)
            return None
        m = re.match(r"RESUME(?:\s+WITH\s*\((.*)\))?$", action, re.S | re.I)
        if m:
            if entry["status"] == "RUNNING":
                return None
            if m.group(1):
                entry["meta"].options.update(_option_pairs(m.group(1)))
            if entry["mode"] == "CONTINUOUS":
                # restarts from the retained checkpoint: only source files
                # unseen before the suspension are ingested
                self._start_continuous(entry)
            else:
                self._start_full_timer(entry)
            return None
        m = re.match(r"REFRESH(?:\s+PARTITION\s*\(([^)]*)\))?$", action, re.S | re.I)
        if m:
            return self._materialized_refresh(entry, m.group(1))
        m = re.match(
            r"SET\s+FRESHNESS\s*=\s*INTERVAL\s+'(\d+)'\s+"
            r"(SECOND|MINUTE|HOUR|DAY)S?$",
            action,
            re.I,
        )
        if m:
            entry["freshness_sec"] = int(m.group(1)) * self._FRESHNESS_UNIT_SEC[
                m.group(2).upper()
            ]
            if entry["status"] == "RUNNING":  # re-apply the cadence
                self._suspend_materialized(entry)
                if entry["mode"] == "CONTINUOUS":
                    self._start_continuous(entry)
                else:
                    self._start_full_timer(entry)
            return None
        m = re.match(r"SET\s+REFRESH_MODE\s*=\s*(FULL|CONTINUOUS)$", action, re.I)
        if m:
            new_mode = m.group(1).upper()
            if new_mode == entry["mode"]:
                return None
            was_running = entry["status"] == "RUNNING"
            self._suspend_materialized(entry)
            entry["mode"] = new_mode
            entry["query"] = None
            if new_mode == "CONTINUOUS":
                # the stream has no checkpoint yet and will re-ingest
                # every source file — the existing full snapshot would
                # duplicate all of it. Rebuild from empty (same reason
                # the AS-query branch wipes): the stream IS the content.
                meta = entry["meta"]
                shutil.rmtree(entry["root"], ignore_errors=True)
                shutil.rmtree(entry["root"] + "_checkpoint", ignore_errors=True)
                entry["version"] = 0
                with self._batch_source_views():
                    batch_df = self.execute_sql(entry["definition"])
                self._mt_new_version(entry, batch_df.limit(0))
                if was_running:
                    self._start_continuous(entry)
            elif was_running:
                self._materialized_refresh(entry)
                self._start_full_timer(entry)
            return None
        m = re.match(r"AS\s+(.*)$", action, re.S | re.I)
        if m:
            # SqlAlterMaterializedTableAsQuery: swap the definition. The
            # backing data and (continuous) checkpoint are wiped so the
            # stream reprocesses every source file under the NEW query —
            # the only state that is consistent with the new definition.
            was_running = entry["status"] == "RUNNING"
            self._suspend_materialized(entry)
            entry["definition"] = m.group(1).strip()
            with self._batch_source_views():
                batch_df = self.execute_sql(entry["definition"])
            meta = entry["meta"]
            meta.columns = [
                (f.name, f.dataType.simpleString()) for f in batch_df.schema.fields
            ]
            shutil.rmtree(entry["root"], ignore_errors=True)
            shutil.rmtree(entry["root"] + "_checkpoint", ignore_errors=True)
            entry["query"] = None
            entry["version"] = 0
            if entry["mode"] == "CONTINUOUS":
                self._mt_new_version(entry, batch_df.limit(0))
                if was_running:
                    self._start_continuous(entry)
            else:
                self._materialized_refresh(entry)
                if was_running:
                    self._start_full_timer(entry)
            return None
        # SET ('k'='v') / RESET ('k') (SqlAlterMaterializedTableOptions
        # .java, SqlAlterMaterializedTableReset.java): table options on
        # the backing catalog object; the managed identity (connector,
        # path) is not an option
        m = re.match(r"SET\s*\((.*)\)$", action, re.S | re.I)
        if m:
            kvs = _option_pairs(m.group(1))
            if any(k in ("connector", "path") for k, _ in kvs):
                raise ValueError(
                    "ALTER MATERIALIZED TABLE SET cannot change the "
                    "managed 'connector'/'path'"
                )
            entry["meta"].options.update(kvs)
            return None
        m = re.match(r"RESET\s*\((.*)\)$", action, re.S | re.I)
        if m:
            keys = [
                k.strip().strip("'")
                for k in _split_top_all(m.group(1), ",")
                if k.strip()
            ]
            if not keys:
                raise ValueError(
                    "ALTER MATERIALIZED TABLE RESET requires at least one key"
                )
            if any(k in ("connector", "path") for k in keys):
                raise ValueError(
                    "ALTER MATERIALIZED TABLE RESET cannot remove the "
                    "managed 'connector'/'path'"
                )
            for k in keys:
                entry["meta"].options.pop(k, None)
            return None
        raise ValueError(f"unsupported ALTER MATERIALIZED TABLE action: {action!r}")

    def _drop_materialized_table(self, name: str, if_exists: bool):
        entry = self._materialized.get(name)
        if entry is None:
            if if_exists:
                return None
            raise ValueError(f"materialized table not found: {name}")
        self._suspend_materialized(entry)
        meta = entry["meta"]
        self._materialized.pop(name, None)
        for db, tbls in self._dbs.items():
            if tbls.get(name) is meta:
                tbls.pop(name, None)
                self.spark.catalog.dropTempView(_db_view_name(db, name))
                self.spark.catalog.dropTempView(
                    _ctl_view_name(self.current_catalog, db, name)
                )
        if entry["db"] == self.current_db:
            # the bare name belongs to the MT's own database — dropping
            # it from another db would clobber a same-named table there
            self.spark.catalog.dropTempView(name)
        shutil.rmtree(entry["root"], ignore_errors=True)
        shutil.rmtree(entry["root"] + "_checkpoint", ignore_errors=True)
        return None

