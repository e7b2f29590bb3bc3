"""SparkSession factory tuned for this engine.

Reference parity: Flink's TableEnvironment/StreamExecutionEnvironment
(flink-table/flink-table-api-java/.../TableEnvironmentImpl.java:727,
flink-streaming-java/.../StreamExecutionEnvironment.java:2353) own parser,
planner and runtime config. In Spark all of that is the SparkSession; the
only engine-level work is picking scale-appropriate configs.

Scale notes (100 TB / 1000-executor design intent, tested on local[N]):
- AQE on: runtime coalescing, skew-join splitting, dynamic join-strategy
  switch replace Flink's adaptive batch scheduler
  (execution.batch.adaptive.auto-parallelism).
- shuffle.partitions is a floor: AQE coalesces small partitions; at
  cluster scale you'd raise `spark.sql.shuffle.partitions` to ~2-3x total
  cores and let AQE trim.
- Arrow enabled: every pandas-UDF-backed custom operator rides the
  vectorized Arrow path (replaces Flink's Beam-based Python workers,
  flink-python/pyflink/fn_execution/beam/).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


# Minimum free tmpfs capacity before it is trusted as the spill dir.
# Sized to the largest shuffle the probes actually produce (~6 GB for
# the 100x q10) with 5x headroom; a memory-tight host fails the gate
# and keeps disk spill.
_TMPFS_MIN_FREE = 32 << 30


def _fast_local_dir() -> str:
    """Shuffle/spill scratch: prefer a writable tmpfs (RAM-backed —
    this box's /dev/shm) over the default /tmp when the latter sits on
    a slow virtual disk.  Precedence: SPARK_LOCAL_DIRS (Spark's own
    env override) always wins; SPARK_GRAFT_TMPFS_SPILL=1/0 forces the
    tmpfs choice on/off; otherwise tmpfs is used only when its free
    capacity clears _TMPFS_MIN_FREE (r12 ADVICE: tmpfs is typically
    capped at 50% of RAM and its pages compete with executor memory —
    on a memory-tight standalone node a RAM-backed spill both risks
    ENOSPC where disk would have succeeded and defeats spilling under
    memory pressure; on a managed cluster the cluster manager
    overrides spark.local.dir anyway)."""
    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        return env
    force = os.environ.get("SPARK_GRAFT_TMPFS_SPILL")
    shm = "/dev/shm"
    if (
        force != "0"
        and os.path.isdir(shm)
        and os.access(shm, os.W_OK)
    ):
        try:
            st = os.statvfs(shm)
            free = st.f_bavail * st.f_frsize
        except OSError:
            free = 0
        if force == "1" or free >= _TMPFS_MIN_FREE:
            d = os.path.join(shm, "spark-local")
            try:
                os.makedirs(d, exist_ok=True)
                return d
            except OSError:
                pass
    return os.environ.get("TMPDIR", "/tmp")


def get_spark(
    app_name: str = "pyspark-flow",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Honors `SPARK_GRAFT_CPUS` for local core count. Idempotent: if a
    session already exists the builder reuses it (configs then apply only
    where runtime-mutable), matching driver/pytest usage.
    """
    cpus = default_parallelism()
    parts = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.default.parallelism", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Generated-code cache (static conf, Spark default 100 entries).
        # Counted with CodegenMetrics' compile count on a fresh JVM at
        # sf0.001: the seven dedup_curation queries compile 155 distinct
        # classes per pass, the 22 TPC-H queries 258, the first 50
        # registered queries (the correctness-gate window) 714, the
        # whole 285-query registry 2939.  At 100 entries every repeated
        # pass of the first two evicted and recompiled ~149 / ~258
        # classes (Janino, then HotSpot JIT again).  1000 holds the
        # largest repeated set, the 50-query window, with 40% headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Hash-join-first, matching the reference's batch planner
        # (BatchExecHashJoin is Flink's default equi-join; sort-merge
        # only when inputs are pre-sorted). Spark's default prefers
        # SMJ, which SORTS both shuffled sides — at the 100x probe
        # (60M-row lineitem) that sort dominated q5 (SMJ min-of-2
        # 13.9-23.9s vs 4.4s shuffled-hash) and q3 (5.7 -> 2.7s).
        # Safe: Spark still guards SHJ behind canBuildLocalHashMap
        # (build side < autoBroadcastThreshold x shuffle.partitions)
        # and AQE re-plans on runtime sizes, so oversized build sides
        # fall back to SMJ rather than OOM.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # local mode: the driver is the only JVM — give it the memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # Shuffle spill directory on the fastest local storage, per
        # Spark's own spark.local.dir guidance ("fast, local disk").
        # This box's /tmp sits on a ~250 MB/s virtual disk while RAM
        # is 128 GiB: a shuffle-heavy 100x join (q10's ~6 GB of
        # shuffle write+read) read 30.4 s disk-backed vs 12.0 s
        # best-run RAM-backed (r12 second half; the box shows ~30%
        # host CPU steal, so min-of-N is the comparison discipline).
        # On a real cluster this is the executors' NVMe scratch; here
        # tmpfs stands in when present, with the default
        # spark.local.dir untouched otherwise.
        .config("spark.local.dir", _fast_local_dir())
        .config("spark.ui.enabled", "false")
        # deterministic timestamp/parquet behavior for oracle comparison
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    )
    # Scan-split note: the fixture files are single small parquet files,
    # so scans get 1-3 tasks regardless of spark.sql.files.maxPartition-
    # Bytes (tested: 4 MB splits improve the WARM steady-state headline
    # ~25%, but single-shot runs — what the bench measures — are inside
    # this box's noise band, so the 128 MB default stays; at cluster
    # scale inputs arrive as many files and the default is correct).
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
