"""Shared operator-level utilities.

`ensure_scan_parallelism` started life as a private helper inside
operators/textdedup and grew cross-module callers (lm_score,
queries/governance, queries/pipeline); r11 ADVICE promoted it to a
public name here so the dependency is an explicit contract instead of
an underscore import.
"""

from __future__ import annotations

import os
import re
from math import ceil
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_SIZE_SUFFIX = {
    "": 1,
    "b": 1,
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
    "t": 1024**4,
    "tb": 1024**4,
}


def _conf_bytes(value: str, default: int = 128 * 1024**2) -> int:
    """Parse a Spark byte-size conf string ("134217728b", "128MB")."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", value or "")
    if not m:
        return default
    mult = _SIZE_SUFFIX.get(m.group(2).lower())
    return int(m.group(1)) * mult if mult else default


# formats whose files Spark can split mid-file: columnar containers.
# Row formats are splittable only when uncompressed or block-compressed
# (bz2), and .json.gz/.csv.gz are NOT — a few large gzip files really do
# scan serially, so anything not on this list counts as ONE split and
# the guard fires as it did pre-r11 (review finding: the size estimate
# must not skip the repartition on non-splittable inputs).
_SPLITTABLE_EXT = (".parquet", ".orc")


# Inputs whose files total less than this are not repartitioned: the
# extra exchange and job cost more wall time than the serialized scan
# saves.  Bisected on dedup_minhash_lsh over one-file documents inputs
# (4-core host, warm, median of 7, guard off vs on, table in CHANGES.md):
# the guard lost at 63 and 120 KB, tied at 147 KB, and won from 177 KB
# (0.98 -> 0.88 s) up to 584 KB (1.32 -> 1.00 s).
SMALL_SCAN_BYTES = 160 * 1024


def _local_size(f: str) -> int | None:
    """Bytes of a local `file:` URI (a metadata-only stat), else None."""
    if not f.startswith("file:"):
        return None
    try:
        return os.path.getsize(unquote(urlparse(f).path))
    except OSError:
        return None


def _estimated_splits(files: list[str], max_partition_bytes: int) -> int:
    """Driver-side estimate of the scan's split count from file sizes.

    Mirrors Spark's FilePartition math for SPLITTABLE formats: each
    file contributes ~ceil(size / maxPartitionBytes) splits.  Local
    `file:` URIs are stat'ed directly (a metadata-only syscall); any
    other scheme or non-splittable extension counts as ONE split —
    under-estimating keeps the guard conservative (it fires rather
    than risking a serialized scan)."""
    total = 0
    for f in files:
        if f.lower().endswith(_SPLITTABLE_EXT):
            total += max(1, ceil((_local_size(f) or 0) / max_partition_bytes))
        else:
            total += 1
    return total


def _is_small(files: list[str]) -> bool:
    """True when every file is local and they total < SMALL_SCAN_BYTES;
    a file of unknown size counts as large."""
    total = 0
    for f in files:
        size = _local_size(f)
        if size is None:
            return False
        total += size
    return total < SMALL_SCAN_BYTES


def ensure_scan_parallelism(docs: DataFrame) -> DataFrame:
    """Guard a CPU-bound per-row text scan against a compact input.

    Such scans (one hash per character/token, n-gram explodes, LM
    scoring) are wall-clocked by their INPUT SPLITS: a real corpus is
    thousands of parquet files, but a compact input (one small file →
    one split) serializes the scan onto one core — measured 28.5s →
    3.5s at the 10x probe and 138s → 9.8s at 100x.  The probe is
    METADATA-ONLY: `inputFiles()` is a driver-side listing and file
    sizes are stat syscalls; `df.rdd` would force AQE's
    getFinalPhysicalPlan and run every upstream shuffle stage at
    DataFrame-BUILD time for composed inputs, the build-time-job class
    the callers explicitly avoid (see textdedup's lazy localCheckpoint).

    Files are not splits (r11 ADVICE): a few LARGE splittable parquet
    files already scan at high parallelism, so when the file count is
    below core count the guard estimates the actual split count from
    file sizes (ceil(size / maxPartitionBytes) per file, Spark's own
    FilePartition math) and skips the repartition when the scan is
    already wide.  Small-file inputs estimate ≈ file count and fire as
    before.

    Threshold is full core count (r10, was cores // 2): the old form
    was unsatisfiable at defaultParallelism <= 2 (0 < n < 1) — the
    serialized-scan hazard went unfixed exactly on the smallest
    executors — and left a 3-file input on 8 cores at 3-way
    parallelism.  The repartition is a bounded extra exchange, so
    under-firing costs more than over-firing.

    Non-file inputs (in-memory DataFrames, post-shuffle streams with no
    leaf file scan) report no files and skip the guard: their
    partitioning already came from parallelize/shuffle.

    Tiny inputs skip it too: below SMALL_SCAN_BYTES of files the
    repartition's extra exchange and job cost more than the one-core
    scan.

    Derived inputs fire too, DELIBERATELY (r10, adjudicated across two
    review passes): inputFiles() traverses to leaf scans, so a
    post-shuffle frame (collapse_exact's representatives, a windowed
    composition) still reports the compact source — and that is the
    right signal, because with AQE partition coalescing (default on)
    the post-shuffle output of a compact source collapses to ~1
    partition (AQE targets BYTES, and heavy-CPU text is exactly the
    small-bytes case it coalesces hardest), reproducing the serialized
    scan one exchange later.  A plan-inspection skip was tried and
    reverted: it both under-fired (the AQE coalesce case) and
    false-skipped on plan-string keyword collisions.  The repartition
    stays the bounded over-fire this guard accepts by construction —
    it only ever triggers on compact inputs."""
    spark = docs.sparkSession
    cores = spark.sparkContext.defaultParallelism
    files = docs.inputFiles()
    n_files = len(files)
    if n_files == 0 or n_files >= cores or _is_small(files):
        return docs
    max_pb = _conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    if _estimated_splits(files, max_pb) >= cores:
        return docs
    return docs.repartition(cores)
