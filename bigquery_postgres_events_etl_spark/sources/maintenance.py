"""Lake maintenance: small-file compaction.

Incremental appends (streaming/incremental.py) produce one parquet
file per partition per batch; thousands of micro-batches later the
target is a small-file swamp — listing dominates scan time and each
task reads kilobytes. The reference never hits this (PostgreSQL
compacts via its heap), so a lake-backed rebuild must provide the
maintenance op explicitly.

Rewrite-based compaction: read → coalesce toward a target in-memory
partition size → atomic swap via rename. At 100 TB this runs
per-partition (date=…) so a day compacts independently and the swap
window is one directory; a transactional table format (Delta
OPTIMIZE) subsumes the swap dance.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import SparkSession

from .sinks import TargetLock


def _orphan_sort_key(name: str, base: str) -> tuple[int, str]:
    """Temporal order for ``<base>.old.<ns>.<hex>`` orphans. Legacy
    hex-only suffixes (no timestamp) sort to 0 — older than any
    timestamped orphan, never preferred over one."""
    suffix = name[len(base) + len(".old.") :]
    head = suffix.split(".", 1)[0]
    try:
        return (int(head), name)
    except ValueError:
        return (0, name)


def recover_interrupted_compaction(path: str) -> bool:
    """A crash between the two swap renames leaves the target missing
    and the data stranded in ``<path>.old.<ns>.<hex>`` — a subsequent
    appender would find no target and silently treat the batch as a
    first load (history loss). This restores the newest orphan (by
    the monotonic-nanos suffix — uuid hex is NOT temporal) and removes
    the losers so stale snapshots can't be resurrected later. Call
    sites: compact_parquet entry and idempotent_append_parquet's
    missing-target path (both under the same TargetLock). Returns True
    if a restore happened."""
    if os.path.exists(path):
        return False
    parent = os.path.dirname(path) or "."
    base = os.path.basename(path.rstrip("/"))
    orphans = sorted(
        (f for f in os.listdir(parent) if f.startswith(f"{base}.old.")),
        key=lambda f: _orphan_sort_key(f, base),
    ) if os.path.isdir(parent) else []
    if not orphans:
        return False
    os.rename(os.path.join(parent, orphans[-1]), path)
    for stale in orphans[:-1]:
        shutil.rmtree(os.path.join(parent, stale), ignore_errors=True)
    return True


def parquet_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> dict:
    """Compact a parquet directory toward ``target_file_bytes`` files.

    Serialized with the writers via the same ``TargetLock`` the
    idempotent appender takes, so compaction never races an append.
    The rewrite lands in a sibling temp dir and replaces the target
    with two renames. POSIX offers no atomic directory exchange, so
    there is a brief window where the path is absent: *locked writers*
    never observe it (they serialize on TargetLock), unlocked readers
    may and should retry; a crash inside the window is repaired by
    ``recover_interrupted_compaction`` on the next locked entry. A
    transactional table format (Delta OPTIMIZE) removes the window
    entirely. Returns {files_before, files_after, rows}.
    """
    with TargetLock(path):
        recover_interrupted_compaction(path)
        df = spark.read.parquet(path)
        rows = df.count()
        total_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, round(total_bytes / target_file_bytes))
        before = parquet_file_count(path)

        tmp = f"{path.rstrip('/')}.compact.{uuid.uuid4().hex[:8]}"
        writer = df.coalesce(n_files).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)

        # monotonic-nanos prefix = temporal order for recovery; the
        # uuid tail keeps the name unique if two swaps land in one ns
        old = f"{path.rstrip('/')}.old.{time.time_ns()}.{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        return {
            "files_before": before,
            "files_after": parquet_file_count(path),
            "rows": rows,
        }
