"""Shared pieces of a benchmark run: the run context, repeated set-up,
the operation record, and run metadata."""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "bigquery_postgres_events_etl_spark")
# every set-up launches its own JVM, which costs 8-12 s on 4 cores, so
# the run's time budget holds two
SETUP_REPEATS = 2


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; (0, 0) if it does not exist."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def source_sha() -> str:
    """Content hash of the package sources: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for root, dirs, names in os.walk(PACKAGE_DIR):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(root, n)
                h.update(os.path.relpath(p, PACKAGE_DIR).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def run_meta(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cpus": cpus(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": git_commit(),
        "source_sha": source_sha(),
    }


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of this Python driver plus the JVM."""
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


@dataclass
class Op:
    """One timed operation and the outcome of its output check."""

    kind: str
    wall_s: float
    traced: bool
    ok: bool
    detail: str = ""
    rows: int = 0
    op_id: int = -1


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    work: str
    spark: object = None
    ops: list[Op] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)
    setup_s: list[float] = field(default_factory=list)
    session_s: list[float] = field(default_factory=list)

    def record(self, op: Op) -> None:
        self.ops.append(op)
        if not op.ok:
            self.notes.append(f"FAILED {op.kind}: {op.detail}")

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def set_up(self, prepare) -> None:
        """Launch a JVM, start a session, make the inputs and warm up,
        SETUP_REPEATS times; the last session and inputs are the ones
        measured. ``prepare(spark)`` generates the inputs and runs the
        warm-up."""
        from bigquery_postgres_events_etl_spark.session import get_spark

        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
                stop_jvm()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
            self.session_s.append(time.perf_counter() - t0)
            prepare(self.spark)
            self.setup_s.append(time.perf_counter() - t0)


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
