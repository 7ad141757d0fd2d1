"""Shared pieces of the benchmark: percentiles, metric records, host
noise readings, memory readings and the result line."""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import resource
import statistics
import subprocess
import sys
import time

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIN_BEYOND = 10  # samples a reported tail percentile must have beyond it


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = max(1, math.ceil(q / 100 * len(xs)))
    return xs[k - 1]


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest percentile, in steps of 5, that leaves at least
    `min_beyond` of `n` samples strictly above its rank; None when even
    the median does not."""
    best = None
    for q in range(50, 100, 5):
        if n - math.ceil(q / 100 * n) >= min_beyond:
            best = q
    return best


def median(values) -> float:
    return statistics.median(values)


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


class Metrics:
    """Ordered name -> (value, unit) record that refuses bad names."""

    def __init__(self):
        self.items: dict[str, dict] = {}

    def put(self, name: str, value, unit: str) -> None:
        check_name(name)
        if not isinstance(value, (int, float)) or isinstance(value, bool):
            raise TypeError(f"{name}: metric value must be a number")
        if isinstance(value, float) and not math.isfinite(value):
            raise ValueError(f"{name}: metric value must be finite")
        self.items[name] = {"value": value, "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted),
         "failed": int(failed), "metrics": metrics},
        separators=(",", ":"),
    )


# --- host noise ------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def steal_pct(before, after) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def calibration_s(mib: int = 256) -> float:
    """Wall time of a fixed single-thread job: SHA-256 over `mib` MiB.
    Reported beside the results to show host speed; never used to
    rescale them."""
    block = bytes(range(256)) * 4096  # 1 MiB
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(mib):
        h.update(block)
    h.hexdigest()
    return time.perf_counter() - t0


# --- memory ------------------------------------------------------------


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident set of a process (VmHWM), in MiB."""
    if pid is None:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_pid(spark) -> int:
    """pid of the JVM behind a local SparkSession (the gateway process
    PySpark launched; spark-submit execs into java)."""
    return spark.sparkContext._gateway.proc.pid


def stop_engine(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its
    standard input closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def engine_peak_rss_mb(spark) -> dict:
    """Peak RSS of this Python process and of its JVM, and their sum."""
    py, jvm = peak_rss_mb(), peak_rss_mb(jvm_pid(spark))
    return {"python": py, "jvm": jvm, "total": py + jvm}


# --- environment ----------------------------------------------------------


def prepare_env(work: str) -> str:
    """Keep every file the run writes (Spark scratch, temp files, JVM
    temp dir) inside `work`, and size the driver heap. Call before
    pyspark is imported."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Spark's Python workers import the engine too
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # a small heap ceiling and few malloc arenas keep the JVM's peak
    # memory from tracking GC and thread timing
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    return tmp


def spark_conf(tmp: str) -> dict[str, str]:
    # initial heap = the maximum the engine is given: G1 otherwise starts near
    # 256 MiB and grows the heap when GC time runs high, which depends on
    # host timing; runs that grew it peaked about 180 MiB higher
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "1g")
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
    }


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)
