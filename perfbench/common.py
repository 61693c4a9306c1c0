"""Shared helpers: statistics, run directory, process memory, result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time
import uuid

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(REPO_ROOT, "perfbench")
RUNS_DIR = os.path.join(REPO_ROOT, ".perfbench_runs")
CACHE_DIR = os.path.join(REPO_ROOT, ".perfbench_cache")
PROTOCOL_PREFIX = "@@perfbench "


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def quantile(sorted_vals: list[float], q: float) -> float:
    """Linear-interpolated quantile of an already sorted list."""
    if not sorted_vals:
        raise ValueError("quantile of no samples")
    pos = q * (len(sorted_vals) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (pos - lo)


def tail_percentile(samples: list[float], top: int = 95, min_beyond: int = 10):
    """The highest whole percentile, at most ``top``, that has at least
    ``min_beyond`` samples strictly above it. Returns ``(pct, value)``;
    with too few samples for even p50 it is the maximum, ``(100, max)``."""
    s = sorted(samples)
    for pct in range(top, 49, -1):
        v = quantile(s, pct / 100)
        if sum(1 for x in s if x > v) >= min_beyond:
            return pct, v
    return 100, s[-1]


def latency_summary(samples_s: list[float]) -> dict:
    """Median and tail of request latencies given in seconds, in ms."""
    s = sorted(samples_s)
    pct, tail = tail_percentile(s)
    return {
        "n": len(s),
        "p50_ms": quantile(s, 0.5) * 1000,
        "tail_pct": pct,
        "tail_ms": tail * 1000,
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Phases:
    """Wall time of each phase of a run, for the report."""

    def __init__(self) -> None:
        self.times: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.times[name] = self.times.get(name, 0.0) + now - self._t
        self._t = now


class RunDir:
    """Run-scoped scratch directory inside the checkout, removed on exit.

    Temp files of this process and of every process it starts (Spark
    local dirs, the JVM's ``java.io.tmpdir``, Python's ``tempfile``) land
    here, so a run beside the test suite shares no state under ``/tmp``
    with it."""

    def __init__(self) -> None:
        self.path = os.path.join(RUNS_DIR, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")

    def __enter__(self) -> "RunDir":
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "spark-local")
        # every JVM: temp files here, no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        tempfile.tempdir = self.tmp
        return self

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass  # another run still owns a directory there


def start_spark(run_dir: str):
    """The library's session factory at ``local[nproc]``, with the
    warehouse directory inside the run directory."""
    from cloudfloe_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{n_cpus()}]",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")},
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def config_proof(spark, seed: int) -> dict:
    import duckdb
    import pyspark

    from cloudfloe_spark.service.engine import iceberg_runtime_available

    sc = spark.sparkContext
    runtime = iceberg_runtime_available(spark)
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "nproc": n_cpus(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "seed": seed,
        "iceberg_runtime_jar": runtime,
        "iceberg_read_path": "runtime-jar" if runtime else "iceberg_local",
    }


def check_config(cfg: dict) -> None:
    """The Iceberg layers this benchmark traces exist only on the jarless
    path; a run that took the runtime-jar path would report numbers of
    another program, so it stops instead."""
    if cfg["iceberg_runtime_jar"]:
        sys.exit(
            "perfbench: the Iceberg Spark runtime jar is on the classpath, so "
            "the service reads Iceberg through it, not through iceberg_local"
        )


def emit(line: str) -> None:
    print(line, flush=True)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
