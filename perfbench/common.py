"""Shared run plumbing: paths inside the checkout, the Spark session the
workloads drive, process clean-up and size helpers."""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# Driver heap for every Spark session the benchmark starts. The program's
# own default (16g) exceeds this machine's memory.
DRIVER_MEM = "2g"


def manifest_mismatch(metrics: dict, section: str) -> list[str]:
    """Names of the metrics of BENCHMARK.json's `section` that `metrics`
    ({name: (value, unit)}) lacks, holds in another unit or without a
    finite value, and of those it holds beyond them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"] for m in json.load(f)[section]}

    def ok(name: str, unit: str) -> bool:
        v, u = metrics.get(name, (None, None))
        return u == unit and isinstance(v, (int, float)) and math.isfinite(v)

    bad = [n for n, u in want.items() if not ok(n, u)]
    return bad + sorted(set(metrics) - set(want))


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def program_importable() -> bool:
    return os.path.isfile(os.path.join(ROOT, "discogsography_spark", "__init__.py"))


def make_run_dir(workload: str) -> str:
    d = os.path.join(OUT_DIR, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def use_run_env(run_dir: str) -> None:
    """Keep every temporary file of this process and its children (Spark
    local dirs, the JVM's and Python's temp dirs) inside `run_dir`."""
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(run_dir: str, event_log: bool = False):
    from discogsography_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if event_log:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + ev
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    n = ncpu()
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM (and
    with it Spark's Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
