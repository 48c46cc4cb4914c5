"""Process-level plumbing shared by the workloads: paths inside the
checkout, the Spark session and its teardown, memory and environment
records, and summary statistics."""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
# Spark's driver heap, fixed (-Xms too) whatever the caller's environment
# says, so that heap growth decided by collector timing does not change
# how often later operations collect, nor the resident size
DRIVER_MEM = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process() -> None:
    """Keep every file the run writes inside the checkout and pin the
    clock zone, before pyspark or the engine is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under /tmp from the JVMs Spark starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(cores: int):
    """The engine's own session factory on local[cores], with Spark's
    scratch space under the checkout. Returns (spark, seconds)."""
    from clickhouse_clickhouse_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, extra_conf={
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()   # the first job pays JVM/scheduler warm-up
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of Spark's JVM plus this Python process."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(proc.pid) if proc else 0)
    return kb / 1024.0


def git_commit() -> str:
    """HEAD of the checkout, read from .git without running git (the
    benchmark may run from an export that is not a repository)."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # guest times are already counted in user and nice
    return ticks[7], sum(ticks[:8])


def environment(spark, seed: int, cores: int, load_start,
                cpu_start) -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    load_end = os.getloadavg()
    steal, total = (b - a for a, b in zip(cpu_start, cpu_times()))
    return {
        "seed": seed,
        "nproc": cores,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.sparkContext.getConf().get(
            "spark.driver.memory", None),
        "load_average_start": [round(x, 2) for x in load_start],
        "load_average_end": [round(x, 2) for x in load_end],
        "busy_at_start": load_start[0] > cores,
        # CPU time the hypervisor gave to other guests, as a share of
        # this machine's CPU time over the run: a slow run with a high
        # share was slowed by its neighbours
        "cpu_steal_share": round(steal / total, 4) if total else None,
        "versions": {"spark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "duckdb": duckdb.__version__,
                     "pandas": pandas.__version__},
        "git_commit": git_commit(),
    }


def p50(xs: list[float]) -> float:
    return statistics.median(xs)   # no samples: raises, so no result line


def p90(xs: list[float]) -> float | None:
    """p90, only when at least ten samples lie beyond it."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10)[8]


def dir_files(path: str) -> dict[str, int]:
    """Regular files under ``path`` -> size in bytes."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                out[full] = os.path.getsize(full)
            except OSError:
                pass
    return out


class NullTracer:
    """The untraced run: the tracer's calls, recording nothing."""

    def operation(self, _op_id):
        return contextlib.nullcontext()

    def phase(self, _phase, _span=None):
        return contextlib.nullcontext()

    def span(self, _name):
        return contextlib.nullcontext()

    def collect(self, _df=None):
        return None
