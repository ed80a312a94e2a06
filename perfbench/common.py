"""Shared pieces of the benchmark: environment, Spark session lifetime,
the timed client, statistics and run context."""

from __future__ import annotations

import math
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

from tracing import Window

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
EVENT_DIR = os.path.join(WORK, "spark-local", "eventlog")


def prepare_env(trace: bool) -> None:
    """Point every scratch location at the checkout and set the launch-time
    Spark conf. Must run before the JVM starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp, EVENT_DIR):
        os.makedirs(d, exist_ok=True)
    # local[nproc]: the CPUs this process may run on
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # results are compared as naive UTC datetimes on every side
    os.environ["TZ"] = "UTC"
    time.tzset()
    # -UsePerfData: a JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Duser.timezone=UTC -XX:-UsePerfData",
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{EVENT_DIR}",
        ]
    args = " ".join(f"--conf {shlex.quote(c)}" for c in conf)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    # the checkout's engine, for this process and for Python workers
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)


class Session:
    """Owns the SparkSession and the JVM it runs in."""

    def __init__(self) -> None:
        self.spark = None
        self.launch_s = 0.0

    def start(self):
        from dbt_snowflake_feature_store_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        dt = time.perf_counter() - t0
        if not self.launch_s:
            self.launch_s = dt
        return self.spark

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


class Client:
    """The single closed-loop client: every public-API call goes through
    ``op``, which times it, tags its Spark jobs with a job group, and
    counts failures."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.times: dict[str, list[float]] = defaultdict(list)
        self.windows: list[Window] = []
        self.attempted = 0
        self.failed = 0
        self.current: str | None = None  # name of the call in progress
        self._n = 0

    def op(self, name: str, fn, *args, window: bool = True, **kwargs):
        """One timed call. An exception counts it as failed and the loop
        goes on. ``window=False`` leaves the job-group windows to ``fn``."""
        self._n += 1
        self.attempted += 1
        group = f"{name}#{self._n}"
        if window:
            self.sc.setJobGroup(group, name)
        start = time.time()
        self.current = name
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except Exception as e:
            self.failed += 1
            print(f"op {name} failed: {type(e).__name__}: {e}"[:2000], file=sys.stderr)
            return None
        finally:
            self.times[name].append(time.perf_counter() - t0)
            self.current = None
            if window:
                self.windows.append(Window(group, start * 1e3, time.time() * 1e3))
                self.idle()

    def idle(self) -> None:
        """Jobs outside any timed call belong to no window."""
        self.sc.setJobGroup("perfbench-idle", "between calls")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, p: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# process tree memory
# ---------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                kids[ppid].append(int(d))
            except (OSError, ValueError, IndexError):
                continue
    return kids


def peak_rss_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM) over this process and
    its descendants: the Python driver, the JVM and Python workers."""
    kids, todo, total = _children(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------
def control_seconds(spark) -> float:
    """The repository bench's machine-factor calibration task: a fixed
    CPU-bound hash/aggregate chain over a synthetic range, run once."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "avg(xxhash64(cast(id as string), 'a')) as h1",
        "avg(xxhash64(id * 1000003, 'b')) as h2",
        "avg(sin(id % 1000)) as s",
    ).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def context(spark, seed: int, workload: str) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "python": platform.python_version(),
    }
