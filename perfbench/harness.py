"""Session, JVM and host plumbing shared by the workloads.

Every run pins the same session: ``local[CPUS]`` (never read from the
environment), a driver heap fixed at ``DRIVER_MEMORY`` from the first
instant (``-Xms`` equal to the maximum, so passes do not speed up while the
heap grows), and Spark's local, warehouse and event-log directories inside
the run's own scratch directory.
"""

from __future__ import annotations

import gc
import math
import os
import time

CPUS = 2
DRIVER_MEMORY = "3g"


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure_env(work: str) -> None:
    """Environment the JVM and its Python workers inherit; call before the
    session starts."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]  # package tuning switches stay at their defaults
    root = repo_root()
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)


def start_session(work: str, event_log_dir: str | None = None):
    from dbt_osmosis_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cpus = min(CPUS, os.cpu_count() or 1)
    return get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


class Jvm:
    """Driver-JVM readings over py4j."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self._dag = self._sc.dagScheduler()

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def jobs_submitted(self) -> int:
        """Spark job ids are assigned from this counter at submission."""
        return self._dag.numTotalJobs()

    def live_heap_mb(self) -> float:
        """Heap in use after full collections: what the program keeps.
        Python's collector runs first, so py4j releases the JVM objects of
        dead Python proxies, and the status listener drains its queue. The
        context cleaner frees broadcast and cached blocks only after a
        collection found their owners dead, which takes several rounds
        after the registry queries, so collections repeat until the
        reading has stopped falling for two rounds."""
        gc.collect()
        self._sc.listenerBus().waitUntilEmpty()
        memory = self._mf.getMemoryMXBean()
        best, flat = math.inf, 0
        for _ in range(12):
            self._jvm.java.lang.System.gc()
            time.sleep(0.5)
            used = memory.getHeapMemoryUsage().getUsed() / 2**20
            flat = flat + 1 if used > 0.99 * best else 0
            best = min(best, used)
            if flat == 2:
                break
        return best


def driver_peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc/self/status")


def host_probe() -> dict:
    """Load context for the run (not a gate): /proc/loadavg plus a 0.5 s
    pure-Python spin calibration of effective CPU speed. The same probe as
    ``bench.py``'s ``_host_probe``, copied because importing ``bench.py``
    imports the operator package, which would move its import cost out of
    the timed set-up."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 0.5:
        n += 1
    return {"loadavg": load, "spin_iters_per_ms": round(n / ((time.perf_counter() - t0) * 1e3))}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..1)."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
