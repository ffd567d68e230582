"""Process-level plumbing: the fixed Spark session, host record, memory and
disk measurements, and shutdown that waits for the JVM.

Everything a run writes stays under ``.perfbench_work/`` (working files, removed
at exit) and ``.perfbench_results/`` (one JSON of raw samples per run) in
the directory the command runs from.
"""

from __future__ import annotations

import os
import platform
import re
import resource
import shutil
import sys
import time

WORK_DIR = ".perfbench_work"
RESULTS_DIR = ".perfbench_results"

#: task slots never exceed the host's CPUs; 4 is the reference host
SLOTS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
YOUNG_GEN = "384m"


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """The one Spark configuration every run uses (recorded with the run)."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.master": f"local[{SLOTS}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        # C1-only JIT: runs last about a minute, so C2 compilation would
        # mostly compete with the measured work instead of speeding it up.
        # Parallel GC with a fixed young generation: the heap the JVM touches
        # (and so its peak RSS) follows the allocation volume, not the
        # pause-time heuristics G1 uses to size its young generation.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            " -XX:-UsePerfData -XX:TieredStopAtLevel=1"
            f" -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy"
            f" -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}"
            f" -Xlog:gc:file={os.path.join(work, 'gc.log')}"),
        "spark.sql.shuffle.partitions": str(SLOTS),
        "spark.default.parallelism": str(SLOTS),
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(os.path.join(work, "eventlog"))
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def prepare_env(root: str, work: str) -> None:
    """Confine temp files to ``work`` and let Python workers import the
    package from ``root``; must run before pyspark starts the JVM."""
    for d in ("tmp", "eventlog", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, trace: bool):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in spark_conf(work, trace).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then close the gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of the driver JVM and of this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": jvm_kb / 1024.0, "python": py_kb / 1024.0}


_HOST_STATES = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def cpu_snapshot(jvm: int | None = None) -> dict[str, float]:
    """CPU seconds so far: host-wide by state (``/proc/stat``; ``steal`` is
    time the hypervisor gave this guest's vCPUs to someone else), and user
    and system time of this process and of the driver JVM ``jvm``."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()[1:]
    out = {f"host_{n}": int(v) / tick for n, v in zip(_HOST_STATES, fields)}
    t = os.times()
    out.update(python_user=t.user, python_system=t.system)
    if jvm is not None:
        with open(f"/proc/{jvm}/stat", encoding="ascii") as f:
            stat = f.read().rsplit(")", 1)[1].split()
        out.update(jvm_user=int(stat[11]) / tick, jvm_system=int(stat[12]) / tick)
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    """CPU seconds spent between two snapshots (a process missing from
    ``before`` had not started: it counts from 0), plus the host's steal
    time as a share of its busy (non-idle) time."""
    d = {k: round(after[k] - before.get(k, 0.0), 3) for k in after}
    busy = sum(d.get(f"host_{n}", 0.0) for n in _HOST_STATES if n not in ("idle", "iowait"))
    d["host_steal_share"] = round(d.get("host_steal", 0.0) / busy, 4) if busy else 0.0
    return d


def gc_pauses(work: str) -> dict[str, float]:
    """Count and total length of the driver JVM's GC pauses, from its log."""
    n, total_ms = 0, 0.0
    path = os.path.join(work, "gc.log")
    if os.path.exists(path):
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                m = re.search(r"\bPause (\w+).* ([\d.]+)ms$", line.rstrip())
                if m:
                    n += 1
                    total_ms += float(m.group(2))
    return {"pauses": n, "pause_s": round(total_ms / 1000.0, 3)}


def dir_bytes(path: str) -> int:
    total = 0
    for r, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(r, name))
    return total


def host_record() -> dict:
    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Clock:
    """Wall-clock stopwatch on ``time.perf_counter``."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def lap(self) -> float:
        now = time.perf_counter()
        dt, self.t0 = now - self.t0, now
        return dt
