"""Run environment shared by the workloads: sizing the Spark session for
the machine, the run's own temp root, memory and disk accounting, and
percentile helpers.

The temp root lives inside the checkout (``.perfbench_tmp/<run>``):

- ``tmp/`` is ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM's
  ``java.io.tmpdir``, so whatever the package leaves behind through
  ``tempfile.mkdtemp`` (or Spark through its local dirs) is counted by
  ``tmp_left_mb`` after the session stops;
- ``work/`` holds the benchmark's own inputs and tables;
- ``trace/`` holds the event log, the streaming progress and the spans.

The whole root is removed when the run ends.
"""

from __future__ import annotations

import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"


def machine_cores() -> int:
    return len(os.sched_getaffinity(0))


class RunDirs:
    def __init__(self, run_id: str):
        self.root = os.path.join(ROOT, ".perfbench_tmp", run_id)
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp = os.path.join(self.root, "tmp")
        self.work = os.path.join(self.root, "work")
        self.trace = os.path.join(self.root, "trace")
        for d in (self.tmp, self.work, self.trace):
            os.makedirs(d)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def size_environment(dirs: RunDirs) -> None:
    """Environment the package and its Python workers read.  Must run
    before ``pyspark`` or the package is imported: ``session.py`` reads
    ``SPARK_GRAFT_CPUS`` at import, and the JVM inherits the rest."""
    cores = str(machine_cores())
    os.environ["SPARK_GRAFT_CPUS"] = cores
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = dirs.tmp
    os.environ["SPARK_LOCAL_DIRS"] = dirs.tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(dirs: RunDirs, trace: bool):
    from gsmls_analysis_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(dirs.work, "warehouse"),
        # no hsperfdata file in /tmp: the run writes only inside its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(dirs.trace, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    pid = jvm_pid(spark)
    return _vm_hwm_mb(os.getpid()) + (_vm_hwm_mb(pid) if pid else 0.0)


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_cpu(pid: str) -> tuple[int, float]:
    """(parent pid, user + system CPU seconds) of one process."""
    with open(f"/proc/{pid}/stat") as fh:
        # the command name may hold spaces: fields follow its ')'
        f = fh.read().rsplit(")", 1)[1].split()
    return int(f[1]), (int(f[11]) + int(f[12])) / _TICK


class CpuMeter:
    """CPU seconds used by this process, the driver JVM and everything
    the JVM runs (Python workers), read from ``/proc``.  On a virtual
    machine the time the host takes a vCPU away (steal) is charged to no
    process, so a busy host inflates this figure less than wall time."""

    def __init__(self, jvm: int | None):
        self.jvm = jvm

    def __call__(self) -> float:
        t = os.times()
        total = t.user + t.system
        if self.jvm is None:
            return total
        procs: dict[int, tuple[int, float]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    procs[int(name)] = _proc_cpu(name)
                except (OSError, IndexError, ValueError):
                    pass
        tree = {self.jvm}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _cpu) in procs.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return total + sum(procs[p][1] for p in tree if p in procs)

    def measure(self, fn, *args):
        """``fn``'s result and the CPU seconds the call cost."""
        c0 = self()
        out = fn(*args)
        return out, self() - c0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def environment_record(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "cores": machine_cores(),
        "mem_gb": round(mem_kb / 1024.0 / 1024.0, 1),
        "driver_mem": DRIVER_MEM,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


TAIL_BEYOND = 10  # samples a reported percentile must leave above it


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it (capped at p95), and its value, as (percent, value)."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        return 50.0, median(xs)
    pct = min(95.0, 100.0 * (n - TAIL_BEYOND) / n)
    srt = sorted(xs)
    idx = min(n - 1, max(0, math.ceil(pct / 100.0 * n) - 1))
    return pct, srt[idx]


class Checker:
    """Output checks of one run; every check is one attempted operation
    and a mismatch one failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def expect(self, what: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failures.append(f"{what}: got {got!r}, want {want!r}")

    @property
    def failed_frac(self) -> float:
        return len(self.failures) / max(1, self.attempted)


class Clock:
    """Measured time of a run: the run ends once ``seconds`` of measured
    time have passed; checks run between measured sections."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.spent = 0.0

    def measure(self, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        dt = time.perf_counter() - t0
        self.spent += dt
        return out, dt

    @property
    def done(self) -> bool:
        return self.spent >= self.seconds
