"""Environment pinning, process-tree memory, machine noise, shutdown."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
#: Driver JVM heap cap.  Far below the engine's 48g default, which is
#: more than most machines have; the inputs are sized to fit well within,
#: and a heap the workload fills keeps peak RSS from depending on when
#: the collector happened to run.
DRIVER_MEM_MB = 1024


def pin_environment(work: str, repo: str) -> dict[str, str]:
    """Set the variables the engine and Spark read, before Spark starts.
    Everything Spark, the JVM and Python write goes under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(DRIVER_MEM_MB, _mem_total_mb() // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        # Python data-source workers import the engine package by name.
        "PYTHONPATH": os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": tmp,
        # PySpark converts timestamps to the process's local zone.
        "TZ": "UTC",
        # -XX:-UsePerfData: no /tmp/hsperfdata file for the JVM
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", sys.executable),
    }
    os.environ.update(pinned)
    return pinned


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return DRIVER_MEM_MB * 4


def versions(spark) -> dict[str, str]:
    java = subprocess.run(
        ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True,
        timeout=30,
    ).stderr.splitlines()
    return {
        "spark": spark.version,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
    }


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark" in cmd and (b"daemon" in cmd or b"worker" in cmd)


class RssSampler:
    """Samples resident memory of this process tree in the background:
    the driver (this Python process plus its JVM) and the Python workers
    Spark forks."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_total = 0.0
        self.peak_driver = 0.0
        self.peak_workers = 0.0
        self.peak_worker_count = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        driver = _rss_mb(me)
        workers = 0.0
        n_workers = 0
        for pid in descendants(me):
            if _is_python_worker(pid):
                workers += _rss_mb(pid)
                n_workers += 1
            else:
                driver += _rss_mb(pid)
        self.peak_driver = max(self.peak_driver, driver)
        self.peak_workers = max(self.peak_workers, workers)
        self.peak_worker_count = max(self.peak_worker_count, n_workers)
        self.peak_total = max(self.peak_total, driver + workers)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


class CpuNoise:
    """Steal share of CPU time (/proc/stat) and load average over a
    window.  Recorded as context; never acted upon."""

    def __init__(self) -> None:
        self._start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def result(self) -> dict[str, float]:
        end = self._read()
        delta = [b - a for a, b in zip(self._start, end)]
        total = sum(delta[:8]) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "cpu.steal_pct": 100.0 * steal / total,
            "loadavg_1m": os.getloadavg()[0],
        }


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM gateway, and wait for every process this
    benchmark started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the gateway may already be gone
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    # Workers forked by the JVM outlive it briefly, reparented.
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"
