"""Process-level plumbing: where a run may write, the Spark session's
start and full stop, and figures read from ``/proc``.

Everything a run writes goes under one work directory inside the
checkout: Python's and the JVM's temp dirs (so the engine's package zip
and py4j's connection file land there), Spark's local dirs, the event
log and the crawls' snapshot stores. ``stop`` ends the JVM and its
Python workers and waits for them; the caller then removes the work
directory.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import time


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc/self/stat``
    (start time in clock ticks since boot) and ``/proc/uptime``."""
    with open("/proc/self/stat") as f:
        # the command name may hold spaces: fields resume after its ')'
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, grandchildren, ...)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in pids if _alive(p)]
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def confine(work_dir: str, event_log: bool) -> None:
    """Point every temp and scratch location of this process and of the
    JVM it will start at ``work_dir``. Call before pyspark starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")
    if event_log:
        os.environ["SPARK_GRAFT_EVENTLOG"] = "1"
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work_dir, "events")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)


class Session:
    """The engine's Spark session, sized to this host's CPUs, plus the
    pid of the local JVM that runs its driver and executors."""

    def __init__(self, app_name: str):
        from infinitycrawler_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name, cpus=nproc())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.jvm = self.spark.sparkContext._gateway.proc
        self.jvm_pid = self.jvm.pid

    def jvm_peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid)

    def stop(self) -> None:
        """Stop Spark, end the JVM and its Python workers, and wait for
        all of them to exit."""
        from pyspark import SparkContext

        workers = descendants(self.jvm_pid)
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            # the JVM exits when its stdin closes (PythonGatewayServer)
            if self.jvm.stdin is not None:
                self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait(timeout=30)
            workers += [p for p in descendants(os.getpid())
                        if p not in workers]
            for pid in _wait_gone(workers, 15):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            left = _wait_gone(workers, 15)
            if left:
                raise RuntimeError(f"processes still running: {left}")
