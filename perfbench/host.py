"""Host facts, the host-fit Spark session, a /proc RSS sampler, and the
end of every process a run starts."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time

PR_SET_CHILD_SUBREAPER = 36   # prctl(2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no MemTotal in {meminfo}")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_facts() -> dict:
    return {"nproc": nproc(), "mem_total_mb": mem_total_mb(),
            "loadavg": loadavg()}


def driver_heap_mb(total_mb: int, cpus: int) -> int:
    """Local-mode driver heap: a quarter of the host, and never so much that
    the host's other tenants, the OS and one Python worker per core (about
    512 MB each at the benchmark's sizes) lose their share."""
    return max(1024, min(total_mb // 4, total_mb - 2048 - 512 * cpus))


def spark_conf(work_dir: str, heap_mb: int,
               event_log_dir: str | None = None) -> dict[str, str]:
    """Benchmark-side session settings; everything else is the engine's
    own default from ``session.get_spark``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # adaptive plan updates carry the whole plan string (megabytes
            # each); the reader needs job and task events only
            "spark.eventLog.excludedPatterns": ",".join(
                "org.apache.spark.sql.execution.ui." + e for e in (
                    "SparkListenerSQLAdaptiveExecutionUpdate",
                    "SparkListenerSQLExecutionStart")),
        })
    return conf


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parens; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time of ``pid`` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0   # the process ended between listing and reading
    # utime, stime, cutime, cstime: fields 14-17 of proc_pid_stat(5)
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds of a process tree: the driver JVM with all its threads,
    the Python workers and this process."""
    return sum(cpu_seconds(p) for p in tree_pids(root or os.getpid()))


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (forked
    Python workers share their daemon's pages) are split between them, so
    a sum over a process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass   # the process ended between listing and reading
    return 0


def tree_pss_bytes(root: int) -> int:
    return sum(pss_bytes(p) for p in tree_pids(root))


class RssSampler:
    """Samples the summed resident memory (PSS) of a process tree on a
    thread; keeps the peak."""

    def __init__(self, root: int | None = None, interval_s: float = 0.25):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> int:
        rss = tree_pss_bytes(self.root)
        self.peak_bytes = max(self.peak_bytes, rss)
        return rss

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()



# -- processes -------------------------------------------------------------
#
# SparkSession.stop() leaves the gateway JVM running until the Python
# process exits, and the JVM's Python workers outlive it briefly. A run
# therefore ends the JVM itself and waits for every process below it.

def become_subreaper() -> bool:
    """Orphaned descendants (the Python workers once the JVM has ended) are
    re-parented to this process instead of init, so it can wait for them."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def stop_jvm(timeout_s: float = 30.0) -> None:
    """Ends the Spark JVM this process launched and waits for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    gateway, SparkContext._gateway, SparkContext._jvm = (
        SparkContext._gateway, None, None)
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()   # the JVM exits when its stdin closes
        proc.wait(timeout_s)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True   # already gone


def end_descendants(grace_s: float = 10.0) -> None:
    """Terminates every process below this one, kills those still running
    after ``grace_s``, and returns once each has been waited for."""
    me = os.getpid()
    deadline = time.time() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return   # no child left, running or dead, so no descendant
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in tree_pids(me):
            if pid != me and not _is_zombie(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
