"""Host probes: process-tree CPU and memory, host fingerprint, cleanup.

Spark runs the driver JVM as a child of this process and the Python UDF
workers as children of the JVM (their daemon detaches its process group), so
CPU is summed over the whole process tree read from /proc; memory is split
into the driver JVM and the Python processes.
"""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _procs() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages, comm)."""
    out: dict[int, tuple[int, int, int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode("latin-1")
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2 :].split()
        # fields after comm: state ppid ... utime(11) stime(12) cutime(13)
        # cstime(14) ... rss(21)
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        out[int(name)] = (int(rest[1]), ticks, int(rest[21]), comm)
    return out


def descendants(root: int, procs: dict | None = None) -> set[int]:
    procs = _procs() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = set(), [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            if c not in seen:
                seen.add(c)
                stack.append(c)
    return seen


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant. Reaped workers
    roll up into their parent's cutime/cstime, so the total survives churn."""
    root = os.getpid()
    procs = _procs()
    pids = descendants(root, procs) | {root}
    return sum(procs[p][1] for p in pids if p in procs) / _TICK


def rss_mb() -> tuple[float, float]:
    """(RSS of the driver JVM, RSS of the Python processes) in this tree."""
    root = os.getpid()
    procs = _procs()
    jvm = py = 0
    for p in descendants(root, procs) | {root}:
        if p in procs:
            if procs[p][3] == "java":
                jvm += procs[p][2]
            else:
                py += procs[p][2]
    return jvm * _PAGE / 2**20, py * _PAGE / 2**20


class PeakRss:
    """Samples RSS on a thread while the ``with`` body runs: ``jvm_mb`` is
    the driver JVM's peak, ``python_mb`` the peak sum over this process and
    the Python workers (their number follows task scheduling, so it varies
    from run to run)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.jvm_mb = 0.0
        self.python_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        jvm, py = rss_mb()
        self.jvm_mb = max(self.jvm_mb, jvm)
        self.python_mb = max(self.python_mb, py)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _java_version() -> str:
    try:
        r = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30, check=False
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = [x for x in (r.stderr + r.stdout).splitlines() if " version " in x]
    return lines[0] if lines else "unknown"


def _git_commit(root: str) -> str:
    """HEAD commit read from .git without running git; "none" when the
    checkout is not a repository."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(root, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(ref[5:]):
                    return line.split()[0]
    except OSError:
        pass
    return "none"


def fingerprint(root: str, master: str, driver_mem: str) -> dict:
    import pyspark

    with open(os.path.join(root, "graphiti_spark", "synth.py"), "rb") as f:
        corpus_id = hashlib.md5(f.read()).hexdigest()
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": _meminfo_kb("MemTotal") // 1024,
        "loadavg_before": loadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "git_commit": _git_commit(root),
        "corpus_id": corpus_id,
        "master": master,
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
    }


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and every process it left
    behind (Python worker daemons), waiting until each is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    leftovers = descendants(os.getpid())
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        alive = {p for p in leftovers if _is_running(p)}
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def _is_running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            state = f.read().decode("latin-1").rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"
