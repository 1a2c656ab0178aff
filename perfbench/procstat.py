"""Host and process readings from /proc: the Spark JVM and its Python
workers (descendants of this process), host steal and busy CPUs, and the
per-run environment record."""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
RSS_PERIOD_S = 0.2


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces: split after its closing parenthesis
    head, _, rest = s.rpartition(")")
    return [head.partition("(")[2]] + rest.split()


def descendants(root: int) -> dict[int, str]:
    """pid -> comm for every live descendant of ``root``."""
    parent, comm = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                comm[int(name)], parent[int(name)] = st[0], int(st[2])
    out, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in out:
                out[c] = comm[c]
                frontier.append(c)
    return out


def cpu_split(root: int | None = None) -> tuple[float, float]:
    """(jvm_cpu_s, python_cpu_s) consumed so far by the descendants of
    ``root``, including reaped children (a pyspark worker's CPU moves to
    its daemon's cutime when it exits)."""
    jvm = py = 0.0
    for pid, comm in descendants(root or os.getpid()).items():
        st = _stat(pid)
        if not st:
            continue
        ticks = sum(int(x) for x in st[12:16]) / _TICK  # utime stime cutime cstime
        if comm == "java":
            jvm += ticks
        elif comm.startswith("python"):
            py += ticks
    return jvm, py


def host_ticks() -> tuple[int, int, int]:
    """(steal, total, busy) ticks over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    return v[7], sum(v[:8]), busy


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes sharing it, so a sum over forked workers counts
    every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Background sampler of the memory of this process's descendants:
    the Spark JVM (``java``) and its Python workers (``python*``), summed
    as PSS; keeps the peak. Transient fork children are skipped."""

    def __init__(self):
        self.peak_bytes = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        by_comm: dict[str, int] = {}
        for pid, comm in descendants(os.getpid()).items():
            if comm == "java" or comm.startswith("python"):
                by_comm[comm] = by_comm.get(comm, 0) + pss_bytes(pid)
        total = sum(by_comm.values())
        self.peak_bytes = max(self.peak_bytes, total)
        for comm, rss in by_comm.items():
            self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0), rss)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def git_commit(root: str) -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(root, ".git", ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def environment(spark, root: str, seed: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "commit": git_commit(root),
        "seed": seed,
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
