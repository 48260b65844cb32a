"""Host facts and process-tree accounting for the benchmark.

Everything here reads ``/proc`` or ``os``; nothing writes outside the
benchmark's work directory.
"""

from __future__ import annotations

import os
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return os.getloadavg()[0]


def shm_would_be_used() -> bool:
    """The rule ``session.get_spark`` applies to place ``spark.local.dir``
    on /dev/shm (free space at least SPARK_GRAFT_SHM_MIN_FREE_GB, default
    8 GiB). The benchmark pins the local dir inside its checkout instead,
    so this only records what the engine would have chosen on this host."""
    if not os.path.isdir("/dev/shm"):
        return False
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return False
    min_free = float(os.environ.get("SPARK_GRAFT_SHM_MIN_FREE_GB", "8")) * 1024**3
    return st.f_bavail * st.f_frsize >= min_free


def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ")"
        fields = stat[stat.rfind(b")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu_s(python_only: bool = False) -> float:
    """CPU seconds used so far by this process's descendants (the driver
    JVM and the Python workers, or only the workers), including children
    they have reaped.
    Time the hypervisor steals from this VM is not in it, so on a shared
    host it is steadier than wall time. The delta of two readings stays
    exact when a process exits in between: its time moves to its parent's
    reaped-children count."""
    ticks = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        if python_only and not stat[stat.find(b"(") + 1 :].startswith(b"python"):
            continue
        fields = stat[stat.rfind(b")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def rss_mb_by_command(pids: list[int]) -> dict[str, float]:
    """Resident MB summed per command, for the JVM (``java``) and the
    Python workers. Other descendants are short-lived children the JVM
    spawns (Hadoop's local file system runs ``chmod``); between fork and
    exec they carry a copy of the JVM's page table, so counting them would
    add the JVM's RSS a second time at random moments."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out[comm] = out.get(comm, 0.0) + pages * PAGE_KB / 1024.0
    return out


class RssSampler:
    """Samples the RSS of this process's descendants on a background
    thread and keeps the peak per command: ``java`` (the Spark driver JVM)
    and ``python`` (the workers, summed). Use as a context manager around
    the timed region."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_by_command: dict[str, float] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            for comm, mb in rss_mb_by_command(descendants()).items():
                self.peak_by_command[comm] = max(self.peak_by_command.get(comm, 0.0), mb)
            self.samples += 1
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU ticks from /proc/stat, including ``steal``: time the
    hypervisor ran something else while this VM wanted the CPU."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, map(int, fields)))


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    return d["steal"] / total if total else 0.0


def reap_descendants(timeout_s: float = 20.0) -> list[int]:
    """Wait for every descendant to exit; kill what is left after the
    timeout. Returns the pids that had to be killed."""
    import signal

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        left = descendants()
        if not left:
            return []
        time.sleep(0.1)
    left = descendants()
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass
    return left
