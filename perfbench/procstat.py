"""Process and host counters read from /proc: CPU steal, the process tree
this run started, its memory and its CPU time."""

from __future__ import annotations

import os
import threading


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    return (b[0] - a[0]) / max(1, b[1] - a[1])


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it.  Python workers are forked from one
    daemon and share most of their pages, so a sum of their RSS would
    count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) << 10
    except (OSError, IndexError, ValueError):
        pass
    return 0


def is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class MemSampler(threading.Thread):
    """Memory of this process's descendants (the driver JVM and its Python
    workers), read from /proc every ``interval`` seconds.  ``peak`` is the
    summed PSS less the pre-touched driver heap, a constant, so that it
    moves with the memory the run actually grows.  ``peaks`` also keeps
    the JVM's and the Python processes' own peaks, the plain sum's, and
    the most processes seen at once."""

    def __init__(self, heap_bytes: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.heap_bytes, self.interval = heap_bytes, interval
        self.peak = 0
        self.peaks = dict.fromkeys(("jvm_less_heap", "python_workers", "with_heap", "processes"), 0)
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(self.interval):
            jvm = other = 0
            pids = descendants(me)
            for p in pids:
                if is_java(p):
                    jvm += pss_bytes(p) - self.heap_bytes
                else:
                    other += pss_bytes(p)
            self.peak = max(self.peak, jvm + other)
            for k, v in (("jvm_less_heap", jvm), ("python_workers", other),
                         ("with_heap", jvm + other + self.heap_bytes), ("processes", len(pids))):
                self.peaks[k] = max(self.peaks[k], v)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM and its Python workers), reaped children included.  Time
    the host steals from a virtual CPU is not charged to any of them."""
    tick = os.sysconf("SC_CLK_TCK")
    own = os.times()
    total = own.user + own.system
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15]) / tick  # utime stime cutime cstime
    return total
