"""CPU time and resident memory of this process and all its descendants
(driver Python, the JVM, the PySpark worker daemon and its workers),
read from /proc, so no third-party package is needed."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # process ended between listing and reading
        return None
    # the command name may hold spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system seconds of the live tree, including what each live
    process has collected from children it already reaped."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _resident_bytes(pid: int) -> int:
    """Proportional resident memory (PSS) of one process: the pages it
    shares with others (PySpark forks its Python workers from one daemon)
    count once across the tree instead of once per process. The JVM
    shares nothing and its page walk is slow, so it reports plain RSS."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # process ended between listing and reading
        pass
    return 0


def tree_resident_bytes(root: int | None = None) -> int:
    return sum(_resident_bytes(pid) for pid in tree_pids(root))


def host_cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) jiffies of all CPUs since boot: the share stolen
    by the hypervisor over a phase tells how much of its wall time the
    machine, not the program, took."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class PeakRss:
    """Samples the tree's resident memory every ``interval_s`` on a
    daemon thread until ``stop``; ``peak`` is the largest sample."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_resident_bytes())
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_resident_bytes())
        return self.peak
