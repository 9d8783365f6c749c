"""Host facts and the peak-RSS sampler of this process tree (the driver
JVM and the Python workers it forks are all descendants of this process)."""

from __future__ import annotations

import os
import threading
from typing import Dict, List


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> List[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss(pid: int, page: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * page
    except OSError:
        return 0  # exited between the listing and the read


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


class PeakRss:
    """Samples, every ``interval`` seconds on a daemon thread, the resident
    memory of this process's descendants: the driver JVM (``jvm_peak``) and
    the Python daemon and workers it forks (``worker_peak``). A child the
    JVM has forked but not yet exec'd shares the JVM's pages; it runs the
    java binary, so it never counts as a worker, and only the largest java
    process counts as the JVM."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.jvm_peak = 0
        self.worker_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid, page = os.getpid(), os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            jvm = workers = 0
            for p in descendants(pid):
                exe = _exe(p)
                if exe == "java":
                    jvm = max(jvm, _rss(p, page))
                elif exe.startswith("python"):
                    workers += _rss(p, page)
            self.jvm_peak = max(self.jvm_peak, jvm)
            self.worker_peak = max(self.worker_peak, workers)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
