"""Process-tree accounting from ``/proc`` (psutil is not available):
resident memory of the driver + JVM + Python workers, and CPU seconds
split by process role."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing paren
    return data[data.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields after comm: state=0 ... utime=11 stime=12 cutime=13 cstime=14
    t = int(st[11]) + int(st[12])
    if with_children:
        t += int(st[13]) + int(st[14])
    return t / _TICK


def find_jvm(root: int) -> int | None:
    for pid in descendants(root):
        if "java" in _cmdline(pid).split(" ")[0]:
            return pid
    return None


def cpu_by_role(root: int) -> dict[str, float]:
    """CPU seconds so far of the JVM and of the Python worker processes
    (daemon + forked workers, including reaped workers via the daemon's
    child counters)."""
    jvm = find_jvm(root)
    out = {"jvm": 0.0, "pyworker": 0.0}
    if jvm is None:
        return out
    out["jvm"] = cpu_seconds(jvm)
    for pid in descendants(jvm):
        if "pyspark" in _cmdline(pid):
            out["pyworker"] += cpu_seconds(pid, with_children=False)
    daemons = [p for p in descendants(jvm) if "pyspark.daemon" in _cmdline(p)]
    for d in daemons:
        st = _stat(d)
        if st is not None:  # workers that already exited
            out["pyworker"] += (int(st[13]) + int(st[14])) / _TICK
    return out


class RssSampler:
    """Background sampler of the summed RSS of this process and all its
    descendants; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = rss_bytes(me) + sum(rss_bytes(p) for p in descendants(me))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False
