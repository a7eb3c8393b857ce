"""Process-tree CPU and memory from ``/proc`` (Linux).

The benchmark process is the Spark driver; its descendants are the JVM
and, under the JVM, the PySpark daemon and its Python workers. Each
process is classified as ``driver``, ``jvm`` or ``pyworker``.

CPU per process is ``utime + stime + cutime + cstime``: the last two
carry the time of children the process already reaped, so a Python
worker that exits between two samples moves its time into the daemon
instead of vanishing. Peak memory is the kernel's own high-water mark
(``VmHWM``) per process, so no sampling is needed to catch a peak of a
process that is still alive; :class:`Sampler` adds one for processes
that exit early. Writing ``5`` to ``/proc/<pid>/clear_refs`` resets the
mark, which lets one migration's peak be read on its own.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds) of one process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after it
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks / CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def classify(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _cmdline(pid)
    if "java" in cmd.split(" ", 1)[0] or "org.apache.spark" in cmd:
        return "jvm"
    return "pyworker"


class ProcessTree:
    """CPU and peak-RSS readings of the benchmark's process tree."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._kind: dict[int, str] = {}
        self._peak_kb: dict[int, int] = {}
        self._lock = threading.Lock()

    def _kind_of(self, pid: int) -> str:
        if pid not in self._kind:
            self._kind[pid] = classify(pid, self.root)
        return self._kind[pid]

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, by process kind."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid in descendants(self.root):
            st = _stat(pid)
            if st is not None:
                out[self._kind_of(pid)] += st[1]
        return out

    def sample_peaks(self) -> None:
        with self._lock:
            for pid in descendants(self.root):
                kb = _hwm_kb(pid)
                if kb > self._peak_kb.get(pid, 0):
                    self._peak_kb[pid] = kb

    def reset_peaks(self) -> None:
        """Start a new high-water interval for every process."""
        with self._lock:
            self._peak_kb.clear()
            for pid in descendants(self.root):
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as fh:
                        fh.write("5")
                except OSError:
                    pass  # gone, or not ours: its mark keeps the old peak

    def peak_rss_mb(self) -> float:
        """Sum over every process seen since the last reset of its
        resident high-water mark."""
        self.sample_peaks()
        with self._lock:
            return sum(self._peak_kb.values()) / 1024


class Sampler:
    """Background thread sampling peaks every ``interval`` seconds, so
    processes that exit before the end still count."""

    def __init__(self, tree: ProcessTree, interval: float = 0.25):
        self.tree = tree
        self.interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.tree.sample_peaks()

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
