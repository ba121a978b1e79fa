"""Host noise and resource readings recorded beside every run."""

from __future__ import annotations

import os


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def _hwm(pid: int) -> int:
    """Peak resident memory of ``pid`` since its last reset (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    raise OSError(f"no VmHWM for {pid}")


class RssPeak:
    """Peak resident memory of this process plus its direct children
    over each ``with`` block: the benchmark process and the JVM it
    launched (the JVM's own Python workers come and go with Spark's
    idle timeout and are left out). It reads the kernel's high-water
    marks: entry resets them (``/proc/<pid>/clear_refs``), exit reads
    them, so no short peak falls between samples. ``peak`` is the
    largest sum over the blocks so far."""

    def __init__(self):
        self.peak = 0
        self._pids: list[int] = []

    def __enter__(self) -> "RssPeak":
        pid = os.getpid()
        self._pids = [pid] + _children(pid)
        for p in self._pids:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        return self

    def __exit__(self, *exc) -> None:
        self.peak = max(self.peak, sum(_hwm(p) for p in self._pids))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]
