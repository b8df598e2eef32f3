"""Process-tree memory sampler and contention record, read from /proc.

The benchmark runs as one Python driver, the Spark JVM it launches,
and the Python workers the JVM forks. ``RssSampler`` reads the peak
resident set the kernel records for every process in that tree and
reports their sum, per group and in total. The
contention record (steal fraction and load average over the run) is
reported beside the metrics so that a run on a busy host can be told
apart from a slow program; it is not a metric itself.
"""

from __future__ import annotations

import os
import threading
import time

POLL_S = 0.25  # the kernel keeps each peak; polling only finds the processes


def process_tree(root: int) -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for ``root`` and every process below it."""
    table, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm sits in parentheses and may itself contain spaces
        lpar, rpar = stat.index("("), stat.rindex(")")
        ppid = int(stat[rpar + 2 :].split()[1])
        table[int(name)] = (ppid, stat[lpar + 1 : rpar])
        children.setdefault(ppid, []).append(int(name))
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in table and pid not in out:
            out[pid] = table[pid]
            stack.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and has not become a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_bytes(pid: int) -> int:
    """The kernel's record of the process's peak resident set (VmHWM),
    so a short spike between two polls is not missed."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Polls the process tree rooted at this process from a background
    thread and keeps each process's peak resident set, grouped as the
    Python driver (this process), the JVM (its ``java`` child) and the
    Python workers (``python*`` descendants). A process that exits
    keeps the last peak seen. Use as a context manager."""

    def __init__(self):
        self._peaks: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        root = os.getpid()
        for pid, (ppid, comm) in process_tree(root).items():
            if pid == root:
                group = "driver"
            elif comm == "java" and ppid == root:
                group = "jvm"
            elif comm.startswith("python"):
                group = "workers"
            else:
                # a helper the JVM spawns shares the JVM's memory map
                # until it execs, so its VmHWM would count the JVM twice
                continue
            peak = max(peak_rss_bytes(pid), self._peaks.get(pid, ("", 0))[1])
            self._peaks[pid] = (group, peak)

    def _loop(self) -> None:
        while not self._stop.wait(POLL_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def peak_mb(self, group: str) -> float:
        """Summed peak resident sets of a group, or of all (``total``)."""
        return sum(
            peak for g, peak in self._peaks.values() if group in (g, "total")
        ) / 2**20


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class ContentionMarker:
    """Steal fraction and load average between ``start`` and ``stop``."""

    def start(self) -> None:
        self._t0 = time.monotonic()
        self._ticks0 = _cpu_ticks()

    def stop(self) -> dict:
        steal1, total1 = _cpu_ticks()
        steal0, total0 = self._ticks0
        return {
            "steal_frac": round((steal1 - steal0) / max(total1 - total0, 1), 4),
            "loadavg_1m": os.getloadavg()[0],
            "cpus": len(os.sched_getaffinity(0)),
            "wall_s": round(time.monotonic() - self._t0, 2),
        }
