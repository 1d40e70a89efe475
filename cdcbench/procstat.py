"""Process-tree accounting from ``/proc``: resident memory, CPU time and
shutdown of every process this benchmark started.

The tree is this Python process plus its descendants: the Spark JVM that
pyspark launches and the Python workers the JVM forks. Linux only.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None if
    the process is gone. ``[1]`` is the parent pid, ``[11]``/``[12]`` are
    user/system ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out: list[int] = []
    stack = [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def _resident_bytes(pid: int) -> int:
    """PSS of a small process, RSS of the JVM. Proportional set size
    counts pages shared between processes (the Python workers are forked
    from one daemon) once, where summing RSS would count them per
    process. The JVM shares nothing with the rest, and reading its
    ``smaps_rollup`` takes tens of milliseconds under its memory-map
    lock, which would stall the process being measured."""
    if _comm(pid) == "java":
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_resident_bytes(by_command: dict[str, list[int]] | None = None) -> int:
    """Resident bytes of this process and all its descendants. Fills
    ``by_command``, if given, with command name -> [processes, bytes]."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            b = _resident_bytes(pid)
            name = _comm(pid) if by_command is not None else ""
        except (OSError, IndexError, ValueError):
            continue
        total += b
        if by_command is not None:
            acc = by_command.setdefault(name, [0, 0])
            acc[0] += 1
            acc[1] += b
    return total


def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process and its live
    descendants. Work of descendants that already exited is not counted,
    so take differences across an interval in which the JVM lives."""
    ticks = 0
    for pid in [os.getpid(), *descendants()]:
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += int(fields[11]) + int(fields[12])
    return ticks / _TICKS


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(start: tuple[int, int]) -> float:
    """Share of CPU time since ``start`` that the hypervisor gave to
    other guests: a slow run on a shared host shows here."""
    steal, total = host_cpu_ticks()
    return (steal - start[0]) / max(total - start[1], 1)


class PeakRss:
    """Background sampler of :func:`tree_resident_bytes`; ``peak`` is the
    largest sample seen and ``at_peak`` its split by command name. Use as
    a context manager."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        by_command: dict[str, list[int]] = {}
        total = tree_resident_bytes(by_command)
        if total > self.peak:
            self.peak, self.at_peak = total, by_command

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def stop_processes(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid in ``pids`` has exited; SIGTERM, then
    SIGKILL, those still alive after ``timeout_s``. Takes pids rather
    than walking the tree because a worker whose parent JVM exited is
    re-parented away from this process. Returns the pids that had to be
    signalled."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        _reap()
        time.sleep(0.1)
    signalled = [p for p in pids if _alive(p)]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + 5
        while any(_alive(p) for p in pids) and time.monotonic() < end:
            _reap()
            time.sleep(0.1)
    _reap()
    return signalled


def _reap() -> None:
    """Collect exit statuses of direct children so they leave the table."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
