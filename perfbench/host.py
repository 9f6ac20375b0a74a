"""Process-tree and host readings from /proc: CPU seconds, resident memory,
CPU steal and directory sizes.

The process tree is the benchmark's own process plus every descendant: the
Spark JVM, its Python worker daemon and the workers it forks.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may hold spaces or parens: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime of every live process in the tree, plus the reaped
    children each has waited for (cutime+cstime) -- so a worker that exited
    during the job still counts, once."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the tree with shared pages counted once: the sum
    of each process's PSS. Summing plain RSS would count a forked Python
    worker's copy-on-write pages twice, and a child the JVM is spawning
    (which briefly shares the JVM's whole address space) once more."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:  # exited, or a kernel thread without an mm
            pass
    return total * 1024 / 1e6


class PeakRss:
    """Samples the tree's RSS every `period` seconds while entered."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already inside user/nice: count the first 8 fields
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass
    return total / 1e6


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _reap_exited() -> None:
    """Collect every exited child (orphans adopted by a subreaper included)."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _wait_tree(deadline: float) -> list[int]:
    """Wait until no descendant is left or `deadline` passes; returns the
    descendants still alive."""
    while True:
        _reap_exited()
        left = [p for p in tree_pids() if p != os.getpid() and _alive(p)]
        if not left or time.monotonic() > deadline:
            _reap_exited()  # those that died since the first pass
            return left
        time.sleep(0.1)


def reap_tree(timeout: float = 30.0) -> list[int]:
    """Wait for every descendant to exit, killing what outlives `timeout`
    and waiting for that too; returns the pids that had to be killed."""
    left = _wait_tree(time.monotonic() + timeout)
    if left:
        for pid in left:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        _wait_tree(time.monotonic() + 10.0)
    return left


def become_subreaper() -> None:
    """Adopt orphaned descendants (PR_SET_CHILD_SUBREAPER), so a process
    whose parent exited first -- the Python worker daemon outliving the
    JVM that forked it -- still counts as ours and is waited for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
