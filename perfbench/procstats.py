"""CPU time and resident memory of this process and every process it
started (the Spark driver JVM and its Python workers), read from /proc,
and the stopping of all of them at exit.

CPU: a live process reports its own utime+stime; a child that exited and
was reaped is folded into its parent's cutime+cstime. Summing
utime+stime+cutime+cstime over the live tree therefore counts every CPU
second once, including workers that came and went during an op.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import sys
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces and parens; fields follow the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of root and all its descendants."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the process tree under root."""
    total = 0
    for _, f in _tree(root or os.getpid()):
        # fields after the ')' : state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it (Python workers are forked from one
    daemon and share its pages; a child the JVM has just forked shares
    all of the JVM's). 0 for a process that exited before it was read."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_mem_mb(root: int | None = None) -> dict[str, float]:
    """Resident memory of the process tree under root, in MiB, by
    "<command> <pid>", with shared pages counted once across the tree."""
    return {
        f"{_comm(pid)} {pid}": _pss_kb(pid) / 1024
        for pid, _ in _tree(root or os.getpid())
    }


def become_subreaper() -> None:
    """Makes this process adopt its orphaned descendants (a Python worker
    whose daemon exited first) instead of init, so stop_tree still finds
    and reaps them. Linux only; elsewhere a no-op."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    """Collects the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _live_descendants() -> list[int]:
    me = os.getpid()
    # state "Z": ended, waiting for its parent (or this process) to reap it
    return [pid for pid, f in _tree(me) if pid != me and f[0] != "Z"]


def stop_tree(grace_s: float = 20.0) -> list[str]:
    """Stops every process this one started, directly or not, and waits
    until each has ended: SIGTERM, then SIGKILL after grace_s. Returns
    "<command> <pid>" of those that were still running when called."""
    # multiprocessing's resource tracker ignores SIGTERM; closing its
    # pipe ends it, and _stop waits for it
    rt = sys.modules.get("multiprocessing.resource_tracker")
    if rt is not None and hasattr(rt._resource_tracker, "_stop"):
        rt._resource_tracker._stop()
    left = [f"{_comm(pid)} {pid}" for pid in _live_descendants()]
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + wait_s
        pids = _live_descendants()
        for pid in pids:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        while pids and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap()
            pids = _live_descendants()
        if not pids:
            break
    # children killed last become zombies of this process or, once their
    # parent is gone, are adopted by it
    deadline = time.monotonic() + 10.0
    while _tree(os.getpid())[1:] and time.monotonic() < deadline:
        _reap()
        time.sleep(0.05)
    return left


class RssSampler:
    """Samples the tree's resident memory on a background thread and
    keeps the peak, with the per-process split at that moment. Use as a
    context manager around the measured span."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_split: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        split = tree_mem_mb()
        total = sum(split.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_split = total, split

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
