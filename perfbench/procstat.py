"""Process-tree accounting from /proc: CPU seconds and peak resident memory
of this process plus every descendant (the Spark JVM it launches and the
JVM's Python worker daemon and workers)."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the live tree plus its reaped children.

    Fields (after comm): utime=11, stime=12, cutime=13, cstime=14.  A worker
    that exited and was reaped by its parent shows up in the parent's
    cutime/cstime, so the sum stays monotonic across worker churn."""
    total = 0
    for pid in descendants(root or os.getpid()):
        st = _stat(pid)
        if st is not None:
            total += sum(int(st[i]) for i in (11, 12, 13, 14))
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the live tree's per-process resident high-water marks
    (VmHWM), read at the end of a run: the JVM's peak plus its workers'."""
    total_kb = 0
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("VmHWM:"))
        except (OSError, StopIteration):  # ended, or a kernel thread
            continue
    return total_kb / 1024


def wait_for_children(timeout_s: float = 30.0) -> list[int]:
    """Block until no descendant of this process is alive; return any that
    outlived ``timeout_s``."""
    me = os.getpid()
    deadline = time.time() + timeout_s
    while True:
        left = [p for p in descendants(me)
                if p != me and (_stat(p) or ["Z"])[0] != "Z"]  # gone or zombie
        if not left or time.time() > deadline:
            return left
        time.sleep(0.1)
