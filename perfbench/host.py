"""Process-tree CPU and memory from ``/proc``, plus the host-noise probe.

The benchmark's process, the JVM it launches and the JVM's Python
workers form one tree; CPU and peak RSS are summed over that tree.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: split after its closing parenthesis
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[2]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds() -> dict[str, float]:
    """CPU (user+sys, including reaped children) of the tree, split into
    ``jvm`` (java processes) and ``python`` (everything else)."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid in tree():
        st = _stat(pid)
        if st is None:
            continue
        # fields after comm: state=1, utime=12, stime=13, cutime=14, cstime=15
        ticks = sum(int(st[i]) for i in (12, 13, 14, 15))
        out["jvm" if st[0] == "java" else "python"] += ticks / _TICK
    return out


def peak_rss_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def speed_probe() -> float:
    """Seconds a fixed single-thread loop takes; recorded next to each
    timed window to tell host noise from program change, never used to
    scale a reported metric."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) & 0xFFFFFFFF
    return time.perf_counter() - t


def stop_descendants(timeout: float = 30.0) -> None:
    """Wait for every descendant of this process to end; after
    ``timeout`` seconds, terminate what is left and wait again."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        rest = [p for p in tree() if p != os.getpid() and _stat(p) and _stat(p)[1] != "Z"]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            if sig == signal.SIGKILL:
                return
            sig, deadline = signal.SIGKILL, time.time() + 5
        time.sleep(0.1)
