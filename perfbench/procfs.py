"""CPU time and resident memory of the engine's process tree, from /proc.

The tree is this Python process (the Spark driver's Python side), the
JVM it launched, and the Python workers the JVM forks. Each process is
classified once by its command line.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass  # the process ended while being read
    return out


def tree(root: int | None = None) -> list[int]:
    """Every live process under `root` (default: this one), root first."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def cpu_s(pid: int) -> float:
    """user+sys CPU of `pid` and its reaped children, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return 0.0
    # fields[0] is field 3 (state): utime=14, stime=15, cutime=16, cstime=17
    return sum(int(x) for x in fields[11:15]) / _TICK


def status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def kind(pid: int) -> str:
    """'driver', 'jvm' or 'pyworker'."""
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = f.read().split(b"\0", 1)[0]
    except (FileNotFoundError, ProcessLookupError):
        return "pyworker"
    return "jvm" if exe.endswith(b"java") else "pyworker"


def snapshot() -> dict:
    """{kind: {"cpu_s", "peak_rss_mb"}} summed over the live tree."""
    out = {k: {"cpu_s": 0.0, "peak_rss_mb": 0.0} for k in ("driver", "jvm", "pyworker")}
    for pid in tree():
        k = out[kind(pid)]
        k["cpu_s"] += cpu_s(pid)
        k["peak_rss_mb"] += status_kb(pid, "VmHWM") / 1024.0
    return out


def tree_cpu_s() -> float:
    return sum(cpu_s(pid) for pid in tree())
