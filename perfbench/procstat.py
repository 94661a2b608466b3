"""Process CPU, memory and host counters read from ``/proc``.

The benchmark runs one Python driver that launches one JVM, which may in
turn fork Python workers. CPU time is summed over that whole process tree
(user + sys, plus the children each process has already reaped), so a
batch's CPU covers the driver, the JVM and any Python workers.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children(root: int) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant of it."""
    root = os.getpid() if root is None else root
    kids = _children(root)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pid: int) -> float:
    """User + system CPU of ``pid`` and of the children it has reaped."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields[11..14] = utime, stime, cutime, cstime (stat(5) fields 14-17)
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def java_pid(root: int | None = None) -> int | None:
    """The JVM among the descendants of ``root`` (the Spark driver)."""
    for pid in process_tree(root)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def jit_threads(pid: int) -> list[int]:
    """Thread ids of the JVM's JIT compiler threads (``C1/C2 CompilerThread``).
    They are persistent when the JVM runs with
    ``-XX:-UseDynamicNumberOfCompilerThreads``."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    out.append(int(tid))
        except OSError:
            continue
    return out


def thread_cpu_seconds(pid: int, tid: int) -> float:
    try:
        with open(f"/proc/{pid}/task/{tid}/stat") as f:
            raw = f.read()
    except OSError:
        return 0.0
    fields = raw[raw.rindex(")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


class CpuMeter:
    """Samples CPU seconds of the driver, the JVM and everything else in
    the tree (Python workers), so a delta splits by process kind.

    The JVM's JIT compiler threads are counted apart (``jit``) and left
    out of ``jvm`` and ``total``: they compile on the JVM's own schedule
    while it warms up, which is not the work of the batch they overlap."""

    def __init__(self):
        self.driver = os.getpid()
        self.jvm = java_pid()
        self.jit = jit_threads(self.jvm) if self.jvm is not None else []
        self.refresh()

    def refresh(self) -> None:
        """Re-read the process tree (Python workers come and go); call it
        outside timed regions so ``sample`` stays a few file reads."""
        self.others = [
            p for p in process_tree(self.driver) if p not in (self.driver, self.jvm)
        ]

    def sample(self) -> dict[str, float]:
        driver = cpu_seconds(self.driver)
        rest = sum(cpu_seconds(p) for p in self.others)
        jvm = jit = 0.0
        if self.jvm is not None:
            jit = sum(thread_cpu_seconds(self.jvm, t) for t in self.jit)
            jvm = cpu_seconds(self.jvm) - jit
        return {"python": driver + rest, "jvm": jvm, "jit": jit, "total": driver + jvm + rest}

    @staticmethod
    def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_seconds() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(cpu[8]) / CLK_TCK

