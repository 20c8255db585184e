"""Host and process-tree counters read from /proc.

* ``host_counters`` — whole-host CPU user/sys seconds and major page
  faults. Deltas around a run show a degraded host window (rival load,
  a saturated page-fault path) next to the run's own figures.
* ``tree_cpu_s`` — user+sys CPU of a process and all its descendants
  (the Spark JVM and its Python workers hang below the driver process).
  Reaped descendants are counted through their parents' cutime/cstime.
* ``worker_peaks_mb`` — the VmHWM of each PySpark worker process below
  a root, i.e. the kernels' peak memory.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def host_counters() -> dict:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    out = {"cpu_user_s": (int(cpu[1]) + int(cpu[2])) / _HZ,
           "cpu_sys_s": int(cpu[3]) / _HZ, "pgmajfault": 0}
    with open("/proc/vmstat") as f:
        for line in f:
            key, _, val = line.partition(" ")
            if key == "pgmajfault":
                out["pgmajfault"] = int(val)
    return out


def host_delta(before: dict, after: dict) -> dict:
    d = {k: after[k] - before[k] for k in before}
    d["sys_user_ratio"] = d["cpu_sys_s"] / max(d["cpu_user_s"], 1e-9)
    return d


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _HZ


def worker_peaks_mb(root: int) -> list[float]:
    """VmHWM of the PySpark daemon and its forked workers below
    ``root``, in MB."""
    peaks = []
    for pid in descendants(root):
        if pid == root:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks.append(int(line.split()[1]) / 1024)
        except OSError:
            continue
    return sorted(peaks)
