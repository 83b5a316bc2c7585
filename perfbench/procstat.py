"""Readers for /proc: CPU time and peak memory of the Spark process tree,
and the machine's load context (loadavg, steal, iowait)."""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_start_time() -> float:
    """Epoch seconds at which this process started."""
    starttime = int(_stat_fields(os.getpid())[19]) / _CLK
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + starttime


def descendants() -> list[int]:
    """Live descendant pids of this process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def tree_cpu_s() -> float:
    """utime+stime of every live descendant plus what each has collected
    from its reaped children (cutime+cstime), in seconds. The difference of
    two readings is the CPU the JVM and its Python workers spent between
    them; a worker reaped in between is still counted, by its parent."""
    total = 0
    for pid in descendants():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _CLK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers() -> list[int]:
    """Descendant PySpark daemon and worker processes (forked workers keep
    the daemon's command line)."""
    return [
        p for p in descendants()
        if "pyspark.daemon" in _cmdline(p) or "pyspark.worker" in _cmdline(p)
    ]


def _status_kib(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def worker_peak_rss_mib() -> float:
    """Largest VmHWM (peak resident set) among the Python worker processes."""
    return max((_status_kib(p, "VmHWM") for p in python_workers()), default=0) / 1024


def reset_worker_peaks() -> bool:
    """Reset VmHWM of the Python workers to their current RSS, so the next
    :func:`worker_peak_rss_mib` reads the peak of one phase. Returns False
    where the kernel refuses the reset (the peak then spans the run)."""
    ok = True
    for p in python_workers():
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            ok = False
    return ok


class LoadWindow:
    """loadavg and /proc/stat steal and iowait over one measured window."""

    def __init__(self) -> None:
        self._start = _cpu_jiffies()

    def close(self) -> dict:
        end = _cpu_jiffies()
        delta = {k: end[k] - self._start[k] for k in end}
        total = max(sum(delta.values()), 1)
        with open("/proc/loadavg") as f:
            load1, load5, load15 = (float(x) for x in f.read().split()[:3])
        return {
            "loadavg_1m": load1,
            "loadavg_5m": load5,
            "loadavg_15m": load15,
            "steal_frac": delta["steal"] / total,
            "iowait_frac": delta["iowait"] / total,
            "busy_frac": 1 - (delta["idle"] + delta["iowait"] + delta["steal"]) / total,
        }


def _cpu_jiffies() -> dict:
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return {n: int(v) for n, v in zip(names, fields)}
