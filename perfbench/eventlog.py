"""Parser for a Spark event log (``spark.eventLog.enabled``, uncompressed).

Per stage it extracts the job group of the job that ran it, the task count,
and per task the launch and finish times, executor run, CPU and GC time,
shuffle read and write bytes, shuffle fetch wait, spill bytes and peak
execution memory.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Task:
    task_id: int
    launch: float  # epoch seconds
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    fetch_wait_s: float
    spill_bytes: int
    peak_exec_bytes: int
    failed: bool


@dataclass
class Stage:
    stage_id: int
    group: str | None = None
    tasks: list[Task] = field(default_factory=list)


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        task_id=int(info["Task ID"]),
        launch=info["Launch Time"] / 1000,
        finish=info["Finish Time"] / 1000,
        run_s=m.get("Executor Run Time", 0) / 1000,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000,
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1000,
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        peak_exec_bytes=m.get("Peak Execution Memory", 0),
        failed=bool(info.get("Failed", False)),
    )


def parse(path: str) -> dict[int, Stage]:
    """Stages by id from the event log file ``path``."""
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stages.setdefault(sid, Stage(sid)).group = group
            elif kind == "SparkListenerTaskEnd":
                stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])).tasks.append(_task(ev))
    return stages


def find_log(log_dir: str) -> str:
    """The single application log written into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def group_tasks(stages: dict[int, Stage], group: str) -> dict[int, list[Task]]:
    """Successful tasks per stage of the jobs run under job group ``group``."""
    return {
        sid: [t for t in st.tasks if not t.failed]
        for sid, st in stages.items()
        if st.group == group and st.tasks
    }
