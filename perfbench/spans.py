"""Spans: recording on the driver and in Python workers, and attributing a
phase's wall time to layers.

A driver span is ``(layer, t0, t1)`` in epoch seconds. A worker span is
``(task_id, layer, t0, t1, cpu_s)``: it also carries the Spark task attempt
id it ran in and the CPU seconds the worker process spent inside it. Worker
spans travel back to the driver through an accumulator, so they arrive with
the job's results.

Attribution splits a phase's wall interval into elementary pieces at every
span and task boundary. A piece during which tasks run is shared equally
among the running tasks, and each task's share goes to the worker span open
in it at that moment, or to ``spark.task_jvm`` when the task is outside every
Python span (the JVM side of the task: scan, Arrow conversion, shuffle,
write). A piece with no task running goes to the innermost driver span open
then (``spark.driver`` for an action's scheduling and commit time), else to
``unexplained``. The shares therefore add up to the phase's wall time.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable

from pyspark.accumulators import AccumulatorParam

TASK_JVM = "spark.task_jvm"
UNEXPLAINED = "unexplained"


class SpanListParam(AccumulatorParam):
    """Accumulator of worker span tuples (concatenation)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class WorkerSpans:
    """Per-task span buffer used inside a ``mapInArrow`` function."""

    def __init__(self, task_id: int) -> None:
        self.task_id = task_id
        self.rows: list[tuple] = []

    def call(self, layer: str, fn: Callable, *args, **kwargs):
        c0, w0 = time.process_time(), time.time()
        out = fn(*args, **kwargs)
        self.rows.append((self.task_id, layer, w0, time.time(), time.process_time() - c0))
        return out

    def next(self, layer: str, it):
        """``next(it)`` inside a span; ``None`` when exhausted."""
        c0, w0 = time.process_time(), time.time()
        try:
            out = next(it)
        except StopIteration:
            return None
        self.rows.append((self.task_id, layer, w0, time.time(), time.process_time() - c0))
        return out


class DriverSpans:
    """Driver-side spans of one phase execution."""

    def __init__(self) -> None:
        self.rows: list[tuple[str, float, float]] = []

    def call(self, layer: str, fn: Callable, *args, **kwargs):
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.rows.append((layer, t0, time.time()))


def attribute(
    p0: float,
    p1: float,
    driver: Iterable[tuple[str, float, float]],
    tasks: dict[int, tuple[float, float]],
    worker: Iterable[tuple],
) -> dict[str, float]:
    """Wall seconds of ``[p0, p1]`` per layer, plus ``unexplained``; the
    values sum to ``p1 - p0``. ``worker`` spans start with ``(task_id,
    layer, t0, t1)``; spans of one task must not overlap (one worker runs one call at a
    time). Spans of tasks not in ``tasks`` are ignored."""

    def clamp(a, b, lo, hi):
        return max(a, lo), min(b, hi)

    tasks = {t: clamp(a, b, p0, p1) for t, (a, b) in tasks.items()}
    tasks = {t: ab for t, ab in tasks.items() if ab[1] > ab[0]}
    per_task: dict[int, list[tuple[str, float, float]]] = {t: [] for t in tasks}
    for tid, layer, a, b, *_ in worker:
        if tid in tasks:
            a, b = clamp(a, b, *tasks[tid])
            if b > a:
                per_task[tid].append((layer, a, b))
    drv = [(layer, *clamp(a, b, p0, p1)) for layer, a, b in driver]
    drv = [d for d in drv if d[2] > d[1]]
    cuts = {p0, p1}
    for a, b in tasks.values():
        cuts.update((a, b))
    for spans in per_task.values():
        for _, a, b in spans:
            cuts.update((a, b))
    for _, a, b in drv:
        cuts.update((a, b))
    cuts = sorted(cuts)
    out: dict[str, float] = {}
    for a, b in zip(cuts[:-1], cuts[1:]):
        mid, dt = (a + b) / 2, b - a
        running = [t for t, (ta, tb) in tasks.items() if ta <= mid < tb]
        if running:
            share = dt / len(running)
            for t in running:
                layer = next((s[0] for s in per_task[t] if s[1] <= mid < s[2]), TASK_JVM)
                out[layer] = out.get(layer, 0.0) + share
        else:
            open_ = [d for d in drv if d[1] <= mid < d[2]]
            layer = max(open_, key=lambda d: d[1])[0] if open_ else UNEXPLAINED
            out[layer] = out.get(layer, 0.0) + dt
    out.setdefault(UNEXPLAINED, 0.0)
    return out
