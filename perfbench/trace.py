"""Traced-run instruments: timers wrapped around layer entry points from
outside, and Spark totals read back from the event log.

Wrappers replace a module-level name (or an instance attribute) for the
length of a ``with`` block and restore it afterwards; nothing in the
program is edited.  Untraced runs install none of them.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager


class Spans:
    """Thread-safe accumulator: per-name call count and busy seconds."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)

    def add(self, name: str, dt: float, n: int = 1) -> None:
        with self._lock:
            self.calls[name] += n
            self.secs[name] += dt

    def wrap(self, name: str, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.add(name, time.perf_counter() - t0)

        timed.__wrapped__ = fn
        return timed

    def reset(self) -> None:
        with self._lock:
            self.calls.clear()
            self.secs.clear()


def instruments(on: bool, wrappers: list) -> ExitStack:
    """Enter every wrapper when tracing; an empty stack otherwise."""
    stack = ExitStack()
    for w in wrappers if on else []:
        stack.enter_context(w)
    return stack


@contextmanager
def patched(target, attr: str, replacement):
    """Temporarily set ``target.attr``; restores (or removes) on exit."""
    had = attr in vars(target) if hasattr(target, "__dict__") else True
    old = getattr(target, attr)
    setattr(target, attr, replacement)
    try:
        yield old
    finally:
        if had:
            setattr(target, attr, old)
        else:
            delattr(target, attr)


# -- Spark event log --------------------------------------------------------------

def read_event_log(logdir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the application log under ``logdir`` (a single
    file, or the ``eventlog_v2_*`` directory of a rolling log).

    jobs: {id, submit_ms, tags, stages}; tasks: {stage, run_ms, cpu_ns,
    gc_ms, shuffle_read, shuffle_write, spill}.
    """
    files = sorted(
        f for f in glob.glob(os.path.join(logdir, "**", "*"), recursive=True)
        if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-"))
    )
    jobs, tasks = [], []
    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line[:60]:
                    ev = json.loads(line)
                    tags = (ev.get("Properties") or {}).get("spark.job.tags") or ""
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "submit_ms": ev.get("Submission Time", 0),
                            "tags": set(t for t in tags.split(",") if t),
                            "stages": set(ev.get("Stage IDs", [])),
                        }
                    )
                elif '"SparkListenerTaskEnd"' in line[:60]:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return jobs, tasks


def spark_totals(jobs: list[dict], tasks: list[dict], keep) -> dict[str, float]:
    """Totals over the jobs for which ``keep(job)`` is true."""
    chosen = [j for j in jobs if keep(j)]
    stages = set().union(*(j["stages"] for j in chosen)) if chosen else set()
    mine = [t for t in tasks if t["stage"] in stages]
    return {
        "spark.jobs": float(len(chosen)),
        "spark.tasks": float(len(mine)),
        "spark.executor_run_s": sum(t["run_ms"] for t in mine) / 1e3,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in mine) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in mine) / 1e3,
        "spark.shuffle_read_bytes": float(sum(t["shuffle_read"] for t in mine)),
        "spark.shuffle_write_bytes": float(sum(t["shuffle_write"] for t in mine)),
        "spark.spill_bytes": float(sum(t["spill"] for t in mine)),
    }


def unit_of(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes"):
        return "bytes"
    return "count"


def persisted(spark) -> tuple[int, int]:
    """(persisted RDD count, their bytes in memory and on disk)."""
    sc = spark.sparkContext._jsc.sc()
    infos = sc.getRDDStorageInfo()
    return (
        int(sc.getPersistentRDDs().size()),
        int(sum(i.memSize() + i.diskSize() for i in infos)),
    )
