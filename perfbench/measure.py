"""Measurement helpers: client-side spans, a /proc peak-RSS reader, and a
parser that attributes Spark's event log to job groups.

Nothing here reaches inside the engine: spans wrap its public entry
points from the outside, and executor numbers come from the event log
Spark writes when the benchmark's session config enables it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, op) around layer calls. A
    disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def totals(self, op_ids: set[str]) -> dict[str, tuple[int, float]]:
        """(count, seconds) per span name over the given ops."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if s["op"] in op_ids:
                out[s["name"]][0] += 1
                out[s["name"]][1] += s["end"] - s["start"]
        return {k: (c, t) for k, (c, t) in out.items()}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> list[int]:
    """A process and all its descendants (the Spark JVM and the Python
    workers it forks)."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class PeakRss:
    """Peak RSS of a process tree over a window. `start()` resets the
    root's kernel-tracked peak (VmHWM) to its current RSS; a background
    thread then adds, every `period` seconds, the root's peak so far to
    the current RSS of its descendants. `stop()` returns the largest such
    sum in MB. The JVM's peak is thus exact; a Python worker's is as
    often as it is polled."""

    def __init__(self, root: int, period: float = 0.2):
        self.root, self.period = root, period
        self.peak_kb = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        root, *workers = _tree(self.root)
        total = _status_kb(root, "VmHWM:") + sum(_status_kb(p, "VmRSS:") for p in workers)
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._done.wait(self.period):
            self._poll()

    def start(self) -> "PeakRss":
        try:
            with open(f"/proc/{self.root}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the peak then counts from the JVM's start
        self._thread.start()
        return self

    def stop(self) -> float:
        self._done.set()
        self._thread.join()
        self._poll()
        return self.peak_kb / 1024.0


# SQL metrics of the Python runners. "time to initialize Python workers"
# is left out on purpose: summed over tasks it exceeds total executor
# time, so its meaning is not settled.
PY_RUN_MS = "time to run Python workers"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path: str) -> dict[str | None, Counter]:
    """Per job group: jobs, stages, tasks, failed task attempts and the
    executor metrics summed over its tasks. Jobs without a group land
    under the key None."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, Counter] = defaultdict(Counter)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                props = ev.get("Properties") or {}
                stage_group[sid] = props.get("spark.jobGroup.id")
                groups[stage_group[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"])]
                g["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    g["task_failures"] += 1
                m = ev.get("Task Metrics") or {}
                g["executor_run_ms"] += m.get("Executor Run Time", 0)
                g["jvm_cpu_ns"] += m.get("Executor CPU Time", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                g["peak_exec_mem"] = max(
                    g["peak_exec_mem"], m.get("Peak Execution Memory", 0)
                )
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name == PY_RUN_MS:
                        g["python_run_ms"] += _num(acc.get("Update"))
                    elif name in PY_BYTES:
                        g["python_bytes"] += _num(acc.get("Update"))
    return groups
