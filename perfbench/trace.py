"""Tracing for the benchmark's traced runs (``--trace 1``).

* ``Tracer`` records spans (name, start, end, parent) in memory around
  calls the benchmark makes into the program, sets a Spark job group named
  after the span so every job the call issues carries the layer's name,
  and writes the spans as JSON when the run ends.
* Spark's own counters come from its event log, switched on from the
  environment before the JVM starts (``event_log_args``) and parsed with
  the standard library (``spark_layer_counters``).
* ``peak_rss_mb`` reads VmHWM of the JVM and of its Python workers.
"""

from __future__ import annotations

import collections
import json
import os
import time
from contextlib import contextmanager


def event_log_args(log_dir: str) -> str:
    """spark-submit arguments that turn on an uncompressed, non-rolling
    event log under ``log_dir``."""
    return (f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        """Time the enclosed calls as span ``name``; the Spark jobs they
        issue carry job group ``name``."""
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(name, name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["name"] if self._stack else "untraced"
            self.sc.setJobGroup(parent, parent)

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


class EventLogSwitch:
    """Detaches Spark's event-log listener from the listener bus and
    attaches it again, so one traced process can time passes with and
    without the event log and report the difference as tracing overhead."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._listener = sc.eventLogger().get()
        self.attached = True

    def set(self, attached: bool) -> None:
        if attached and not self.attached:
            self._bus.addToEventLogQueue(self._listener)
        elif not attached and self.attached:
            self._bus.removeListener(self._listener)
        self.attached = attached


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application that logged under ``log_dir``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def spark_layer_counters(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run time (s), JVM GC time (s)
    and shuffle bytes written (MB), from an event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = collections.defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0})
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"], "untraced")
            m = e.get("Task Metrics") or {}
            c = out[group]
            c["tasks"] += 1
            c["task_s"] += m.get("Executor Run Time", 0) / 1e3
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
    return dict(out)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited meanwhile
        kids[int(stat[stat.rindex(")") + 2:].split()[1])].append(int(d))
    return kids


def descendants() -> list[int]:
    """Live descendants of this process."""
    kids, out = _children(), []
    todo = list(kids[os.getpid()])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status(pid: int) -> dict:
    with open(f"/proc/{pid}/status") as f:
        return dict(line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line)


def peak_rss_mb() -> tuple[float, float]:
    """(JVM VmHWM, largest VmHWM of a live Python worker), in MB, over the
    descendants of this process."""
    jvm = py = 0.0
    for pid in descendants():
        try:
            st = _status(pid)
        except OSError:
            continue
        hwm = int(st.get("VmHWM", "0 kB").split()[0]) / 1024
        if st.get("Name") == "java":
            jvm = max(jvm, hwm)
        elif st.get("Name", "").startswith("python"):
            py = max(py, hwm)
    return jvm, py
