"""Spans and counts for the traced run.

A span is (name, start, end, parent, op id), recorded by the
benchmark around each call into a layer of ``otters_spark``. Spans
stay in memory and are written out when the run ends. A span's layer
is its name up to the first dot; a layer's self time is its spans'
durations minus the time their child spans cover.

When disabled, ``span`` records nothing, so the untraced half of a run
pays only a context-manager call per layer boundary.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None or parent is None else parent["op"],
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_time_by_layer(self) -> dict[str, float]:
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"]:
                layer = s["name"].split(".", 1)[0]
                out[layer] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_time_by_layer()}, f)


def event_log_tasks(path: str) -> list[dict]:
    """One dict per finished task in a Spark event log: launch time
    (epoch ms), the job group of its job, executor CPU (ms), GC (ms)
    and shuffle bytes written."""
    stage_group: dict[int, str | None] = {}
    tasks = []
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                tasks.append(
                    {
                        "launch_ms": ev["Task Info"]["Launch Time"],
                        "group": stage_group.get(ev["Stage ID"]),
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                    }
                )
    return tasks
