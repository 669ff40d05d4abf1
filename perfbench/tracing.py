"""Spans around the benchmark's calls into each layer, and exact Spark
work counts per operation.

Spans live in memory and are written once when the run ends.  A disabled
tracer records nothing, so untraced runs pay only a no-op context manager
per call."""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        # seconds spent reading Spark's status stores around ops
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self_times_ms(self.spans),
                       **extra}, f)


def self_times_ms(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of its interval covered by its direct children."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, edge = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"] or c["start"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) * 1e3
    return out


_FILES_READ = re.compile(r"SQLPlanMetric\(number of files read,(\d+),")


def _leading_int(text: str) -> int:
    m = re.match(r"\s*([\d,]+)", text)
    return int(m.group(1).replace(",", "")) if m else 0


class SparkWork:
    """Jobs, stages, tasks, input bytes and files read by everything Spark
    ran between ``start()`` and ``stop()`` — including jobs submitted from
    the engine's writer threads, which a job group would miss.  Counts come
    from the status stores once the listener bus has drained, so they are
    exact."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._next_exec = 0
        self._skip_to_end()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _skip_to_end(self) -> None:
        self._drain()
        tracker = self.sc.statusTracker()
        while tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        while self._sql_store.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def start(self) -> None:
        self._skip_to_end()

    def stop(self) -> dict[str, int]:
        self._drain()
        tracker = self.sc.statusTracker()
        app_store = self._jsc.statusStore()
        jobs = stages = tasks = input_bytes = 0
        while (info := tracker.getJobInfo(self._next_job)) is not None:
            self._next_job += 1
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += st.numTasks
                input_bytes += app_store.lastStageAttempt(sid).inputBytes()
        files = 0
        while (ex := self._sql_store.execution(self._next_exec)).isDefined():
            eid = self._next_exec
            self._next_exec += 1
            accs = _FILES_READ.findall(ex.get().metrics().toString())
            if not accs:
                continue
            values = self._sql_store.executionMetrics(eid)
            for acc in accs:
                v = values.get(int(acc))
                if v.isDefined():
                    files += _leading_int(v.get())
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "input_bytes": input_bytes, "files_read": files}
