"""In-memory spans around calls into the engine's layers.

A span records name, start, end, parent span and request id. With tracing
on, each span also runs its calls under a Spark job group of its own and,
when it closes, reads the group's jobs from ``statusTracker()`` and each
stage's metrics from the application status store — which Spark keeps even
with the UI disabled. The counts are the span's OWN: jobs a child span ran
belong to the child. With tracing off a span is a bare context manager.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "input_bytes", "input_records",
            "shuffle_bytes", "executor_run_s")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s: dict[str, float] = {}  # counter-reading time per phase
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._phase = "setup"

    def phase(self, name: str) -> None:
        """Tag the spans that follow (``setup``, ``main``, ``batch``, ``probe``)."""
        self._phase = name

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": name.split(".")[0],
               "parent": parent, "request": request, "phase": self._phase,
               "start": 0.0, "end": 0.0}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            t0 = time.perf_counter()
            rec.update(self._counters(f"perfbench-{sid}"))
            self._set_group(parent)
            self.overhead_s[rec["phase"]] = (
                self.overhead_s.get(rec["phase"], 0.0) + time.perf_counter() - t0
            )

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    def _counters(self, group: str) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        jsc = self._sc._jsc.sc()
        # stage metrics reach the status store through the listener bus
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        stages: set[int] = set()
        job_ids = list(tracker.getJobIdsForGroup(group))
        for job in job_ids:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        out["jobs"] = len(job_ids)
        run_ms = 0
        for s in sorted(stages):
            try:
                data = store.lastStageAttempt(s)
            except Exception:  # py4j wraps NoSuchElementException: never submitted
                continue
            if str(data.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(data.numTasks())
            out["input_bytes"] += int(data.inputBytes())
            out["input_records"] += int(data.inputRecords())
            out["shuffle_bytes"] += int(data.shuffleReadBytes()) + int(data.shuffleWriteBytes())
            run_ms += int(data.executorRunTime())
        out["executor_run_s"] = run_ms / 1000.0
        return out

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({**rec, "self_s": selfs[rec["id"]]}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover. Spans run
    on one thread, so children never overlap each other."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
