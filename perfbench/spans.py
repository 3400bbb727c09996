"""In-memory spans for the traced run, with Spark counters per span.

A span is one call from the benchmark into a package module: name, start,
end, parent span and the id of the benchmark job it belongs to. Each span
runs under its own Spark job group, so the Spark jobs it caused can be read
back from the in-process status store (no UI, no network) once the
benchmark job has finished, outside its timer. Nothing is written until the
run ends; the untraced run uses ``NullTracer`` and sets no job groups.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# StageData accessors read per stage, summed per span
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
_DONE = {"COMPLETE", "FAILED", "SKIPPED"}


class NullTracer:
    enabled = False

    def begin_job(self, job_id: int) -> None:
        pass

    def end_job(self) -> None:
        pass

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._job: int | None = None

    def begin_job(self, job_id: int) -> None:
        self._job = job_id

    def end_job(self) -> None:
        """Read the Spark counters of the job's spans. Runs outside the
        job's timer, before later jobs can push its stages out of the
        status store's retention window."""
        for rec in self.spans:
            if rec["job"] == self._job and "spark" not in rec:
                rec["spark"] = self._counters(rec["group"])
        self._job = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "job": self._job,
            "name": name,
            "parent": None if parent is None else parent["id"],
            "group": f"perfbench-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def _counters(self, group: str) -> dict:
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        job_ids = list(tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in list(info.stageIds) if info is not None else []:
                data = self._stage(store, sid)
                if data is None:
                    continue
                for key, accessor in _STAGE_FIELDS.items():
                    out[key] += int(getattr(data, accessor)())
        return out

    @staticmethod
    def _stage(store, sid: int):
        # the listener bus updates the store asynchronously: give a stage
        # that is still ACTIVE/PENDING a moment to settle
        deadline = time.perf_counter() + 2.0
        while True:
            try:
                data = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage never submitted / evicted
                return None
            if data.status().toString() in _DONE or time.perf_counter() > deadline:
                return data
            time.sleep(0.02)


def self_seconds(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of that interval
    its child spans cover (children of one span never overlap here: the
    benchmark calls into the program from one thread)."""
    child_time: dict[int, float] = {}
    for rec in spans:
        if rec["parent"] is not None:
            child_time[rec["parent"]] = child_time.get(rec["parent"], 0.0) + (
                rec["end"] - rec["start"]
            )
    return {
        rec["id"]: (rec["end"] - rec["start"]) - child_time.get(rec["id"], 0.0)
        for rec in spans
    }
