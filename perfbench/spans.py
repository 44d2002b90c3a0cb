"""Span tracer for the traced run.

A span is recorded at each layer boundary the benchmark wraps: name,
start, end, parent span and the id of the op it belongs to. Spans stay
in memory and are written out when the run ends.

Spark-side counters are read per span: each span on the main thread runs
under its own job group, and the jobs of that group are looked up in
Spark's status store (``spark.ui.enabled=false`` keeps the store). Jobs
that a streaming query runs carry the query's run id as their group, so
a streaming span adopts them explicitly (``adopt_group``). Spans opened
on other threads (the foreachBatch callback) record time only, so they
never overwrite the streaming thread's own job group.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_s": "executorRunTime",
    "executor_cpu_s": "executorCpuTime",
    "gc_s": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
# executorRunTime and jvmGcTime are in ms, executorCpuTime in ns.
STAGE_SCALE = {"executor_run_s": 1e-3, "gc_s": 1e-3, "executor_cpu_s": 1e-9}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self.op: int | None = None
        self.overhead_s = 0.0
        self._stages: dict[int, list[int]] = {}
        self._stage_data: dict[int, dict] = {}
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        main = threading.get_ident() == self._main
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if main and self._stack else None
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "op": self.op, "jobs": []}
            )
        if main:
            self._stack.append(sid)
            self.sc.setJobGroup(f"perfbench-{sid}", name)
        t1 = time.perf_counter()
        try:
            yield self.spans[sid]
        finally:
            t2 = time.perf_counter()
            span = self.spans[sid]
            span["start"], span["end"] = t1, t2
            if main:
                self._stack.pop()
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"perfbench-{parent}", self.spans[parent]["name"])
                span["jobs"] += self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{sid}")
            with self._lock:
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def adopt_group(self, span: dict, group: str) -> None:
        span["jobs"] += self.sc.statusTracker().getJobIdsForGroup(group)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs in a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ---------------------------------------------------------- queries
    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and "end" in s]

    @staticmethod
    def self_time(span: dict, spans: list[dict]) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted(
            (s["start"], s["end"]) for s in spans if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def subtree_jobs(self, span: dict, spans: list[dict]) -> set[int]:
        jobs = set(span["jobs"])
        for s in spans:
            if s["parent"] == span["id"]:
                jobs |= self.subtree_jobs(s, spans)
        return jobs

    def _job_stages(self, job: int) -> list[int]:
        if job not in self._stages:
            it = self.store.job(job).stageIds().iterator()
            ids = []
            while it.hasNext():
                ids.append(int(it.next()))
            self._stages[job] = ids
        return self._stages[job]

    def _stage(self, stage: int) -> dict | None:
        if stage not in self._stage_data:
            try:
                s = self.store.lastStageAttempt(stage)
            except Py4JError:  # listed by a job but never submitted (skipped)
                self._stage_data[stage] = None
            else:
                d = {k: float(getattr(s, m)()) * STAGE_SCALE.get(k, 1) for k, m in STAGE_FIELDS.items()}
                d["spill_bytes"] = d.pop("memory_spill_bytes") + d.pop("disk_spill_bytes")
                self._stage_data[stage] = d
        return self._stage_data[stage]

    def spark_counters(self, jobs: set[int]) -> dict[str, float]:
        """Jobs, stages and summed stage metrics. A stage that several
        jobs list (a reused shuffle) counts once, for the first job."""
        out = {"jobs": float(len(jobs)), "stages": 0.0}
        seen: set[int] = set()
        for job in sorted(jobs):
            for stage in self._job_stages(job):
                if stage in seen:
                    continue
                seen.add(stage)
                data = self._stage(stage)
                if data is None:
                    continue
                out["stages"] += 1
                for k, v in data.items():
                    out[k] = out.get(k, 0.0) + v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
