"""Spans around the benchmark's calls into the engine, with Spark work counts.

A span records name, start, end, parent span and op id. While a span is
open the tracer also notes how many Spark jobs were submitted, and on close
it reads the job, stage and task counts of every job id submitted in
between. Counting by job id rather than by job group sees the jobs the
engine's eager thread pool submits, which carry no inherited job group.

Spans stay in memory and are written out once, when the benchmark ends.
A disabled tracer records nothing and reads no Spark status, so untraced
ops pay nothing for it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class SparkWork:
    """Job, stage and task counts of the jobs submitted in a time window."""

    def __init__(self, sc):
        self._status = sc.statusTracker()
        self._dag = sc._jsc.sc().dagScheduler()

    def job_count(self) -> int:
        """Number of jobs ever submitted; job ids run from 0 to this - 1."""
        return self._dag.numTotalJobs()

    def counts(self, first_job: int, end_job: int) -> dict[str, int]:
        stages: set[int] = set()
        tasks = 0
        for job_id in range(first_job, end_job):
            info = self._status.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                if stage_id in stages:
                    continue
                stage = self._status.getStageInfo(stage_id)
                if stage is None:
                    continue  # skipped: its output was reused
                stages.add(stage_id)
                tasks += stage.numCompletedTasks
        return {"jobs": end_job - first_job, "stages": len(stages), "tasks": tasks}


class Tracer:
    def __init__(self, work: SparkWork):
        self.work = work
        self.enabled = False
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time a call; yields the span record (``None`` when disabled)."""
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
        }
        first_job = self.work.job_count()
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            rec.update(self.work.counts(first_job, self.work.job_count()))

    def add(self, name: str, start: float, end: float, **counts) -> None:
        """Record a span measured elsewhere (a checkpoint chunk, timed from
        the benchmark's own callback) as a child of the open span."""
        if not self.enabled:
            return
        parent = self._open[-1] if self._open else None
        self.spans.append({
            "id": len(self.spans), "name": name,
            "op": parent["op"] if parent else None,
            "parent": parent["id"] if parent else None,
            "start": start, "end": end, **counts,
        })

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer (the span name's first dotted part): the summed span
        time not covered by the span's children."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: Path, summary: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"summary": summary, "spans": self.spans}, indent=1))
