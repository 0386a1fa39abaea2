"""Spans and Spark counters for the traced benchmark run.

A span is (id, name, start, end, parent, run id) around one call into a
layer.  Every span runs under its own Spark job group, so each job
Spark launches is attributed to the innermost open span.  Spans stay in
memory; counters are read from Spark's status store once, after the
traced passes, and joined to the spans by job group.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, sc, run_id: str, enabled: bool = False):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    def group(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self.sc.setJobGroup(self.group(sid), name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self.group(parent), "")
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "run": self.run_id,
                    **attrs,
                }
            )


def status_store_dump(sc) -> tuple[list[dict], list[dict]]:
    """All jobs and stage attempts Spark's status store still holds, as
    the JSON its REST API would serve (one JVM round trip each)."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        )
    )
    return jobs, stages


STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


def counters_by_group(jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, failed tasks, job wall time
    and the summed stage metrics of :data:`STAGE_FIELDS`."""
    # a reused shuffle stage is listed by every job that skips it; its
    # metrics belong to the first job, the one that ran it
    owner: dict[int, str] = {}
    out: dict[str, dict] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        g = job.get("jobGroup") or None
        for sid in job["stageIds"]:
            owner.setdefault(sid, g)
        if g is None:
            continue
        c = out.setdefault(
            g,
            {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "exec_s": 0.0,
             **{k: 0 for k in STAGE_FIELDS}},
        )
        c["jobs"] += 1
        c["stages"] += job["numCompletedStages"] + job["numFailedStages"]
        c["tasks"] += job["numCompletedTasks"] + job["numFailedTasks"] + job["numKilledTasks"]
        c["failed_tasks"] += job["numFailedTasks"]
        if job.get("completionTime") and job.get("submissionTime"):
            c["exec_s"] += (job["completionTime"] - job["submissionTime"]) / 1e3
    for st in stages:
        g = owner.get(st["stageId"])
        if g is not None and st["status"] in ("COMPLETE", "FAILED"):
            for k, (field, scale) in STAGE_FIELDS.items():
                out[g][k] += st[field] * scale
    return out
