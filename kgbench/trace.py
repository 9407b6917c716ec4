"""Spans around the calls into each pipeline layer, and per-layer Spark
metrics read once from the REST API at the end.

A span records name, start, end, parent and run id in memory; each layer
span also tags its Spark jobs with ``sc.setJobGroup`` so that the jobs,
stages and tasks the REST API reports can be charged to the layer.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PREFIX = "kgbench"

# per-layer metrics, in the order they print
LAYER_METRICS = (
    ("wall_s", "s"),
    ("busy_s", "s"),
    ("idle_core_s", "s"),
    ("jobs", "count"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
    ("rows_out", "rows"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


class Tracer:
    """Collects spans in memory; ``span`` also sets the Spark job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @staticmethod
    def group(run_id: str, name: str) -> str:
        return f"{GROUP_PREFIX}:{run_id}:{name}"

    @contextmanager
    def span(self, run_id: str, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(self.group(run_id, name), name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            # jobs between layer spans belong to the enclosing span
            outer = self._stack[-1] if self._stack else None
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self.group(run_id, outer) if outer else None
            )
            self.spans.append(Span(name, start, end, parent, run_id))

    def self_times(self, run_id: str) -> dict[str, float]:
        """Span duration minus the time its child spans cover."""
        spans = [s for s in self.spans if s.run_id == run_id]
        out = {}
        for s in spans:
            children = sum(c.end - c.start for c in spans if c.parent == s.name)
            out[s.name] = (s.end - s.start) - children
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def read_rest(sc, settle_s: float = 30.0) -> dict:
    """Jobs and stages of this application, once every job has finished.

    The REST API is fed by the listener bus, which lags the driver; wait
    until it reports as many finished jobs as the status tracker knows."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    tracker = sc.statusTracker()
    deadline = time.monotonic() + settle_s
    while True:
        jobs = _get(base, "/jobs")
        done = [j for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")]
        if len(done) == len(jobs) and not tracker.getActiveJobsIds():
            break
        if time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = _get(base, "/stages")
    return {"base": base, "jobs": jobs, "stages": stages}


def layer_metrics(rest: dict, group: str) -> dict[str, float]:
    """Spark-side metrics of one job group (one layer of one traced run)."""
    jobs = [j for j in rest["jobs"] if j.get("jobGroup") == group]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [
        s for s in rest["stages"] if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
    ]
    busy_ms = sum(s["executorRunTime"] for s in stages)
    out = {
        "busy_s": busy_ms / 1000.0,
        "jobs": float(len(jobs)),
        "shuffle_mb": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages) / 1e6,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 1e6,
        "task_skew": 1.0,
        "failed_tasks": float(sum(s["numFailedTasks"] for s in stages)),
    }
    if stages:
        # skew of the layer's heaviest stage: where a straggler costs most
        heavy = max(stages, key=lambda s: s["executorRunTime"])
        q = _get(
            rest["base"],
            f"/stages/{heavy['stageId']}/{heavy['attemptId']}/taskSummary?quantiles=0.5,1.0",
        )
        p50, mx = q["executorRunTime"]
        out["task_skew"] = mx / max(p50, 1.0)
    return out
