"""Spans around the benchmark's calls into the engine, and their Spark cost.

Every span sets its own Spark job group, so after the run the status REST
API (served when DMS_SPARK_UI=true) tells which jobs, tasks, shuffle bytes
and output bytes each call caused. Spans are kept in memory and written out
once, when the run ends. With tracing off, `span` only yields.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


def _ts(s: str | None) -> float | None:
    """Spark REST timestamp ("2026-10-17T16:37:48.123GMT") -> epoch seconds."""
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """One call into `layer`. Jobs the call launches land in the span's
        own job group; the parent's group is restored on exit."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent["id"] if parent else None,
               "workload": self.workload, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"pb-{rec['id']}", name)
        cpu0 = time.process_time()
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            rec["driver_cpu_s"] = time.process_time() - cpu0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ---- after the run ----

    def _rest(self, path: str):
        base = self.sc.uiWebUrl
        if not base:
            raise RuntimeError("Spark UI is off; set DMS_SPARK_UI=true")
        with urllib.request.urlopen(
                f"{base}/api/v1/applications/{self.sc.applicationId}/{path}",
                timeout=60) as r:
            return json.load(r)

    def attach_spark_metrics(self) -> float:
        """Sum job/stage metrics into the span that owns each job group.
        Returns the session's GC seconds."""
        jobs = self._rest("jobs")
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._rest("stages")}
        by_stage: dict[int, list[dict]] = {}
        for (sid, _att), s in stages.items():
            by_stage.setdefault(sid, []).append(s)
        by_id = {s["id"]: s for s in self.spans}
        keys = ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
                "input_records", "output_bytes", "gc_s", "task_s")
        for s in self.spans:
            s.update({k: 0 for k in keys})
            s["_job_iv"] = []
        for j in jobs:
            owner = None
            grp = j.get("jobGroup") or ""
            if grp.startswith("pb-"):
                owner = by_id.get(int(grp[3:]))
            # skipped stages of a job reuse an earlier shuffle: no work
            done = [a for sid in j.get("stageIds", [])
                    for a in by_stage.get(sid, [])
                    if a.get("status") == "COMPLETE"]
            add = {
                "jobs": 1,
                "tasks": j.get("numCompletedTasks", 0),
                "shuffle_write_bytes": sum(a.get("shuffleWriteBytes", 0) for a in done),
                "shuffle_read_bytes": sum(a.get("shuffleReadBytes", 0) for a in done),
                "input_records": sum(a.get("inputRecords", 0) for a in done),
                "output_bytes": sum(a.get("outputBytes", 0) for a in done),
                "gc_s": sum(a.get("jvmGcTime", 0) for a in done) / 1000.0,
                "task_s": sum(a.get("executorRunTime", 0) for a in done) / 1000.0,
            }
            if owner is None:
                continue
            for k, v in add.items():
                owner[k] += v
            t0, t1 = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
            if t0 and t1:
                owner["_job_iv"].append((t0, t1))
        # summing stage GC would count a stage shared by several jobs more
        # than once; the executors endpoint has the session total
        gc_s = sum(e.get("totalGCTime", 0)
                   for e in self._rest("executors")) / 1000.0
        self._self_times()
        return gc_s

    def _self_times(self) -> None:
        """self = duration minus what children cover; wait = the part of
        self spent with one of the span's own Spark jobs running."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            child_iv = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
            dur = s["end"] - s["start"]
            s["dur_s"] = dur
            s["self_s"] = dur - _covered(child_iv, s["start"], s["end"])
            own = _covered(s.pop("_job_iv"), s["start"], s["end"])
            s["wait_s"] = min(own, s["self_s"])

    def by_layer(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s["layer"], {
                "spans": 0, "self_s": 0.0, "wait_s": 0.0, "jobs": 0,
                "tasks": 0, "shuffle_write_bytes": 0, "output_bytes": 0,
                "input_records": 0})
            row["spans"] += 1
            for k in ("self_s", "wait_s", "jobs", "tasks",
                      "shuffle_write_bytes", "output_bytes", "input_records"):
                row[k] += s.get(k, 0)
        return out

    def write(self, out_dir: str, header: dict) -> str:
        """Write spans.jsonl and layers.txt under `out_dir`; return the
        per-layer table as text."""
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "spans.jsonl"), "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")
        layers = self.by_layer()
        lines = [f"# per-layer table, workload {self.workload}",
                 *[f"# {k}: {v}" for k, v in header.items()],
                 f"{'layer':<12}{'spans':>6}{'self_s':>9}{'wait_s':>9}"
                 f"{'driver_s':>9}{'jobs':>6}{'tasks':>7}{'shuf_w_B':>12}"
                 f"{'out_B':>12}{'in_rows':>10}"]
        for name, r in sorted(layers.items()):
            lines.append(
                f"{name:<12}{r['spans']:>6}{r['self_s']:>9.3f}"
                f"{r['wait_s']:>9.3f}{r['self_s'] - r['wait_s']:>9.3f}"
                f"{r['jobs']:>6}{r['tasks']:>7}{r['shuffle_write_bytes']:>12}"
                f"{r['output_bytes']:>12}{r['input_records']:>10}")
        text = "\n".join(lines)
        with open(os.path.join(out_dir, "layers.txt"), "w") as f:
            f.write(text + "\n")
        return text
