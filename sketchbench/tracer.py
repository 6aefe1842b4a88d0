"""Outside-in tracer: spans recorded around the benchmark's calls into
``bloom_filter_spark``, with each operation's Spark jobs, stages and SQL-node
metrics attached as child spans after the fact.

Each traced operation runs under its own Spark job group.  When the run ends,
``attribute`` reads ``/jobs``, ``/stages``, the per-stage task lists and
``/sql?details=true`` from the driver's REST API on localhost, and hangs the
operation's jobs and stages under its span.  The operation's driver-side self
time is split in two: ``plan`` (call until its first job is submitted) and
``merge`` (its last job completed until the call returned).  Spans stay in
memory until ``write``.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import time
import urllib.request
from contextlib import contextmanager

_REST_LIST_LENGTH = 100_000


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, "run_id": self.run_id,
                           "attrs": attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int, name: str | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] == sid and (name is None or s["name"] == name)]

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f)


# -- REST -------------------------------------------------------------------

class Rest:
    """Minimal client for the Spark status REST API of one application."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)


def rest_time(s: str | None) -> float | None:
    """'2026-10-17T02:30:40.775GMT' → epoch seconds."""
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_UNITS = {"": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def sql_metric_value(raw: str) -> float:
    """A SQL-node metric string → bytes, seconds or a count.  Aggregated
    metrics read 'total (min, med, max ...)\\n<total> (...)'; take <total>."""
    text = raw.split("\n", 1)[1] if "\n" in raw else raw
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparsed SQL metric value {raw!r}")
    unit = m.group(2)
    if unit not in _UNITS:
        raise ValueError(f"unknown SQL metric unit in {raw!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[unit]


PYTHON_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
                "ArrowEvalPython")


def attribute(tracer: Tracer, sc, op_spans: list[dict]) -> None:
    """Attach jobs, stages and SQL metrics to each traced operation span
    (which carries its job group in ``attrs['job_group']``)."""
    rest = Rest(sc)
    groups = {s["attrs"]["job_group"]: s for s in op_spans}
    jobs_by_group: dict[str, list[dict]] = {}
    for job in rest.get("/jobs"):
        if job.get("jobGroup") in groups:
            jobs_by_group.setdefault(job["jobGroup"], []).append(job)
    stages: dict[int, list[dict]] = {}
    for st in rest.get("/stages"):
        if st["status"] == "COMPLETE":
            stages.setdefault(st["stageId"], []).append(st)
    executions = rest.get("/sql?details=true&planDescription=false"
                          f"&length={_REST_LIST_LENGTH}")
    exec_by_job = {}
    for ex in executions:
        for jid in ex.get("successJobIds", []) + ex.get("failedJobIds", []):
            exec_by_job[jid] = ex

    for group, span in groups.items():
        sid = span["id"]
        jobs = sorted(jobs_by_group.get(group, []), key=lambda j: j["jobId"])
        first = min((rest_time(j["submissionTime"]) for j in jobs),
                    default=span["end"])
        last = max((rest_time(j.get("completionTime")) or span["end"]
                    for j in jobs), default=span["end"])
        # REST times have millisecond resolution; clamp into the span
        first = min(max(first, span["start"]), span["end"])
        last = min(max(last, first), span["end"])
        tracer.add("plan", span["start"], first, sid)
        tracer.add("merge", last, span["end"], sid)
        seen_exec, seen_stages = set(), set()
        for job in jobs:
            ex = exec_by_job.get(job["jobId"])
            jattrs = {"job_id": job["jobId"], "status": job["status"],
                      "sql_execution": ex["id"] if ex else None}
            j_start = rest_time(job["submissionTime"])
            j_end = rest_time(job.get("completionTime")) or span["end"]
            jid = tracer.add("job", j_start, j_end, sid, **jattrs)
            # a job also lists the stages an earlier job (maybe another
            # operation's) already ran and it skipped: attach only stages
            # submitted while this job ran, each once
            for stage_id in job["stageIds"]:
                for st in stages.get(stage_id, ()):
                    st_start = rest_time(st.get("submissionTime"))
                    key = (stage_id, st["attemptId"])
                    if key in seen_stages or not (j_start <= st_start <= j_end):
                        continue
                    seen_stages.add(key)
                    tracer.add("stage", st_start, rest_time(st.get("completionTime")),
                               jid, **_stage_attrs(rest, st))
            if ex is not None and ex["id"] not in seen_exec:
                seen_exec.add(ex["id"])
                tracer.add("sql", rest_time(ex.get("submissionTime")),
                           rest_time(ex.get("submissionTime")) + ex.get("duration", 0) / 1e3,
                           sid, **_sql_attrs(ex))


def _stage_attrs(rest: Rest, st: dict) -> dict:
    tasks = rest.get(f"/stages/{st['stageId']}/{st['attemptId']}/taskList"
                     f"?length={_REST_LIST_LENGTH}")
    run_ms = sorted(t["taskMetrics"]["executorRunTime"] for t in tasks
                    if t.get("taskMetrics"))
    return {
        "stage_id": st["stageId"], "attempt": st["attemptId"],
        "tasks": st["numCompleteTasks"],
        "executor_run_s": st["executorRunTime"] / 1e3,
        "executor_cpu_s": st["executorCpuTime"] / 1e9,
        "result_bytes": st["resultSize"],
        "input_bytes": st["inputBytes"],
        "output_bytes": st["outputBytes"],
        "shuffle_read_bytes": st["shuffleReadBytes"],
        "shuffle_write_bytes": st["shuffleWriteBytes"],
        "shuffle_fetch_wait_s": st["shuffleFetchWaitTime"] / 1e3,
        "jvm_gc_s": st["jvmGcTime"] / 1e3,
        "scheduler_delay_s": sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3,
        "task_run_max_s": run_ms[-1] / 1e3 if run_ms else 0.0,
        "task_run_median_s": run_ms[len(run_ms) // 2] / 1e3 if run_ms else 0.0,
    }


def _sql_attrs(ex: dict) -> dict:
    nodes = []
    for n in ex.get("nodes", []):
        metrics = {}
        for m in n.get("metrics", []):
            try:
                metrics[m["name"]] = sql_metric_value(m["value"])
            except ValueError:
                continue  # non-numeric metric; not used
        nodes.append({"name": n["nodeName"].strip(), "metrics": metrics})
    return {"execution_id": ex["id"], "nodes": nodes,
            "edges": [(e["fromId"], e["toId"]) for e in ex.get("edges", [])]}
