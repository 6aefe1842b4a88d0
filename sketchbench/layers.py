"""Per-layer numbers from one traced iteration's span tree.

An operation span (``op``) carries its layer tag from the workload: build,
grouped, probe, checkpoint or dedup.  ``summarize`` reads its plan/merge
children, its jobs and stages, and the SQL nodes of its executions, and
returns the operation's route and counts; ``layer_metrics`` sums those into
the per-layer metric names of ``metrics.PER_LAYER``.
"""

from __future__ import annotations

from tracer import PYTHON_NODES, Tracer

BUILD_LAYERS = ("build", "grouped")
WRITE_NODES = ("Execute InsertIntoHadoopFsRelationCommand", "WriteFiles")


def _dur(span: dict) -> float:
    return max(0.0, span["end"] - span["start"])


def summarize(tracer: Tracer, span: dict) -> dict:
    sid = span["id"]
    jobs = tracer.children(sid, "job")
    sqls = tracer.children(sid, "sql")
    sql_by_id = {s["attrs"]["execution_id"]: s for s in sqls}
    stages = [st for j in jobs for st in tracer.children(j["id"], "stage")]

    def nodes(sql):
        return sql["attrs"]["nodes"]

    def node_sum(metric: str, names=PYTHON_NODES) -> float:
        return sum(n["metrics"].get(metric, 0.0) for s in sqls for n in nodes(s)
                   if n["name"] in names)

    names = [{n["name"] for n in nodes(s)} for s in sqls]
    if any("Range" in ns and "MapInArrow" in ns for ns in names):
        route = "native"
    elif any(any(x.startswith("Scan parquet") for x in ns)
             and ns & set(PYTHON_NODES) for ns in names):
        route = "jvm"
    else:
        route = "none"

    def has(job, node_names) -> bool:
        sql = sql_by_id.get(job["attrs"]["sql_execution"])
        return sql is not None and any(n["name"] in node_names for n in nodes(sql))

    tree_jobs = [j for j in jobs if has(j, ("FlatMapGroupsInPandas",))]
    write_jobs = [j for j in jobs if has(j, WRITE_NODES)]
    widest = max(stages, key=lambda s: s["attrs"]["tasks"], default=None)
    skew = 0.0
    if widest is not None and widest["attrs"]["task_run_median_s"] > 0:
        skew = widest["attrs"]["task_run_max_s"] / widest["attrs"]["task_run_median_s"]

    def stage_sum(key: str) -> float:
        return sum(st["attrs"][key] for st in stages)

    return {
        "name": span["attrs"]["op"], "layer": span["attrs"]["layer"],
        "wall_s": _dur(span),
        "route": route,
        "merge_route": "tree" if tree_jobs and span["attrs"]["layer"] != "grouped"
                       else "collect",
        "plan_s": sum(_dur(s) for s in tracer.children(sid, "plan")),
        "merge_s": sum(_dur(s) for s in tracer.children(sid, "merge")),
        "jobs": len(jobs), "stages": len(stages),
        "tasks": int(stage_sum("tasks")),
        "partials": int(node_sum("number of output rows", ("MapInArrow",))),
        "tree_jobs": len(tree_jobs),
        "write_s": sum(_dur(j) for j in write_jobs),
        "write_bytes": sum(st["attrs"]["output_bytes"] for j in write_jobs
                           for st in tracer.children(j["id"], "stage")),
        "to_python_bytes": node_sum("data sent to Python workers"),
        "python_run_s": node_sum("time to run Python workers"),
        "python_start_s": node_sum("time to start Python workers"),
        "input_bytes": stage_sum("input_bytes"),
        "result_bytes": stage_sum("result_bytes"),
        "shuffle_read_bytes": stage_sum("shuffle_read_bytes"),
        "shuffle_write_bytes": stage_sum("shuffle_write_bytes"),
        "shuffle_fetch_wait_s": stage_sum("shuffle_fetch_wait_s"),
        "scheduler_delay_s": stage_sum("scheduler_delay_s"),
        "jvm_gc_s": stage_sum("jvm_gc_s"),
        "task_skew": skew,
        "broadcast_bytes": span["attrs"].get("broadcast_bytes", 0),
    }


def layer_metrics(ops: list[dict]) -> dict:
    """Per-layer metrics of one iteration from its operation summaries."""
    MB = 1e6

    def total(key: str, layers=None) -> float:
        return sum(o[key] for o in ops if layers is None or o["layer"] in layers)

    build = [o for o in ops if o["layer"] in BUILD_LAYERS]
    dedup = [o for o in ops if o["layer"] == "dedup"]
    merging = ("build", "checkpoint")
    return {
        "operators.build.plan_s": total("plan_s", BUILD_LAYERS),
        "operators.build.native_ops": sum(o["route"] == "native" for o in build),
        "operators.build.jvm_ops": sum(o["route"] == "jvm" for o in build),
        "operators.build.partials": total("partials", BUILD_LAYERS),
        "operators.build.jvm_scan_mb": total("input_bytes", BUILD_LAYERS) / MB,
        "operators.build.to_python_mb": total("to_python_bytes", BUILD_LAYERS) / MB,
        "operators.build.python_run_s": total("python_run_s", BUILD_LAYERS),
        "operators.build.python_start_s": total("python_start_s", BUILD_LAYERS),
        "operators.merge.driver_s": total("merge_s", merging),
        "operators.merge.result_mb": total("result_bytes", merging) / MB,
        "operators.merge.tree_jobs": total("tree_jobs", merging),
        "operators.probe.broadcast_mb": total("broadcast_bytes", ("probe",)) / MB,
        "operators.probe.to_python_mb": total("to_python_bytes", ("probe",)) / MB,
        "operators.probe.python_run_s": total("python_run_s", ("probe",)),
        "operators.checkpoint.write_s": total("write_s"),
        "operators.checkpoint.mb_written": total("write_bytes") / MB,
        "operators.checkpoint.resume_s": sum(o["wall_s"] for o in ops
                                             if o["layer"] == "checkpoint"),
        "functions.dedup.jobs": total("jobs", ("dedup",)),
        "functions.dedup.stages": total("stages", ("dedup",)),
        "functions.dedup.tasks": total("tasks", ("dedup",)),
        "functions.dedup.shuffle_mb": total("shuffle_write_bytes", ("dedup",)) / MB,
        "functions.dedup.task_skew": max((o["task_skew"] for o in dedup), default=0.0),
        "session.shuffle_write_mb": total("shuffle_write_bytes") / MB,
        "session.shuffle_read_mb": total("shuffle_read_bytes") / MB,
        "session.shuffle_fetch_wait_s": total("shuffle_fetch_wait_s"),
        "session.scheduler_delay_s": total("scheduler_delay_s"),
        "session.jvm_gc_s": total("jvm_gc_s"),
    }
