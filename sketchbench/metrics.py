"""The benchmark's metric table: one place that names every metric, its unit,
which direction is better and, for a per-layer metric, which end-to-end
metric it should move and on which workloads (first where its layer does
most of the work, then where it should stay flat).

``BENCHMARK.json`` lists the same names; ``selftest.py`` checks that the two
agree and that every run prints every name with its unit.
"""

from __future__ import annotations

WORKLOADS = ("token_build", "doc_key_state", "doc_dedup")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# Reported by every run on its human-readable lines and gating ``correct``,
# and by the traced run as metrics; not bounded end-to-end metrics, because
# they are undefined on some workloads (no Bloom or error bound in
# doc_dedup), zero on the seed (failed_op_share), or a maximum of sampling
# errors whose spread across seeds no fixed bound can hold.
CHECKS = {
    "failed_op_share": ("share", "lower"),
    "bloom_fpr": ("share", "lower"),
    "err_bound_ratio": ("ratio", "lower"),
}

_BUILD = ("token_build", "doc_dedup")
_CORE = ("token_build", "doc_dedup")
_UPDATE = ("token_build", "doc_dedup")
_CONTAINS = ("token_build", "doc_dedup")
_SERDE = ("doc_key_state", "doc_dedup")
_MERGE = ("doc_key_state", "token_build")
_PROBE = ("doc_key_state", "token_build")
_CKPT = ("doc_key_state", "token_build,doc_dedup")
_DEDUP = ("doc_dedup", "token_build")
_SESSION = ("doc_dedup,token_build", "doc_key_state")
_ALL = ("all", "none")

# name -> (unit, better, moves, (most, flat))
PER_LAYER = {
    "operators.build.plan_s": ("s", "lower", "wall_s", _BUILD),
    "operators.build.native_ops": ("count", "higher", "cpu_s", _BUILD),
    "operators.build.jvm_ops": ("count", "lower", "cpu_s", _BUILD),
    "operators.build.partials": ("count", "lower", "wall_s", _BUILD),
    "operators.build.jvm_scan_mb": ("MB", "lower", "cpu_s", _BUILD),
    "operators.build.to_python_mb": ("MB", "lower", "cpu_s", _BUILD),
    "operators.build.python_run_s": ("s", "lower", "cpu_s", _BUILD),
    "operators.build.python_start_s": ("s", "lower", "wall_s", _BUILD),
    "core.distinct_ratio": ("ratio", "lower", "cpu_s", _CORE),
    "core.hash_i32_ns_per_item": ("ns", "lower", "cpu_s", _CORE),
    "core.hash_str_ns_per_item": ("ns", "lower", "cpu_s",
                                  ("doc_key_state", "token_build")),
}
for _kind in ("bloom", "hll", "cms", "kll", "tdigest", "bloom_str", "cbloom_str"):
    _where = ("doc_key_state", "token_build") if _kind.endswith("_str") else _UPDATE
    PER_LAYER[f"sketches.{_kind}.update_ns_per_item"] = ("ns", "lower", "cpu_s", _where)
PER_LAYER["sketches.bloom.contains_ns_per_item"] = ("ns", "lower", "cpu_s", _CONTAINS)
PER_LAYER["sketches.bloom_str.contains_ns_per_item"] = (
    "ns", "lower", "cpu_s", ("doc_key_state", "token_build"))
for _kind in ("bloom", "hll", "cms", "kll", "tdigest", "cbloom"):
    PER_LAYER[f"sketches.{_kind}.serialize_ms"] = ("ms", "lower", "wall_s", _SERDE)
    PER_LAYER[f"sketches.{_kind}.deserialize_ms"] = ("ms", "lower", "wall_s", _SERDE)
    PER_LAYER[f"sketches.{_kind}.state_bytes"] = ("B", "lower", "peak_rss_mb", _SERDE)
PER_LAYER.update({
    "operators.merge.driver_s": ("s", "lower", "wall_s", _MERGE),
    "operators.merge.fold_ms": ("ms", "lower", "wall_s", _MERGE),
    "operators.merge.result_mb": ("MB", "lower", "peak_rss_mb", _MERGE),
    "operators.merge.tree_jobs": ("count", "lower", "wall_s", _MERGE),
    "operators.probe.broadcast_mb": ("MB", "lower", "items_per_s", _PROBE),
    "operators.probe.to_python_mb": ("MB", "lower", "cpu_s", _PROBE),
    "operators.probe.python_run_s": ("s", "lower", "items_per_s", _PROBE),
    "operators.checkpoint.write_s": ("s", "lower", "wall_s", _CKPT),
    "operators.checkpoint.mb_written": ("MB", "lower", "wall_s", _CKPT),
    "operators.checkpoint.resume_s": ("s", "lower", "wall_s", _CKPT),
    "functions.dedup.jobs": ("count", "lower", "wall_s", _DEDUP),
    "functions.dedup.stages": ("count", "lower", "wall_s", _DEDUP),
    "functions.dedup.tasks": ("count", "lower", "wall_s", _DEDUP),
    "functions.dedup.shuffle_mb": ("MB", "lower", "wall_s", _DEDUP),
    "functions.dedup.task_skew": ("ratio", "lower", "wall_s", _DEDUP),
    "session.shuffle_write_mb": ("MB", "lower", "wall_s", _SESSION),
    "session.shuffle_read_mb": ("MB", "lower", "wall_s", _SESSION),
    "session.shuffle_fetch_wait_s": ("s", "lower", "wall_s", _SESSION),
    "session.scheduler_delay_s": ("s", "lower", "wall_s", _SESSION),
    "session.jvm_gc_s": ("s", "lower", "wall_s", _SESSION),
    # the tracer itself: traced minus untraced iteration wall, and how many
    # count metrics differed between the traced iterations (must be 0).  Both
    # sides of the overhead run in the traced run's session, which has the
    # Spark UI on, so the UI's own listener and REST cost is not in it.
    "trace.overhead_s": ("s", "lower", "wall_s", _ALL),
    "trace.count_mismatches": ("count", "lower", "wall_s", _ALL),
})
for _name, (_unit, _better) in CHECKS.items():
    PER_LAYER[_name] = (_unit, _better, _name, _ALL)

# per-layer metrics that count work: they must repeat exactly across runs
# of the same code and seed
COUNT_METRICS = tuple(n for n, v in PER_LAYER.items()
                      if v[0] in ("count", "B") and not n.startswith("trace."))
