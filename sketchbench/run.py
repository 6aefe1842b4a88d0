#!/usr/bin/env python3
"""Seeded, outside-in benchmark of bloom_filter_spark.

    python3 sketchbench/run.py --workload token_build --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One driver process on ``local[N]``
(N = min(4, nproc)) issues each workload's operations in a closed loop with
one client: every call starts after the previous one returned.  Inputs are
generated from ``--seed`` into ``.sketchbench/inputs`` (cached per generator
version, seed and size) and the program receives only their parquet paths.
Only calls into public functions of ``bloom_filter_spark`` are timed; every
output is checked against the generator's exact answers.

``--trace 0`` (the program's default ``spark.ui.enabled=false``) prints the
end-to-end metrics.  ``--trace 1`` enables the UI, runs two untraced and two
traced iterations, attributes each traced call's Spark jobs, stages and SQL
metrics from the REST API, times kernel/serde/merge microcalls, writes the
span tree to ``.sketchbench/traces/`` and prints the per-layer metrics.  The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".sketchbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import procstat  # noqa: E402

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="bench",
                    help="input scale; 'tiny' is the self-test scale")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: perturb one expected answer so checks fail")
    return ap.parse_args(argv)


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(run_dir: str, trace: bool) -> None:
    """Everything Spark, the JVM and the Python workers write stays under
    ``run_dir``; the workers import the package from the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # spark-submit's launcher JVM would otherwise write under /tmp
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    })
    import tempfile
    tempfile.tempdir = tmp
    # spark-warehouse/ and derby.log land in the JVM's working directory
    os.chdir(run_dir)


class Runner:
    """Runs one workload: set-up, warm-up, timed iterations; counts attempts,
    failures and check values; optionally traces every call."""

    def __init__(self, workload, run_dir: str):
        self.w = workload
        self.run_dir = run_dir
        self.pid = os.getpid()
        self.rss = procstat.RssSampler(self.pid)
        self.spark = None
        self.tracer = None
        self.checking = False
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.fprs: list[float] = []
        self.ratios: list[tuple[str, float]] = []
        self.outputs: dict = {}
        self.partials: dict = {}
        self._it: dict | None = None
        self._iteration = 0
        self._fresh: dict[str, str] = {}

    # -- called by workloads ------------------------------------------------
    def op(self, name: str, layer: str, fn, check=None, **attrs):
        """Time one call into the package; check its output when this is a
        timed iteration.  Returns the output, or None if the call raised."""
        cpu0 = procstat.tree_cpu_s(self.pid)
        self.rss.arm()
        span = contextlib.nullcontext()
        if self.tracer is not None:
            group = f"sketchbench-{self._iteration}-{name}"
            self.spark.sparkContext.setJobGroup(group, f"{self.w.name}:{name}")
            span = self.tracer.span("op", op=name, layer=layer, job_group=group,
                                    iteration=self._iteration, **attrs)
        out, err = None, None
        with span:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:  # an operation failure is a result, not a crash
                err = traceback.format_exc()
            wall = time.perf_counter() - t0
        if self.tracer is not None:
            # later untraced calls must not run under this call's job group
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        peak = self.rss.disarm()
        cpu = procstat.tree_cpu_s(self.pid) - cpu0
        if self._it is not None:
            self._it["wall"] += wall
            self._it["cpu"] += cpu
            self._it["peak"] = max(self._it["peak"], peak)
            self._it["ops"][name] = wall
        self.outputs[name] = out
        if not self.checking:
            return out
        self.attempted += 1
        try:
            if err is not None:
                raise RuntimeError(f"call raised:\n{err}")
            if check is not None:
                check(self, out)
        except Exception as e:  # CheckFailed, or a check tripping on bad output
            self.failed += 1
            self.failures.append(f"{name}: {e}")
        return out

    def record_fpr(self, fpr: float) -> None:
        self.fprs.append(fpr)

    def bound(self, label: str, observed: float, bound: float) -> None:
        from workloads import BOUND_TOLERANCE, expect
        self.ratios.append((label, observed / bound))
        expect(observed <= BOUND_TOLERANCE * bound,
               f"{label}: error {observed:.4g} > {BOUND_TOLERANCE} x bound {bound:.4g}")

    def fresh_dir(self, name: str) -> str:
        """A new empty directory under the run directory; the previous one
        handed out under ``name`` is deleted."""
        old = self._fresh.get(name)
        if old:
            shutil.rmtree(old, ignore_errors=True)
        path = os.path.join(self.run_dir, f"{name}-{time.monotonic_ns()}")
        os.makedirs(path)
        self._fresh[name] = path
        return path

    # -- phases ----------------------------------------------------------------
    def iterate(self, checking: bool) -> dict:
        self.checking = checking
        self._iteration += 1
        self._it = {"wall": 0.0, "cpu": 0.0, "peak": 0.0, "ops": {}}
        try:
            self.w.iteration(self)
        finally:
            it, self._it = self._it, None
            self.checking = False
        return it

    def set_up(self) -> float:
        """Session, first count, prerequisite state and Python worker
        warm-up; returns its seconds."""
        from bloom_filter_spark.operators import build_sketch
        from bloom_filter_spark.session import get_spark
        from bloom_filter_spark.sketches import HLLParams, HLLSketch
        t0 = time.perf_counter()
        self.spark = get_spark(f"sketchbench-{self.w.name}")
        self.w.setup(self.spark)
        # one task per core: starts every Python worker and imports the
        # package in it
        build_sketch(self.spark.range(0, 4096, 1, CORES),
                     HLLSketch(HLLParams(b=10)), "id", "i64")
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait until every child process ended."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.rss.close()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            rest = [p for p in procstat.tree_pids(self.pid) if p != self.pid]
            if not rest:
                return
            time.sleep(0.1)
        for p in rest:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        while [p for p in procstat.tree_pids(self.pid) if p != self.pid]:
            time.sleep(0.1)
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass


def untraced(runner: Runner, seconds: float, pre_setup_s: float) -> tuple[dict, list[str]]:
    # one cold set-up: interpreter start and imports (pre_setup_s), then
    # the JVM, session, first count, prerequisite state and Python workers
    setup = pre_setup_s + runner.set_up()
    warm = [runner.iterate(checking=False)["wall"] for _ in range(runner.w.warmups)]
    its = []
    t0 = time.perf_counter()
    # one timed iteration even past --seconds; then whole iterations only,
    # stopping once the next would end past the window
    while (not its
           or (time.perf_counter() - t0) * (len(its) + 1) / len(its) <= seconds):
        its.append(runner.iterate(checking=True))
    walls = [it["wall"] for it in its]
    wall = statistics.median(walls)
    values = {
        "setup_s": setup,
        "wall_s": wall,
        "items_per_s": runner.w.items() / wall,
        "cpu_s": statistics.median(it["cpu"] for it in its),
        "peak_rss_mb": statistics.median(it["peak"] for it in its),
    }
    lines = [
        f"set-up {setup:.3f} s (of which interpreter start and imports "
        f"{pre_setup_s:.3f} s); untimed warm-up iterations "
        f"{' '.join(f'{w:.3f}' for w in warm)} s",
        f"iteration wall: median {wall:.4f} s, min {min(walls):.4f}, "
        f"max {max(walls):.4f}, n={len(walls)}; {tail_line(walls)}",
        "in order: wall " + " ".join(f"{w:.3f}" for w in walls)
        + " s; cpu " + " ".join(f"{it['cpu']:.2f}" for it in its)
        + " s; peak rss " + " ".join(f"{it['peak']:.0f}" for it in its) + " MB",
    ]
    for name in its[0]["ops"]:
        lines.append(f"  op {name}: median "
                     f"{statistics.median(it['ops'][name] for it in its):.4f} s; "
                     + " ".join(f"{it['ops'][name]:.3f}" for it in its))
    return values, lines


def tail_line(samples: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return f"no tail percentile (needs >= 11 samples, have {n})"
    pct = 100.0 * (n - 10) / n
    s = sorted(samples)
    return f"p{pct:.0f} {s[n - 11]:.4f} s"


def traced(runner: Runner) -> tuple[dict, list[str]]:
    import layers
    from tracer import Tracer, attribute
    runner.set_up()
    for _ in range(runner.w.warmups):
        runner.iterate(checking=False)
    tracer = Tracer(run_id=f"{runner.w.name}-seed{runner.w.seed}-{os.getpid()}")
    untraced_walls, traced_walls, iter_spans = [], [], []
    # untraced, traced, traced, untraced: a JVM still warming up speeds
    # every iteration a little, and this order cancels that trend out of
    # the overhead estimate
    for traced_it in (False, True, True, False):
        if not traced_it:
            untraced_walls.append(runner.iterate(checking=True)["wall"])
            continue
        runner.tracer = tracer
        with tracer.span("iteration", workload=runner.w.name) as sp:
            traced_walls.append(runner.iterate(checking=True)["wall"])
        runner.tracer = None
        iter_spans.append(sp)
    op_spans = [s for s in tracer.spans if s["name"] == "op"]
    attribute(tracer, runner.spark.sparkContext, op_spans)

    per_iter, summaries = [], []
    for sp in iter_spans:
        ops = [layers.summarize(tracer, s) for s in op_spans
               if s["parent"] == sp["id"]]
        summaries.append(ops)
        per_iter.append(layers.layer_metrics(ops))
    runner.partials = {o["name"]: o["partials"] for o in summaries[-1]}
    values = {}
    mismatches = []
    for name in per_iter[0]:
        vals = [m[name] for m in per_iter]
        if name in metrics.COUNT_METRICS:
            if len(set(vals)) > 1:
                mismatches.append(f"{name}: {vals}")
            values[name] = vals[-1]
        else:
            values[name] = statistics.median(vals)
    for a, b in zip(summaries[0], summaries[-1]):
        for key in ("route", "merge_route", "jobs", "stages", "tasks", "partials"):
            if a[key] != b[key]:
                mismatches.append(f"op {a['name']} {key}: {a[key]} vs {b[key]}")
    values["trace.overhead_s"] = (statistics.median(traced_walls)
                                  - statistics.median(untraced_walls))
    values["trace.count_mismatches"] = len(mismatches)
    values.update(runner.w.micro(runner, runner.outputs))

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    out = os.path.join(WORK, "traces",
                       f"{runner.w.name}-seed{runner.w.seed}.json")
    tracer.write(out, operations=summaries, count_mismatches=mismatches,
                 metrics=values)
    build = [o for o in summaries[-1] if o["layer"] in layers.BUILD_LAYERS]
    build_wall = sum(o["wall_s"] for o in build)
    lines = [f"trace: {len(tracer.spans)} spans written to {os.path.relpath(out, ROOT)}",
             f"iteration wall untraced {' '.join(f'{w:.4f}' for w in untraced_walls)} s,"
             f" traced {' '.join(f'{w:.4f}' for w in traced_walls)} s"
             " (overhead excludes the Spark UI: both sides run with it on)"]
    if build_wall > 0:
        run_s = sum(o["python_run_s"] for o in build)
        lines.append(f"build ops: Python workers ran {run_s:.3f} s of "
                     f"{CORES} x {build_wall:.3f} s wall "
                     f"({run_s / (CORES * build_wall):.0%} of the cores' time)")
    for o in summaries[-1]:
        lines.append(
            f"  op {o['name']} [{o['layer']}]: route={o['route']} "
            f"merge={o['merge_route']} jobs={o['jobs']} stages={o['stages']} "
            f"tasks={o['tasks']} partials={o['partials']} "
            f"plan={o['plan_s']:.3f}s merge={o['merge_s']:.3f}s wall={o['wall_s']:.3f}s")
    lines += [f"COUNT MISMATCH {m}" for m in mismatches]
    return values, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the package under test must come from this checkout
    import bloom_filter_spark  # noqa: F401
    import workloads

    pre_setup_s = process_age_s()
    t0 = time.perf_counter()
    inputs = gen.ensure_inputs(os.path.join(WORK, "inputs"), args.workload,
                               args.seed, args.size)
    w = workloads.load(args.workload, inputs, args.seed, args.corrupt_expected)
    w.prepare()
    gen_s = time.perf_counter() - t0

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir, bool(args.trace))
    runner = Runner(w, run_dir)
    try:
        if args.trace:
            values, lines = traced(runner)
        else:
            values, lines = untraced(runner, args.seconds, pre_setup_s)
    finally:
        runner.shutdown()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = max(runner.attempted, 1)
    checks = {
        "failed_op_share": runner.failed / attempted,
        "bloom_fpr": max(runner.fprs, default=0.0),
        "err_bound_ratio": max((r for _, r in runner.ratios), default=0.0),
    }
    table = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    if args.trace:
        values.update(checks)
        for name in table:  # layers this workload does not exercise do no work
            values.setdefault(name, 0.0)

    print(f"# workload {w.name}  seed {args.seed}  size {args.size}  "
          f"local[{CORES}]  closed loop, 1 client  trace {args.trace}")
    print(f"# inputs {os.path.relpath(inputs, ROOT)}: {w.items()} items per "
          f"iteration; generation and expected answers {gen_s:.2f} s (not in setup_s)")
    for line in lines:
        print(f"# {line}")
    worst = max(runner.ratios, key=lambda r: r[1], default=("none", 0.0))
    for name, (unit, _) in metrics.CHECKS.items():
        print(f"# check {name} = {checks[name]:.6g} {unit}")
    print(f"# worst bound check: {worst[0]} at {worst[1]:.3f} of its bound")
    for f in runner.failures:
        print("\n".join(f"# FAILED {line}" for line in f.splitlines()))
    for name, spec in table.items():
        print(f"# metric {name} = {values[name]:.6g} {spec[0]}")
    print(json.dumps({
        "correct": runner.failed == 0 and runner.attempted > 0,
        "attempted": attempted,
        "failed": runner.failed,
        "metrics": {name: {"value": values[name], "unit": spec[0]}
                    for name, spec in table.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
