"""Interval-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload reads_vs_genes --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates the workload's inputs from
the seed (untimed), starts the Spark session SETUPS times (each start also
imports the package afresh and opens the inputs), then runs one warm-up
round that collects every call's output. ``setup_s`` is the median session
start plus that warm-up round; a warm-up round per start would not fit the
run budget. Whole timed rounds follow for ``--seconds``, each call forced
with a noop-sink write. After Spark stops, the warm-up outputs are checked
against independent computations (checks.py). The last
line on stdout is ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer ones
(README.md maps each to the end-to-end metric it should move). A traced run
also writes its spans to ``.perfbench_traces/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: Session starts per run; setup_s takes their median.
SETUPS = 3
#: Fixed shuffle-partition count (2x the largest task-thread count used).
SHUFFLE_PARTITIONS = 8

#: round_s spreads 25-30% between runs on a shared 4-core host, so it is
#: reported with the per-layer metrics of a traced run, not end to end.
END_TO_END = {"setup_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "peak_rss_mb": "MB"}
PER_LAYER_TOTALS = {
    "round_s": "s",
    "build_s": "s", "build_jobs": "count", "plan_s": "s", "exchanges": "count",
    "exec_s": "s", "jobs": "count", "stages": "count", "stages_skipped": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "core_use": "ratio", "longest_stage_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "shuffle_write_records": "count",
    "shuffle_records_per_output_row": "ratio", "output_rows": "count",
    "spill_mb": "MB", "peak_execution_memory_mb": "MB",
    "cached_after_action": "count", "free_s": "s",
    "sources.read_bed_s": "s", "sources.to_bed_s": "s", "scan_mb": "MB",
    "seqs.tile_cache_hit": "count", "seqs.tile_cache_adopt": "count",
    "plans.interval_join.binned_join_s": "s", "plans.islands.island_agg_s": "s",
    "plans.sweep.prefix_sweep_s": "s", "trace_overhead_s": "s",
}
MB = 1 << 20
#: Workloads whose per-operator spans a traced run always reports (0 when
#: the operator is not in the running workload).
OP_METRIC_WORKLOADS = ("reads_vs_genes", "reads_sweep")


def task_threads() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def driver_heap_mb() -> int:
    """Well under host RAM: a sixth of it, at most 2 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(2048, total // MB // 6))


def start_session(work: str):
    from pyspark.sql import SparkSession

    heap = driver_heap_mb()
    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{task_threads()}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fresh_package():
    """Import the package anew, so every set-up pays its import."""
    for name in [m for m in sys.modules if m == "pyranges_1_x_spark" or m.startswith("pyranges_1_x_spark.")]:
        del sys.modules[name]
    import pyranges_1_x_spark

    return pyranges_1_x_spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Counter:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, op, fn):
        """Run one operator call; a raise counts as a failed call."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — the run must go on and count it
            self.failed += 1
            print(f"perfbench: {op.name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None


def plain_round(spark, pr, ctx, ops, counter: Counter, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)
    for op in ops:
        def call(op=op):
            df = op.call(ctx)
            if df is not None:
                force(df)
            pr.free_query_caches()
            return True

        counter.run(op, call)


class Tracer:
    """Spans kept in memory: name, start, end and the id of the enclosing span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
                "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def close(self, span: dict, **attrs) -> dict:
        span["end"] = time.perf_counter()
        span.update(attrs)
        # Spans left open by a call that raised close with their parent.
        while self._stack and self._stack.pop() != span["id"]:
            pass
        return span


def traced_round(spark, pr, ctx, ops, counter: Counter, tracer: Tracer, rnd: int) -> list[dict]:
    from measure import group_stages

    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    rows = []
    for op in ops:
        group = f"t{rnd}:{op.name}"
        sc.setJobGroup(group, group)
        row = {"op": op.name}
        span = tracer.open("op", op=op.name)

        def call(op=op, row=row):
            held = sc._jsc.getPersistentRDDs().size()
            s = tracer.open("build")
            df = op.call(ctx)
            tracer.close(s)
            row["build_s"] = s["end"] - s["start"]
            row["build_jobs"] = len(tracker.getJobIdsForGroup(group))
            row.update(plan_s=0.0, exec_s=0.0, exchanges=0, output_rows=0)
            if df is None:  # the call was the action; its time is execution
                row["exec_s"], row["build_s"], row["build_jobs"] = row["build_s"], 0.0, 0
            else:
                # Plan and execute the frame's own QueryExecution, so the
                # Catalyst phases run once and sit in their own span.
                qe = df._jdf.queryExecution()
                p = tracer.open("plan")
                qe.executedPlan()
                tracer.close(p)
                s = tracer.open("exec")
                row["output_rows"] = qe.toRdd().count()
                tracer.close(s)
                row["plan_s"] = p["end"] - p["start"]
                row["exec_s"] = s["end"] - s["start"]
                row["exchanges"] = sum(
                    1 for line in qe.executedPlan().toString().splitlines()
                    if "Exchange" in line and "ReusedExchange" not in line
                )
            row["cached_after_action"] = sc._jsc.getPersistentRDDs().size() - held
            s = tracer.open("free")
            pr.free_query_caches()
            tracer.close(s)
            row["free_s"] = s["end"] - s["start"]
            return True

        ok = counter.run(op, call)
        tracer.close(span, ok=bool(ok))
        row.update(group_stages(spark, group))
        rows.append(row)
    return rows


def layer_metrics(rounds: list[list[dict]], slots: int) -> dict:
    """Per-round totals over the traced rounds, reduced to medians."""
    def med(values):
        return statistics.median(values) if values else 0.0

    per_round = []
    for rows in rounds:
        t = {k: sum(r.get(k, 0) for r in rows) for k in (
            "build_s", "build_jobs", "plan_s", "exchanges", "exec_s", "jobs", "stages", "stages_skipped",
            "tasks", "executor_run_ms", "executor_cpu_ns", "shuffle_write_bytes", "shuffle_read_bytes",
            "shuffle_write_records", "output_rows", "spill_bytes", "cached_after_action", "free_s", "input_bytes")}
        t["longest_stage_ms"] = max(r.get("longest_stage_ms", 0) for r in rows)
        t["peak_execution_memory"] = max(r.get("peak_execution_memory", 0) for r in rows)
        by_op = {r["op"]: r for r in rows}
        read_bed, to_bed = by_op.get("read_bed", {}), by_op.get("to_bed", {})
        t["read_bed_s"] = read_bed.get("build_s", 0.0) + read_bed.get("exec_s", 0.0)
        t["to_bed_s"] = to_bed.get("exec_s", 0.0)
        for r in rows:
            t[f"op.{r['op']}.build_s"] = r.get("build_s", 0.0)
            t[f"op.{r['op']}.exec_s"] = r.get("exec_s", 0.0)
        per_round.append(t)

    def m(key):
        return med([t[key] for t in per_round])

    out = {
        "build_s": m("build_s"), "build_jobs": m("build_jobs"), "plan_s": m("plan_s"),
        "exchanges": m("exchanges"), "exec_s": m("exec_s"), "jobs": m("jobs"), "stages": m("stages"),
        "stages_skipped": m("stages_skipped"), "tasks": m("tasks"),
        "executor_run_s": m("executor_run_ms") / 1e3, "executor_cpu_s": m("executor_cpu_ns") / 1e9,
        "core_use": med([t["executor_run_ms"] / 1e3 / (t["exec_s"] * slots) for t in per_round if t["exec_s"]]),
        "longest_stage_s": m("longest_stage_ms") / 1e3,
        "shuffle_write_mb": m("shuffle_write_bytes") / MB, "shuffle_read_mb": m("shuffle_read_bytes") / MB,
        "shuffle_write_records": m("shuffle_write_records"),
        "shuffle_records_per_output_row": med(
            [t["shuffle_write_records"] / t["output_rows"] for t in per_round if t["output_rows"]]
        ),
        "output_rows": m("output_rows"), "spill_mb": m("spill_bytes") / MB,
        "peak_execution_memory_mb": m("peak_execution_memory") / MB,
        "cached_after_action": m("cached_after_action"), "free_s": m("free_s"),
        "sources.read_bed_s": m("read_bed_s"), "sources.to_bed_s": m("to_bed_s"), "scan_mb": m("input_bytes") / MB,
    }
    for key in per_round[0] if per_round else ():
        if key.startswith("op."):
            out[key] = m(key)
    return out


def planners_alone(spark, pr, workload: str, ctx: dict, reps: int = 3) -> dict:
    """Each shared planner called on its own at the workload's input shape."""
    from pyspark.sql import functions as F

    from pyranges_1_x_spark import names as nm
    from pyranges_1_x_spark.plans.interval_join import binned_join, rename_keys
    from pyranges_1_x_spark.plans.islands import island_agg
    from pyranges_1_x_spark.plans.sweep import prefix_sweep

    width = nm.DEFAULT_BIN_SIZE * 16
    plans = {}
    if workload == "reads_vs_genes":
        right, rkeys = rename_keys(
            ctx["genes"].df.select("Chromosome", F.col("Start").alias("__rs__"), F.col("End").alias("__re__")),
            ["Chromosome"],
        )
        plans["plans.interval_join.binned_join_s"] = lambda: binned_join(
            ctx["reads"].df, right, keys=["Chromosome"], right_keys=rkeys, how="inner",
            bin_size=nm.DEFAULT_BIN_SIZE, rstart="__rs__", rend="__re__",
        )
    elif workload == "reads_sweep":
        bed = pr.read_bed(spark, ctx["paths"]["bed"]).df
        plans["plans.islands.island_agg_s"] = lambda: island_agg(bed, ["Chromosome"], bucket_width=width, adaptive=True)

        def sweep():
            pts = bed.select("Chromosome", F.col("Start").alias("p"), F.lit(1).alias("d")).unionByName(
                bed.select("Chromosome", F.col("End").alias("p"), F.lit(-1).alias("d"))
            )
            deltas = pts.groupBy("Chromosome", "p").agg(F.sum("d").alias("d"))
            return prefix_sweep(deltas, ["Chromosome"], "p", ["d"], ["c"], bucket_width=width)

        plans["plans.sweep.prefix_sweep_s"] = sweep
    out = {}
    for key, build in plans.items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            force(build())
            pr.free_query_caches()
            times.append(time.perf_counter() - t0)
        out[key] = statistics.median(times)
    return out


def warmup_round(spark, pr, ctx, ops, counter: Counter) -> tuple[dict, dict]:
    """The warm-up pass: one round that forces each call by collecting its
    output, for the checks to read after Spark stops. Returns the outputs (a
    call that raised has none) and each call's seconds."""
    spark.sparkContext.setJobGroup("warmup", "warmup")
    outputs, seconds = {}, {}
    for op in ops:
        def call(op=op):
            t0 = time.perf_counter()
            df = op.call(ctx)
            outputs[op.name] = None if df is None else df.toPandas()
            pr.free_query_caches()
            seconds[op.name] = time.perf_counter() - t0
            return True

        counter.run(op, call)
    return outputs, seconds


def check_outputs(wl, outputs: dict, exp: dict, counter: Counter) -> bool:
    """Check each warm-up output against the independent computation. A
    wrong output counts its call as failed."""
    import checks

    correct = True
    for op in wl.ops:
        if op.name not in outputs:
            continue
        try:
            op.check(outputs[op.name], exp)
        except checks.CheckError as e:
            correct = False
            counter.failed += 1
            print(f"perfbench: {op.name} output check failed: {e}", file=sys.stderr)
    return correct


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Fail before any work when the package or the workload is missing.
    import pyranges_1_x_spark  # noqa: F401
    import inputs
    import measure
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "inputs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Everything Spark, py4j and the Python workers write stays in the checkout,
    # and the workers find the package from any working directory.
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = None
    try:
        data = inputs.MAKERS[args.workload](args.seed, os.path.join(work, "inputs"))
        counter = Counter()
        rss = measure.PeakRss(os.getpid())
        starts = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(work)
            pr = fresh_package()
            ctx = wl.load(spark, pr, data)
            starts.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        outputs, warmup_ops = warmup_round(spark, pr, ctx, wl.ops, counter)
        warmup = time.perf_counter() - t0
        # Read action outputs (files) back now, before a round overwrites them.
        outputs.update({op.name: op.collect(ctx) for op in wl.ops if op.collect and op.name in outputs})

        pid = os.getpid()
        plain, traced, layer_rows = [], [], []
        tracer = Tracer()
        run_span = tracer.open("run", workload=args.workload, seed=args.seed)
        if args.trace:
            from pyranges_1_x_spark.functions.seqs import tile_cache_stats

            hit0 = tile_cache_stats(spark)["hit"]
        deadline = time.perf_counter() + args.seconds
        rnd = 0
        # Whole rounds only. A traced run alternates plain and traced rounds,
        # starting and ending with a plain one, so the difference of their
        # medians is the tracing overhead net of the warm-up trend.
        while rnd < 1 + 2 * args.trace or time.perf_counter() < deadline or (args.trace and rnd % 2 == 0):
            trace_this = bool(args.trace) and rnd % 2 == 1
            span = tracer.open("round", round=rnd, traced=trace_this)
            cpu0, t0 = measure.tree_cpu_seconds(pid), time.perf_counter()
            if trace_this:
                rows = traced_round(spark, pr, ctx, wl.ops, counter, tracer, rnd)
            else:
                plain_round(spark, pr, ctx, wl.ops, counter, f"r{rnd}")
            wall, cpu = time.perf_counter() - t0, measure.tree_cpu_seconds(pid) - cpu0
            tracer.close(span, wall=wall)
            if trace_this:
                traced.append(wall)
                layer_rows.append(rows)
            else:
                shuffle = measure.group_stages(spark, f"r{rnd}", full=False)["shuffle_write_bytes"]
                plain.append({"wall": wall, "cpu": cpu, "shuffle": shuffle})
            rnd += 1
        tracer.close(run_span, rounds=rnd)

        layers = {}
        if args.trace:
            stats = tile_cache_stats(spark)
            layers = layer_metrics(layer_rows, task_threads())
            layers["seqs.tile_cache_hit"] = (stats["hit"] - hit0) / rnd
            layers["seqs.tile_cache_adopt"] = stats["adopt"]
            layers.update(planners_alone(spark, pr, args.workload, ctx))
            layers["round_s"] = statistics.median(r["wall"] for r in plain)
            layers["trace_overhead_s"] = statistics.median(traced) - layers["round_s"]

        spark.stop()
        spark = None
        peak = rss.close()
        correct = check_outputs(wl, outputs, workloads.expected(args.workload, data), counter)

        if args.trace:
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER_TOTALS.items()}
            names = {op.name for w in (*OP_METRIC_WORKLOADS, args.workload) for op in workloads.WORKLOADS[w].ops}
            for name in sorted(names):
                for part in ("build_s", "exec_s"):
                    key = f"op.{name}.{part}"
                    metrics[key] = {"value": layers.get(key, 0.0), "unit": "s"}
            out_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}.json"), "w") as fh:
                json.dump({"spans": tracer.spans, "ops": layer_rows, "plain_rounds": plain,
                           "traced_round_s": traced, "session_starts_s": starts,
                           "warmup_s": warmup, "warmup_ops_s": warmup_ops,
                           "layers": layers}, fh)
        else:
            metrics = {
                "setup_s": statistics.median(starts) + warmup,
                "cpu_s": statistics.median(r["cpu"] for r in plain),
                "shuffle_mb": statistics.median(r["shuffle"] for r in plain) / MB,
                "peak_rss_mb": peak / MB,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        print(f"perfbench: {args.workload} seed {args.seed}: starts {[round(s, 2) for s in starts]}, "
              f"warm-up {warmup:.2f} {({k: round(v, 1) for k, v in warmup_ops.items()})}, "
              f"rounds {[round(r['wall'], 2) for r in plain]}", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": counter.attempted, "failed": counter.failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
