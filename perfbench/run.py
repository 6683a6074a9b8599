"""Feature-store benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload batch_backfill --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. The engine package is imported from
that checkout; inputs, the session's local dirs and results go under
``.perfbench_work/`` there. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the outside-in tracer
is installed and the metrics are the per-layer ones (spans are written to
``.perfbench_work/results/``). The run record (host, versions, set-up
parts, sample counts, load and steal before/after) is written next to them.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "4g"

# (name, unit) in BENCHMARK.json order. Commit, freshness and point-read
# cost is process-tree CPU time: on a shared host, steal and co-tenants
# spread their wall times across runs by more than any bound the benchmark
# may set, while CPU time stays within about a tenth. Commits and point
# reads are averaged over the run: their CPU falls from call to call as the
# JVM warms, the same way in every run, and a median of a few such samples
# lands at a different point of that slope from run to run.
END_TO_END = [
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("commit_cpu_mean_s", "s"),
    ("freshness_cpu_p50_s", "s"),
    ("point_read_cpu_mean_s", "s"),
]
# wall-clock figures, unbounded: in every run record, and among the
# per-layer metrics of a traced run. The ~60 us serving reads are here too:
# their median moves by up to a third from one process to the next.
WALL = [
    ("wall.cycle_p50_s", "s"),
    ("wall.commit_p50_s", "s"),
    ("wall.freshness_p50_s", "s"),
    ("wall.events_per_s", "1/s"),
    ("wall.point_read_p50_s", "s"),
    ("wall.serve_read_p50_ms", "ms"),
    ("wall.serve_read_p99_ms", "ms"),
]


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def end_to_end(rec, setup_s: float, cpu_s: float) -> dict[str, float]:
    s = rec.samples
    return {
        "setup_s": setup_s,
        "cpu_s": cpu_s,
        "commit_cpu_mean_s": statistics.fmean(s["commit_cpu_s"]),
        "freshness_cpu_p50_s": statistics.median(s["freshness_cpu_s"]),
        "point_read_cpu_mean_s": statistics.fmean(s["point_read_cpu_s"]),
    }


def wall(rec) -> dict[str, float]:
    s = rec.samples
    return {
        "wall.cycle_p50_s": statistics.median(s["cycle_s"]),
        "wall.commit_p50_s": statistics.median(s["commit_s"]),
        "wall.freshness_p50_s": statistics.median(s["freshness_s"]),
        "wall.events_per_s": rec.events / sum(s["write_s"]),
        "wall.point_read_p50_s": statistics.median(s["point_read_s"]),
        "wall.serve_read_p50_ms": statistics.median(s["serve_read_s"]) * 1e3,
        "wall.serve_read_p99_ms": _pct(s["serve_read_s"], 0.99) * 1e3,
    }


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        from feature_store_test_spark import session
    except ImportError as e:
        print(f"perfbench: engine package not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import host, tracer as tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (run_dir, tmp, os.path.join(WORK, "results")):
        os.makedirs(d, exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no JVM perf-data file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(run_dir)

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)
    host_before = host.sample()
    rec = workloads.Recorder()
    spark = session.get_spark()
    marks: dict[str, float] = {"session": time.perf_counter()}
    correct = True

    class Window:
        """The measured window: wall and process-tree CPU at start/stop."""

        def start(self):
            # collect set-up's garbage, flush the writes of set-up and of
            # earlier runs and let the JVM go quiet, so their tail is not timed
            spark._jvm.System.gc()
            os.sync()
            workloads.settle(limit_s=3.0)
            marks["timed"] = time.perf_counter()
            marks["cpu0"] = host.tree_cpu_s()
            if tracer is not None:
                tracer.phase = "timed"

        def stop(self):
            marks["window_s"] = time.perf_counter() - marks["timed"]
            marks["cpu_s"] = host.tree_cpu_s() - marks["cpu0"]
            if tracer is not None:
                tracer.phase = "check"

    try:
        workloads.warm_up(spark, WORK, run_dir, args.workload)
        marks["warm"] = time.perf_counter()
        workloads.WORKLOADS[args.workload](
            spark, WORK, run_dir, args.seed, args.seconds, rec, Window()
        )
    except Exception as e:  # noqa: BLE001 — report the failed run, then exit
        import traceback

        traceback.print_exc()
        rec.op(False, f"exception: {e!r}"[:300])
        correct = False
    cpu_s = marks.get("cpu_s", 0.0)
    if tracer is not None:
        tracer.phase = "end"
        tracer.resolve()
    host_after = host.sample()
    correct = correct and rec.failed == 0 and "cpu_s" in marks

    walls = wall(rec) if correct else {}
    if correct and tracer is None:
        metrics = end_to_end(rec, marks["timed"] - t_start, cpu_s)
        units = dict(END_TO_END)
    elif correct:
        metrics = {**tracing.layer_metrics(tracer, marks["window_s"]), **walls}
        units = dict(tracing.PER_LAYER + WALL)
    else:
        metrics, units = {}, {}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cycles": workloads.CYCLES[args.workload],
        "trace": args.trace, "nproc": os.cpu_count(), "cpus_granted": ncpu,
        "python": platform.python_version(), "pyspark": spark.version,
        "java": host.java_version(), "driver_memory": DRIVER_MEMORY,
        "host_before": host_before, "host_after": host_after,
        "steal_share": host.steal_share(host_before, host_after),
        "setup_parts_s": {
            "session": marks["session"] - t_start,
            "warm_up": marks["warm"] - marks["session"] if "warm" in marks else None,
            "prep": marks["timed"] - marks["warm"] if "timed" in marks else None,
        },
        "window_s": marks.get("window_s"), "cpu_s": cpu_s,
        "sample_counts": {k: len(v) for k, v in rec.samples.items()},
        "wall": walls, "samples": rec.samples, "metrics": metrics,
        "attempted": rec.attempted, "failed": rec.failed, "failures": rec.failures,
    }
    if tracer is not None:
        spans_path = os.path.join(WORK, "results", f"{tag}.spans.jsonl")
        tracer.write(spans_path)
        record["spans"] = spans_path
        record["trace_overhead_s_by_phase"] = tracer.overhead
        untraced = os.path.join(WORK, "results", tag.replace("trace1", "trace0") + ".json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            mine = end_to_end(rec, marks["timed"] - t_start, cpu_s) if correct else {}
            mine.update(walls)
            theirs = {**base.get("metrics", {}), **base.get("wall", {})}
            record["overhead_vs_untraced"] = {
                k: mine[k] / v - 1.0 for k, v in theirs.items() if k in mine and v
            }
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    _stop_session(spark)

    summary = {k: record[k] for k in ("workload", "seed", "cycles", "steal_share",
                                      "setup_parts_s", "window_s", "sample_counts",
                                      "wall", "failures")}
    summary["loadavg"] = [host_before["loadavg"][0], host_after["loadavg"][0]]
    for k in ("train_s", "retry_dlq_s"):
        if k in rec.samples:
            summary[k] = rec.samples[k]
    if "overhead_vs_untraced" in record:
        summary["overhead_vs_untraced"] = record["overhead_vs_untraced"]
    print("perfbench run record: " + json.dumps(summary))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, rec.attempted),
        "failed": rec.failed if rec.attempted else 1,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
