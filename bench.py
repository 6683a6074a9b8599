"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE compact JSON line (kept well under the driver's stdout tail
capture — round 1 lost the parsed result to truncation):
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "duckdb_total_sec": N,
     "scale10x": {...}, "sf": <sf>}

Per-query DuckDB timings, job counts, plan construction and the full
10x-scale per-query breakdown go to BENCH_SELF.json next to this file
instead of stdout.

The scale10x block is the number that matters for the 100 TB story: at
sf0.1 most headline queries sit on Spark's ~0.2-0.3s per-job floor, so
same-SF ratios vs an embedded single-node engine measure fixed overhead,
not plan quality. The 10x point (scaleprobe replica, ~6M-row lineitem)
amortizes the floor and shows how both engines' totals actually grow.

Every Spark number comes from ``harness.run_query`` (the protocol sweep,
scaleprobe and plans share): per query, one timed plan construction
(``plan_construction_sec``), the min of 2 executions of the prepared
physical plan (``queries``; a plan that binds caches is rebuilt in each
timed run) and the jobs of the first execution (``job_counts``).

TIMING PROTOCOL: Spark and DuckDB are timed INTERLEAVED, per query — each
query's DuckDB min-of-2 runs right after its run_query, so both engines
sample the same host conditions (this VM's hypervisor steal moves absolute
totals ~40% within a day; whole-engine passes minutes apart let that drift
land on one engine's total only). Two full passes are min-merged per query
per engine: a load spike hits a contiguous block of queries in one pass,
and the second pass samples a different time window.

Skip the 10x block with SPARK_GRAFT_BENCH_SCALE=0 (e.g. quick local loops).
"""

from __future__ import annotations

import json
import os
import time

from feature_store_test_spark.harness import (
    BASE_PROFILE,
    HEADLINE,
    SCALE_PROFILE,
    WARM_SF_DIR,
    execute_prepared,
    harness_session,
    run_query,
    set_profile,
)
from feature_store_test_spark.oracle import duckdb_connection
from feature_store_test_spark.registry import all_queries


def settle(spark) -> None:
    """Collect earlier garbage NOW instead of inside the next timed query
    (q01 absorbed multi-second GC debt from 30 warmup plans)."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2.0)


def measure_pass(spark, specs, data_dir: str) -> tuple[dict, dict]:
    """One interleaved pass: per headline query, run_query then DuckDB's
    min-of-2 over the query's oracle SQL on the same parquet.

    DuckDB runs the raw SQL each time and so re-pays parse+bind per run
    (sub-ms; Spark's analysis is reported separately as construction).
    PREPARE/EXECUTE was tried and reverted: re-EXECUTING q82's oracle on
    this DuckDB build trips an internal error that FATALs the connection.
    """
    con = duckdb_connection(data_dir)
    spark_out: dict[str, dict] = {}
    duck_out: dict[str, float] = {}
    for name in HEADLINE:
        spark_out[name] = run_query(spark, specs[name], data_dir)
        sql = specs[name].oracle
        if sql is not None:
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                runs.append(time.perf_counter() - t0)
            duck_out[name] = min(runs)
    con.close()
    return spark_out, duck_out


def measure(spark, specs, data_dir: str) -> tuple[dict, dict]:
    """Two passes, min-merged per query per engine."""
    s1, d1 = measure_pass(spark, specs, data_dir)
    s2, d2 = measure_pass(spark, specs, data_dir)
    spark_out = {
        n: {
            "construct_s": min(s1[n]["construct_s"], s2[n]["construct_s"]),
            "exec_s": min(s1[n]["exec_s"], s2[n]["exec_s"]),
            "jobs": s1[n]["jobs"],
        }
        for n in s1
    }
    return spark_out, {n: min(d1[n], d2[n]) for n in d1}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = harness_session("fsts-bench")
    set_profile(spark, BASE_PROFILE)
    specs = all_queries()

    # build (or reuse) the 10x replica BEFORE any timing so its write jobs
    # and their garbage never land inside a measured window
    with_scale = os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1") != "0"
    scale_dir = None
    if with_scale:
        from feature_store_test_spark.scaleprobe import ensure_replica

        scale_dir = ensure_replica(spark)

    # warm both execution bodies: the AQE scale profile times the
    # noop-save body, run_query drains the clone() body at the base
    # profile (and releases the caches of both)
    for name in HEADLINE:
        specs[name].fn(spark, WARM_SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        run_query(spark, specs[name], WARM_SF_DIR, runs=1)
    settle(spark)

    spark_x1, duck_x1 = measure(spark, specs, sf_dir)
    timings = {n: round(r["exec_s"], 3) for n, r in spark_x1.items()}
    duck_timings = {n: round(t, 3) for n, t in duck_x1.items()}
    job_counts = {n: r["jobs"] for n, r in spark_x1.items()}
    construct = {n: round(r["construct_s"], 4) for n, r in spark_x1.items()}

    # per-job scheduling floor: a minimal 1-job query, min-of-5, through
    # the same body as the timed runs
    floor_runs = []
    floor_df = spark.range(1)
    for _ in range(5):
        t0 = time.perf_counter()
        execute_prepared(spark, floor_df)
        floor_runs.append(time.perf_counter() - t0)
    per_job_floor_sec = round(min(floor_runs), 4)

    scale10x = None
    scale_detail: dict[str, dict[str, float]] = {}
    if scale_dir:
        settle(spark)
        set_profile(spark, SCALE_PROFILE)
        s_run, d_run = measure_pass(spark, specs, scale_dir)
        set_profile(spark, BASE_PROFILE)
        scale_spark = {n: round(r["exec_s"], 3) for n, r in s_run.items()}
        scale_duck = {n: round(t, 3) for n, t in d_run.items()}
        s_tot = round(sum(scale_spark.values()), 3)
        d_tot = round(sum(scale_duck.values()), 3)
        # the AGGREGATE ratio is carried by a few queries where DuckDB
        # collapses at 10x (r9: q111/q09/q40 were 92% of DuckDB's total);
        # the per-query median describes the typical query, so both are
        # reported
        ratios = sorted(
            scale_spark[q] / scale_duck[q] for q in scale_spark if scale_duck.get(q)
        )
        mid = len(ratios) // 2
        median = (
            (ratios[mid] if len(ratios) % 2 else (ratios[mid - 1] + ratios[mid]) / 2)
            if ratios
            else None
        )
        scale10x = {
            "spark_total_sec": s_tot,
            "duckdb_total_sec": d_tot,
            "ratio_vs_duckdb": round(s_tot / d_tot, 2) if d_tot else None,
            "median_ratio_vs_duckdb": round(median, 2) if median is not None else None,
            "spark_growth_vs_1x": round(s_tot / sum(timings.values()), 2),
            # per-query x10 seconds: the replica under SCALE_PROFILE is
            # where granted cores become real parallelism, so a low-core
            # rerun reads cores-sensitivity per query here
            "queries": scale_spark,
        }
        scale_detail = {"spark": scale_spark, "duckdb": scale_duck}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # value = pure execution; floor = jobs x this box's measured per-job
    # scheduling latency (moves with host steal, and an embedded engine
    # never pays it); floor-net is the box-transferable plan-quality ratio
    spark_total = round(sum(timings.values()), 3)
    duck_total = round(sum(duck_timings.values()), 3)
    floor_total = round(per_job_floor_sec * sum(job_counts.values()), 2)
    result = {
        "metric": "headline_queries_total_wall",
        "value": spark_total,
        "unit": "sec",
        "ratio_vs_duckdb": round(spark_total / duck_total, 2) if duck_total else None,
        "floor_net_ratio_vs_duckdb": (
            round((spark_total - floor_total) / duck_total, 2) if duck_total else None
        ),
        "queries": timings,
        "duckdb_total_sec": duck_total,
        "job_floor": {
            "per_job_sec": per_job_floor_sec,
            "total_jobs": sum(job_counts.values()),
            "implied_floor_sec": floor_total,
        },
        # seconds of eager JVM plan analysis per query before its first
        # job; an engine with prepared statements pays this once per plan
        "plan_construction_sec": round(sum(construct.values()), 2),
        "scale10x": scale10x,
        "sf": sf_val,
    }
    # full per-query breakdowns live in a sidecar file; stdout stays one
    # compact line so the driver's tail capture parses it whole
    detail = dict(result)
    detail["duckdb_queries"] = duck_timings
    detail["scale10x_queries"] = scale_detail
    detail["job_counts"] = job_counts
    detail["per_job_floor_sec"] = per_job_floor_sec
    detail["plan_construction"] = construct
    self_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SELF.json"
    )
    with open(self_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
