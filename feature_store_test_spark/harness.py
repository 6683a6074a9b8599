"""One query-measurement harness: the session, the two data-sized
profiles and the timing function that every query-side number comes from.

``bench.py`` (headline queries vs DuckDB), ``sweep`` (the full registry at
x1 and x10), ``scaleprobe`` (the probed subset on a deeper replica) and
``plans`` (PLANS.md) all build their session with ``harness_session``, set
``BASE_PROFILE``/``SCALE_PROFILE`` with ``set_profile`` and measure with
``run_query``, so their numbers share one protocol and one session shape.
"""

from __future__ import annotations

import time

import pyspark
from pyspark.sql import DataFrame, SparkSession

from feature_store_test_spark.registry import (
    QuerySpec,
    live_cache_count,
    persistent_rdd_ids,
    release_caches,
    release_new_rdds,
)
from feature_store_test_spark.session import default_parallelism, get_spark

HEADLINE = [
    "q01_pricing_summary",       # scan + 6-group agg over lineitem
    "q05_local_supplier_volume", # 6-table join
    "q08_latest_event_per_user", # ranking window (online-view primitive)
    "q09_running_total",         # frame window over orders
    "q15_asof_join",             # merge-scan as-of join
    "q16_engineer_features",     # feature-engineering agg
    "q18_incremental_avg",       # window + weighted fold
    "q21_minhash_near_dups",     # MinHash+LSH dedup pipeline
    "q26_token_counts",          # regexp text analysis
    "q28_cosine_topk",           # brute-force ANN
    "q34_tumbling_windows",      # event-time windowed agg
    "q40_sessionize",            # gap sessionization
    "q41_salted_agg",            # skew-bounded two-stage agg
    "q42_sql_shipping_priority", # pure-SQL 3-table join + topk
    "q76_large_orders",          # IN-over-HAVING semi join (TPC-H Q18 shape)
    "q78_lonely_late_supplier",  # EXISTS + NOT EXISTS self-joins (TPC-H Q21 shape)
    "q81_sequence_packing",      # running-sum context packing
    "q82_activity_window_join",  # binned interval join
    "q87_token_budget_sample",   # hash-ordered token-budget sampling
    "q88_media_features",        # stub media encoder (Arrow binary->array path)
    "q89_funnel_stages",         # sequence-pattern funnel analytics
    "q97_price_histogram",       # single partial-agg equi-width histogram
    "q100_event_transitions",    # per-user lag window -> transition matrix
    "q101_distinctive_terms",    # explode + tf/df broadcast join + window
    "q102_decontamination",      # 8-gram overlap vs broadcast eval set
    "q105_referential_audit",    # 4-way broadcast anti-join sweep
    "q106_spend_rank_profile",   # rank-family windows over join+agg
    "q109_group_topk_share",     # per-group top-k + share (one shuffle)
    "q110_incremental_dedup",    # batch-vs-corpus fingerprint anti join
    "q111_minhash_estimate_quality",  # sketch audit: est vs exact Jaccard
]

# (shuffle_partitions, maxPartitionBytes, aqe, openCostInBytes, prefer_smj).
# Partition counts and runtime re-planning are sized to the DATA. At sf0.1
# a post-shuffle stage holds ~KBs per partition, so fewer, fatter tasks
# shed per-task floor: 4 partitions (min(granted cores, 4), so a low-core
# host runs narrower plans) and 2m open-cost were each worth ~0.3s over
# the headline set (round 5; 8 partitions re-measured in round 9: fact-
# join wins cancel window/text losses). AQE is OFF at this profile: it
# submits one scheduler job per query stage, which tripled the job count
# for runtime stats that are trivially tiny (~1s over the set). Shuffle-
# hash is preferred: every equi-join side fits its partition in memory,
# so SMJ's two sorts are pure cost. The 10x replica runs SCALE_PROFILE:
# 32 partitions, 4 MB splits, AQE on (runtime coalescing and skew handling
# are the point there) and the SMJ default, since a 100 TB fact-fact join
# cannot promise that a shuffle-hash build fits executor memory.
BASE_PROFILE = (
    min(default_parallelism(), 4), 32 * 1024 * 1024, False, 2 * 1024 * 1024, False
)
SCALE_PROFILE = (32, 4 * 1024 * 1024, True, 512 * 1024, True)

# Exact-version allowlist for the clone() pure-execution body: clone()'s
# rebuild-shuffles-from-scratch behavior is REST-validated on these builds
# only; any other build falls back to the noop-save body.
CLONE_VALIDATED_VERSIONS = ("4.1.2",)

# The smallest fixture: callers warm each query's JVM/codegen path here
# (one run_query) before timing, since cold first runs measured 3-8x
# slower than warm ones on identical plans.
WARM_SF_DIR = "/root/testdata/sf0.001"

# The local properties SparkContext.setJobGroup sets.
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)

# Single-node measurement protocol (round 5, each A/B-measured ~-0.3 to
# -0.9s over the headline set on a quiet box). Every session that
# produces a query-side number or plan applies all of them, so PLANS.md
# shows the plans the numbers measure.
_HARNESS_CONF = {
    # file splits; set_profile overrides both per profile
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.files.openCostInBytes": "512k",
    # compression trades CPU for network, and local mode has no network;
    # a real cluster keeps the defaults on
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.broadcast.compress": "false",
    "spark.rdd.compress": "false",
    # everything is PROCESS_LOCAL in one JVM; never wait for locality tiers
    "spark.locality.wait": "0ms",
    # throughput GC: G1's concurrent machinery costs more than it saves on
    # 2-second queries (~0.9s across the set); cluster executors keep G1
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    # plan-construction floor: constraint propagation is O(n^2) in
    # expression count and only derives isNotNull inferences these NOT
    # NULL fixtures never need; DPP looks for partition-pruning subqueries
    # but no fixture table is partitioned. Both stay on in get_spark().
    "spark.sql.constraintPropagation.enabled": "false",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "false",
}


def harness_session(app_name: str) -> SparkSession:
    """The engine session plus the single-node measurement confs."""
    return get_spark(app_name=app_name, extra_conf=_HARNESS_CONF)


def set_profile(spark: SparkSession, profile) -> None:
    sh, split_bytes, aqe, open_cost, prefer_smj = profile
    spark.conf.set("spark.sql.shuffle.partitions", str(sh))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
    spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
    spark.conf.set("spark.sql.files.openCostInBytes", str(open_cost))
    spark.conf.set(
        "spark.sql.join.preferSortMergeJoin", str(prefer_smj).lower()
    )


def profile_desc(profile) -> str:
    """Human-readable profile summary for generated artifacts (PLANS.md
    header, SCALE_SWEEP protocol string), derived from the tuple so the
    prose cannot drift from the values."""
    sh, split_bytes, aqe, _open_cost, prefer_smj = profile
    return (
        f"{sh} shuffle partitions / {split_bytes // (1024 * 1024)}MB splits"
        f" / AQE {'on' if aqe else 'off'}"
        f" / {'SMJ default' if prefer_smj else 'SHJ preferred'}"
    )


def execute_prepared(spark: SparkSession, df: DataFrame) -> None:
    """Run ``df``'s prepared physical plan to exhaustion.

    PURE-EXECUTION body: clone the memoized physical plan and drain it
    with count(). Each clone() is a fresh tree whose lazy shuffle
    dependencies and broadcast futures rebuild from scratch, validated
    via the UI REST API: consecutive runs each re-read the parquet input
    and re-write the full shuffle output (the un-cloned
    executedPlan().execute() form reused map outputs, 0 B on run 2, which
    is exactly the cheat this guards against). What the clone sheds is
    Catalyst re-optimization of the unchanged tree, which is construction
    (``construct_s``); a prepared statement does not re-plan per execution
    in any engine.

    Under AQE, AdaptiveSparkPlanExec clones share the query's stage cache
    and reuse materialized shuffle stages, so the clone body would cheat;
    there, and on any Spark build outside CLONE_VALIDATED_VERSIONS, the
    noop-save body runs instead: a fresh QueryExecution per run, honest by
    construction, re-paying optimization inside the timed window.
    """
    if (
        pyspark.__version__ not in CLONE_VALIDATED_VERSIONS
        or spark.conf.get("spark.sql.adaptive.enabled") == "true"
    ):
        df.write.format("noop").mode("overwrite").save()
    else:
        df._jdf.queryExecution().executedPlan().clone().execute().count()


def run_query(
    spark: SparkSession, spec: QuerySpec, data_dir: str, runs: int = 2
) -> dict:
    """Measure one registered query at ``data_dir`` under the session's
    current profile.

    - ``construct_s``: one timed ``spec.fn()``, the eager plan analysis a
      client pays before any job runs.
    - ``exec_s``: the minimum of ``runs`` executions of the prepared plan
      (``execute_prepared``); the minimum sheds one-off GC pauses and
      steal spikes. A plan that binds caches (``managed_cache``, a
      persisted RDD) is rebuilt inside each of its timed runs, its first
      run charged the construction it used, because releasing the caches
      severs the plan's binding: reusing it would time a different plan.
    - ``jobs``: the Spark jobs of the first execution, counted under this
      call's own job group; the caller's group is restored afterwards.

    After every run the query's caches and new persisted RDDs are
    released, so each run builds exactly its own caches.
    """
    sc = spark.sparkContext
    baseline = persistent_rdd_ids(spark)
    caller = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    group = f"run_query-{spec.name}-{time.monotonic_ns()}"

    def release() -> None:
        spark.catalog.clearCache()
        release_caches()
        release_new_rdds(spark, baseline)

    times: list[float] = []
    try:
        t0 = time.perf_counter()
        df = spec.fn(spark, data_dir)
        construct_s = time.perf_counter() - t0
        for i in range(runs):
            if i == 0:
                sc.setJobGroup(group, spec.name)
            try:
                t0 = time.perf_counter()
                if df is None:
                    df = spec.fn(spark, data_dir)
                execute_prepared(spark, df)
                dt = time.perf_counter() - t0
            finally:
                for k, v in caller.items():
                    sc.setLocalProperty(k, v)
            if live_cache_count() or persistent_rdd_ids(spark) - baseline:
                df = None
                if i == 0:
                    dt += construct_s
            times.append(dt)
            release()
    except BaseException:
        release()
        raise
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {
        "construct_s": construct_s,
        "exec_s": min(times),
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
    }
