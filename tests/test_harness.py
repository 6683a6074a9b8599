"""The query-measurement harness: ``run_query`` counts, times and cleans up
as its callers (bench, sweep, scaleprobe) rely on."""

from __future__ import annotations

import pytest

from feature_store_test_spark.harness import BASE_PROFILE, run_query, set_profile
from feature_store_test_spark.registry import (
    all_queries,
    live_cache_count,
    persistent_rdd_ids,
    release_caches,
)

# q138 binds two managed caches, so run_query must rebuild it per run
# and release what each run built
QUERY = "q138_heavy_hitters"
_PROFILE_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.adaptive.enabled",
    "spark.sql.files.openCostInBytes",
    "spark.sql.join.preferSortMergeJoin",
)


def _jobs(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("profile", ["session", "base"])
def test_run_query_counts_times_and_releases(spark, sf_dir, profile):
    """Under the session's AQE (noop-save body) and under BASE_PROFILE
    (clone body): ``jobs`` equals a plain noop write of the same plan,
    nothing the query cached outlives the call, the caller's job group
    is back in place, and both timings are positive."""
    spec = all_queries()[QUERY]
    sc = spark.sparkContext
    saved = {k: spark.conf.get(k) for k in _PROFILE_CONFS}
    if profile == "base":
        set_profile(spark, BASE_PROFILE)
    try:
        baseline = persistent_rdd_ids(spark)
        plain = _jobs(
            spark,
            f"plain-noop-{profile}",
            lambda: spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
        )
        release_caches()
        spark.catalog.clearCache()
        assert plain >= 2

        sc.setJobGroup("caller-group", "caller description")
        try:
            r = run_query(spark, spec, sf_dir)
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
            assert sc.getLocalProperty("spark.job.description") == "caller description"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

        assert r["jobs"] == plain
        assert live_cache_count() == 0
        assert persistent_rdd_ids(spark) - baseline == set()
        assert r["exec_s"] > 0 and r["construct_s"] > 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
