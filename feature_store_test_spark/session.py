"""SparkSession factory.

One place for every config the engine relies on, so tests, bench, and the
driver entry point all run the same session shape.

Scale notes (100 TB design point):
- AQE is on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a real
  cluster set it ~2-3x total cores and let AQE coalesce.
- Timestamps: session timezone pinned to UTC and parquet NTZ inference off so
  every timestamp column is a plain ``TimestampType`` with UTC wall-clock
  values — deterministic across engines and executors.
- ``nanosAsLong``: the driver's ``events`` table stores TIMESTAMP(NANOS)
  which the Spark parquet reader refuses by default; we read it as a long
  and convert (``data.load_table`` truncates ns → µs exactly like DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "feature-store-test-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory(phys_bytes: int) -> str:
    """The default driver heap for a host with ``phys_bytes`` of physical
    memory: 24g, or half the host when that is less — in local mode every
    executor thread lives in the driver JVM, which must leave room for the
    Python workers and the rest of the host."""
    half_mib = phys_bytes // 2 // 2**20
    return "24g" if half_mib >= 24 * 1024 else f"{half_mib}m"


def get_spark(
    app_name: str = APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / cross-engine comparability ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write µs timestamps (INT64), not deprecated INT96 — keeps our own
        # parquet output readable with declared TimestampType schemas
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # --- optimizer / execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Broadcast thresholds, split by how trustworthy the size is:
        # static planning sees file-size ESTIMATES, and a fact table can
        # sneak under a generous threshold — a 64m static threshold
        # broadcast the 6M-row lineitem at 10x bench scale (3.5s q05),
        # and the round-3 16m threshold STILL broadcast the 600k-row
        # lineitem at sf0.1 (10.3MB file): the fact became a q05 hash
        # build side, plan-fatal at cluster scale. 1m admits only true
        # dimension tables (region/nation/supplier/customer/part, all
        # <= 0.3MB here and bounded-domain by nature); every fact starts
        # at 2MB. Known dimensions are additionally F.broadcast-hinted at
        # the query sites, so the static threshold is a guardrail, not
        # the mechanism. AQE's conversion measures ACTUAL shuffle bytes
        # at runtime, so it gets the full 64m — mid-size aggregated
        # sides (TPC-H Q18's grouped orders) still upgrade to broadcast
        # when they really are small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        # PySpark 4's DataFrame debugging captures the Python call site
        # for EVERY Column/function call — 3+ extra py4j round-trips per
        # call (origin set + clear + a conf read). A query like q01
        # builds ~150 Column expressions → ~2,200 RPCs, ~0.25s of pure
        # plan-construction chatter; the whole headline set paid ~1.5s.
        # Production sessions don't need per-expression error call-sites.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- python interop (pandas UDFs, toPandas) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- local-mode memory sanity ---
        # local[32] hosts all 32 executor threads in the driver JVM: 8g
        # showed GC/eviction thrash once a few operators' caches
        # accumulated (q21 measured 3x slower late in a 30-query bench
        # than in isolation) on a 128 GiB host, while 24g on a 15 GiB host
        # got the JVM OOM-killed beside DuckDB. On a real cluster this
        # would be spark.executor.memory instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or default_driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from feature_store_test_spark.bootstrap import ship_package

    ship_package(spark)
    return spark
