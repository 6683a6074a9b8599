"""Explicit schemas + loaders for the driver-generated test tables.

Production rule (SURVEY.md §1.2): no ``inferSchema`` anywhere — every table
has a declared ``StructType``; the reader enforces it. At 100 TB, schema
inference means an extra full-footer scan and silent drift; declared schemas
also guarantee the parquet reader prunes to exactly the referenced columns.

``events.ts`` has been generated as both TIMESTAMP(NANOS) and
TIMESTAMP(MICROS) across driver runs; the loader sniffs the footer (one
cached pyarrow metadata read per file — cheap and driver-side) and adapts.
For ns files Spark cannot read the column natively, so the session sets
``spark.sql.legacy.parquet.nanosAsLong`` and the loader truncates ns → µs
(``ts div 1000``) — the exact semantics DuckDB applies when casting
TIMESTAMP_NS to TIMESTAMP, so oracle comparisons agree. For µs files the
column is read directly as TimestampType.
"""

from __future__ import annotations

import functools
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # ts declared TimestampType; ns-stored files get LongType + div-1000
    # conversion instead (see _events_ts_is_nanos / load_table).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = list(SCHEMAS)


def _events_ts_is_nanos(path: str) -> bool:
    """True when the events table stores ``ts`` as INT64 TIMESTAMP(NANOS)
    — the one physical layout Spark cannot read as a native timestamp.

    Checks the PHYSICAL parquet type, not the arrow view: pyarrow reports
    legacy INT96 timestamps as ``timestamp[ns]`` too, but Spark reads
    INT96 natively, so only INT64-nanos needs the long+div1000 path.
    Accepts either a single parquet file (the driver's layout) or a
    Spark-written directory of part files (one footer is representative —
    a single writer produced them all).
    """
    import glob
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return False
        path = parts[0]
    # cache keyed on (path, mtime, size), not path alone: a rewritten
    # file at the same path (scaleprobe replica rebuild, regenerated
    # fixtures) must be re-sniffed or ts silently misreads by 1000x
    st = os.stat(path)
    return _events_ts_is_nanos_cached(path, st.st_mtime_ns, st.st_size)


@functools.lru_cache(maxsize=None)
def _events_ts_is_nanos_cached(path: str, mtime_ns: int, size: int) -> bool:
    import pyarrow.parquet as pq

    sch = pq.ParquetFile(path).schema
    col = sch.column(sch.names.index("ts"))
    return col.physical_type == "INT64" and "nanoseconds" in str(col.logical_type)


# Reader-DataFrame memo: a DataFrame is an immutable logical plan, so the
# same (session, file-identity) pair can hand out one shared instance.
# Repeated spark.read.parquet() calls cost a ~20ms py4j/listing roundtrip
# each — 6-table queries paid ~0.13s of pure plan-construction overhead per
# invocation. Keyed on the backing file's (mtime, size) so a rewritten
# fixture (scaleprobe replica, driver regeneration) is re-read, and on the
# JVM application id+start time so a fresh session never sees stale plans.
_reader_cache: dict[tuple, DataFrame] = {}


def _file_identity(path: str) -> tuple[int, int]:
    import glob
    import os

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        ident = [os.stat(p) for p in parts[:4]]
        return (len(parts), sum(s.st_mtime_ns ^ s.st_size for s in ident))
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one driver table with its declared schema.

    ns-stored ``events`` files get their ns-tick long converted to a µs
    TimestampType via integer division (truncation — matches DuckDB's ns→µs
    cast exactly; float division would lose precision at 1.7e18 ns
    magnitudes). µs-stored files are read natively as TimestampType.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    key = (
        spark.sparkContext.applicationId,
        name,
        path,
        _file_identity(path),
    )
    cached = _reader_cache.get(key)
    if cached is not None:
        return cached
    df = _read_table(spark, name, path)
    _reader_cache[key] = df
    return df


def _read_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    schema = SCHEMAS[name]
    if name == "events" and _events_ts_is_nanos(path):
        fields = [
            T.StructField("ts", T.LongType()) if f.name == "ts" else f
            for f in schema.fields
        ]
        df = spark.read.schema(T.StructType(fields)).parquet(path)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(schema).parquet(path)


@functools.lru_cache(maxsize=None)
def _scan_task_capacity(path: str, identity: tuple) -> int:
    """Upper bound on NON-EMPTY scan tasks Spark can extract from ``path``.

    Spark's parquet split planning assigns each ROW GROUP to the one task
    whose byte range contains its midpoint — finer splits only add empty
    tasks. So real scan parallelism is the total row-group count across
    files, no matter what maxPartitionBytes says. Driver-side footer reads,
    cached on the same (mtime, size) identity as the reader memo.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    # a directory of many files parallelizes at >= one task per file;
    # sampling a few footers is enough to know we're not in the
    # single-blob regime
    if len(files) >= 16:
        return len(files)
    return sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)


def load_table_spread(
    spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR, key: str | None = None
) -> DataFrame:
    """``load_table`` + degree-of-parallelism recovery for expensive
    per-row projections (minhash digests, shingle builds, array folds).

    A single-row-group parquet file scans as ONE non-empty task regardless
    of split config, so any costly projection above it runs on one core.
    When the file layout caps scan parallelism below the session's cores,
    insert one round-robin exchange of the (column-pruned — Catalyst
    pushes Project/Filter below Repartition) input before the heavy work;
    measured 3.4x on the sf0.1 minhash signature stage. On any real
    multi-file table the capacity check disables this: the exchange is a
    local-layout recovery, not a scale-path operator — at 100 TB the scan
    itself yields thousands of tasks and the extra shuffle would be pure
    cost. Spread frames are memoized like the base readers.

    ``key`` (round 11, r10 verdict item 1 — the fact-scan variant): when
    the first operation above the scan is itself an exchange on ``key``
    (a fact join or fact groupBy on that key), a KEYED repartition FOLDS
    INTO that exchange — hash output partitioning on the key satisfies
    the join/agg clustering, so the plan gains no extra shuffle; the only
    change is the width of the stage that consumes it (the join + agg
    pipeline), which the default low shuffle-partition profile otherwise
    caps at its toy width. Width is sized to the DATA (scan bytes /
    ~1.5 MiB per task, clamped to [current shuffle partitions, cores]),
    not to the box, and hash partitioning avoids the local sort a
    round-robin repartition pays (sortBeforeRepartition). Measured on
    q78/q76/q140 (min −0.05..−0.10s, med −0.06..−0.10s, interleaved
    n>=8); REJECTED for queries whose lineitem is filtered or
    pre-aggregated map-side below the exchange (q05 0.32→0.51, q105
    0.45→0.51: the spread would shuffle raw rows where the base plan
    ships the reduced ones) and for q42/q136/q15 (wash or loss).
    """
    mkey = (
        spark.sparkContext.applicationId,
        "__spread__",
        name,
        key,
        # keyed width reads the session's CURRENT shuffle partitions — a
        # frame built under one profile must not leak into another
        None if key is None else spark.conf.get("spark.sql.shuffle.partitions", "8"),
        f"{sf_dir}/{name}.parquet",
    )
    cached = _reader_cache.get(mkey)
    if cached is not None:
        return cached
    df = load_table(spark, name, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    cores = spark.sparkContext.defaultParallelism
    if _scan_task_capacity(path, _file_identity(path)) < max(2, cores // 2):
        if key is None:
            df = df.repartition(cores)
        else:
            import math

            sh = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
            width = min(
                cores,
                max(sh, math.ceil(_table_bytes(path) / (1.5 * 1024 * 1024))),
            )
            df = df.repartition(width, F.col(key))
    _reader_cache[mkey] = df
    return df


def _table_bytes(path: str) -> int:
    import glob
    import os

    if os.path.isdir(path):
        return sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(path, "*.parquet"))
        )
    return os.path.getsize(path)


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-literal DataFrame as an Arrow-backed ``LocalTableScan``.

    ``spark.createDataFrame(<python list>)`` parallelizes the rows into a
    Python RDD: every EXECUTION of the resulting plan then round-trips
    through a Python worker — measured ~5.9s per run for a 200-row table
    on this box (q150's whole exec cost was that one scan; the PQ LUT
    and IVF-centroid relations paid it inside q103/q104's timed windows
    too) — and the relation is opaque to Catalyst (no local-relation
    stats). Routing the same rows through pandas + Arrow yields a plain
    ``LocalTableScan``: pure JVM at execution time (0.079s for the same
    table), identical values, schema honored as declared. Use this for
    every driver-built literal table on a query path; plain
    ``createDataFrame`` stays fine for test fixtures.
    """
    import pandas as pd

    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    # rows normalized to plain tuples (ADVICE r10): Row objects (e.g. a
    # report.collect()) expand POSITIONALLY here — tuple() pins that
    # explicitly and keeps pandas from treating a Row as a scalar cell.
    rows = [tuple(r) for r in rows]
    if not rows:
        # pyspark takes the Arrow path only for non-empty pandas input; a
        # zero-row table is an empty JVM LocalRelation built directly
        jss = spark._jsparkSession
        jdf = jss.createDataFrame(
            spark._jvm.java.util.ArrayList(), jss.parseDataType(schema.json())
        )
        return DataFrame(jdf, spark)
    # The LocalTableScan depends on the Arrow conversion path, which is a
    # RUNTIME conf a vanilla (driver-built) session does not set — without
    # it every one of these literal tables silently took the Python-RDD
    # path in the driver's own verify sessions (found by the guard below,
    # round 11). Set it at the single choke point, only when it is off.
    arrow_conf = "spark.sql.execution.arrow.pyspark.enabled"
    if spark.conf.get(arrow_conf, "false").lower() != "true":
        spark.conf.set(arrow_conf, "true")
    cols = [f.name for f in schema.fields]
    pdf = pd.DataFrame(rows, columns=cols, dtype=object)
    df = spark.createDataFrame(pdf, schema=schema)
    # The LocalTableScan win depends on the Arrow conversion path; the
    # default fallback silently reinstates the Python-RDD regression with
    # only a warning (ADVICE r10). A LogicalRDD anywhere in the plan is
    # that regression — fail loudly. Checked on the whole ANALYZED plan
    # (no optimizer run).
    if "LogicalRDD" in df._jdf.queryExecution().analyzed().toString():
        raise RuntimeError(
            "local_rows_df: Arrow conversion fell back to a Python RDD scan"
            " — the driver-literal table would re-pay a Python worker"
            " round-trip per execution; fix the schema/values instead"
        )
    return df


_VIEWS_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def register_temp_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view for spark.sql() querying.

    Memoized per live session object (WeakKeyDictionary, value = sf_dir):
    re-registering ten identical views on every SQL-frontend query
    construction cost ~10 analysis RPCs per call for no effect. A
    DIFFERENT sf_dir re-registers (last writer wins — temp views are
    session-global, same as before), and a new session re-registers from
    scratch. Keying on the session OBJECT (not ``id(spark)``) means a
    GC'd session's entry vanishes with it — CPython id reuse can hand a
    new session a dead session's id, which under the old dict key falsely
    reported its session-scoped temp views as registered (ADVICE r6).
    """
    if _VIEWS_REGISTERED.get(spark) == sf_dir:
        return
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    _VIEWS_REGISTERED[spark] = sf_dir
