"""Batch + streaming source readers (SURVEY §2.1 S1/S2).

The reference loads purchase CSVs with pandas inference
(/root/reference/main.py:98, core/inference.py:81). Engine rule: every read
carries a declared StructType — no ``inferSchema`` in production paths
(inference costs an extra pass at scale and drifts silently).

``read_csv`` covers the reference's historical/inference CSV inputs;
``read_json``/``read_parquet`` round out the batch formats;
``read_with_quarantine`` is the permissive ingest read that keeps malformed
lines as rows. The streaming inference pipeline builds its own declared-schema
``readStream`` (``InferencePipeline.run_stream``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PURCHASES_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.LongType()),
        T.StructField("purchase_timestamp", T.TimestampType()),
        T.StructField("purchase_value", T.DoubleType()),
        T.StructField("loyalty_score", T.DoubleType()),
    ]
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    timestamp_format: str | None = None,
) -> DataFrame:
    reader = spark.read.schema(schema).option("header", header)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_parquet(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).parquet(path)


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
    corrupt_col: str = "_corrupt_record",
    header: bool = True,
) -> DataFrame:
    """PERMISSIVE semi-structured read with a quarantine column — the
    ingest twin of the codec layer's errors-as-data contract: a malformed
    JSONL/CSV line at row 3 billion must become a quarantined ROW, never
    a dead stage. Parsed rows carry NULL in ``corrupt_col``; unparseable
    lines land verbatim there with the data columns NULL, so downstream
    splits (``split_quarantine``) can route them to a dead-letter sink
    with full lineage. Declared schema only — never inferSchema.
    """
    q = T.StructType(list(schema.fields) + [T.StructField(corrupt_col, T.StringType())])
    reader = (
        spark.read.schema(q)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if fmt == "json":
        return reader.json(path)
    if fmt == "csv":
        return reader.option("header", header).csv(path)
    raise ValueError(f"unsupported quarantine format {fmt!r}")


def split_quarantine(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) split of a ``read_with_quarantine`` frame.

    Spark disallows plans that reference ONLY the internal corrupt
    column of a raw-file relation (a count() on the quarantine side
    prunes down to exactly that), so the split caches the parsed frame
    first — the documented Spark workaround, and what an ingest job
    wants anyway: one parse feeding both sinks. Caller unpersists when
    both sides are written.
    """
    from pyspark.sql import functions as F

    df = df.cache()
    good = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.where(F.col(corrupt_col).isNotNull())
    return good, bad
