"""Source readers: declared-schema CSV/JSON roundtrips (SURVEY §2.1 S1/S2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from feature_store_test_spark.data import load_table
from feature_store_test_spark.sources import (
    PURCHASES_SCHEMA,
    read_csv,
    read_json,
)


def purchases(spark, sf_dir):
    return load_table(spark, "events", sf_dir).select(
        F.col("user_id").alias("customer_id"),
        F.col("ts").alias("purchase_timestamp"),
        F.col("value").alias("purchase_value"),
        F.get_json_object("props", "$.k").cast("double").alias("loyalty_score"),
    )


def test_csv_roundtrip_with_reference_timestamp_format(spark, sf_dir, tmp_path):
    """The reference's ISO format (%Y-%m-%dT%H:%M:%S.%fZ) survives a
    write/read cycle with the declared schema — no inference anywhere."""
    src = purchases(spark, sf_dir)
    path = str(tmp_path / "purchases_csv")
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    (
        src.withColumn(
            "purchase_timestamp", F.date_format("purchase_timestamp", fmt)
        ).write.option("header", True).csv(path)
    )
    back = read_csv(spark, path, PURCHASES_SCHEMA, timestamp_format=fmt)
    assert back.schema == PURCHASES_SCHEMA
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_json_roundtrip(spark, sf_dir, tmp_path):
    src = purchases(spark, sf_dir)
    path = str(tmp_path / "purchases_json")
    src.write.json(path)
    back = read_json(spark, path, PURCHASES_SCHEMA)
    assert back.schema == PURCHASES_SCHEMA
    assert back.count() == src.count()


def test_quarantine_split_json_and_csv(spark, tmp_path):
    """Malformed lines become quarantined rows, never a dead stage; good
    rows parse with the declared schema; counts reconcile exactly."""
    from pyspark.sql import types as T

    from feature_store_test_spark.sources import read_with_quarantine, split_quarantine

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    jpath = str(tmp_path / "in.jsonl")
    with open(jpath, "w") as f:
        f.write('{"id": 1, "name": "a", "score": 0.5}\n')
        f.write("this is not json at all\n")
        f.write('{"id": 2, "name": "b", "score": 1.5}\n')
        f.write('{"id": 3, "name": "c", "score": }\n')  # truncated value
    df = read_with_quarantine(spark, jpath, schema, fmt="json")
    good, bad = split_quarantine(df)
    assert good.count() == 2 and bad.count() == 2
    assert [f.name for f in good.schema.fields] == ["id", "name", "score"]
    assert {r.id for r in good.collect()} == {1, 2}
    # the quarantined payloads survive verbatim for the dead-letter sink
    payloads = {r["_corrupt_record"] for r in bad.collect()}
    assert "this is not json at all" in payloads

    cpath = str(tmp_path / "in.csv")
    with open(cpath, "w") as f:
        f.write("id,name,score\n")
        f.write("1,a,0.5\n")
        f.write("2,b,not_a_number\n")  # type mismatch -> quarantined
        f.write("3,c,2.5\n")
    cdf = read_with_quarantine(spark, cpath, schema, fmt="csv")
    cgood, cbad = split_quarantine(cdf)
    assert cgood.count() == 2 and cbad.count() == 1
    assert cbad.collect()[0]["_corrupt_record"] == "2,b,not_a_number"
