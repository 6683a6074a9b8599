"""Streaming near-dup ingestion (streaming/neardedup.py): micro-batches
checked against the ACCUMULATED corpus through persisted signatures —
novel docs append, near-copies quarantine, batch-internal copies resolve
keep-first. The crawl-ingest capability exact streaming dedup
(dedup_stream) cannot provide."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_test_spark.streaming.neardedup import NearDupIngest

SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3


def mutate(text: str, i: int) -> str:
    toks = text.split(" ")
    toks[i] = f"CHANGED{i}"
    return " ".join(toks)


def docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_neardup_ingest_accumulates(spark, tmp_path):
    ing = NearDupIngest(spark, str(tmp_path), threshold=0.5)
    other = "one two three four five six seven eight nine ten " * 3

    # batch 1: two distinct docs -> both novel
    r1 = {r["doc_id"]: r for r in ing.process_batch(
        docs(spark, [(1, BASE), (2, other)])).collect()}
    assert r1[1]["status"] == "novel" and r1[2]["status"] == "novel"
    assert sorted(r["doc_id"] for r in ing.corpus().collect()) == [1, 2]

    # batch 2: a near-copy of doc 1, a novel doc, and TWO batch-internal
    # copies of the same new text -> keep-first inside the batch
    novel = "red orange yellow green blue indigo violet pink brown black " * 3
    r2 = {r["doc_id"]: r for r in ing.process_batch(
        docs(spark, [(10, mutate(BASE, 4)), (11, novel), (12, novel)])).collect()}
    assert r2[10]["status"] == "near_dup" and r2[10]["matched_id"] == 1
    assert r2[10]["jaccard"] >= 0.5
    assert r2[11]["status"] == "novel"
    assert r2[12]["status"] == "near_dup" and r2[12]["matched_id"] == 11
    assert sorted(r["doc_id"] for r in ing.corpus().collect()) == [1, 2, 11]

    # batch 3: near-copy of the doc accepted in batch 2 (state really
    # accumulated), plus an unrelated novel doc
    r3 = {r["doc_id"]: r for r in ing.process_batch(
        docs(spark, [(20, mutate(novel, 7)), (21, "solo words nothing like others repeated here okay fine yes " * 3)])).collect()}
    assert r3[20]["status"] == "near_dup" and r3[20]["matched_id"] == 11
    assert r3[21]["status"] == "novel"
    corpus_ids = sorted(r["doc_id"] for r in ing.corpus().collect())
    assert corpus_ids == [1, 2, 11, 21]
    # signature table tracks the corpus exactly (never re-shingled)
    sig_ids = sorted(r["doc_id"] for r in ing.signatures().collect())
    assert sig_ids == corpus_ids


def test_neardup_ingest_short_docs_accepted(spark, tmp_path):
    """Docs below the shingle width are outside the near-dup universe and
    accepted as novel (same gate as the batch pipeline)."""
    ing = NearDupIngest(spark, str(tmp_path))
    r = {x["doc_id"]: x for x in ing.process_batch(
        docs(spark, [(1, "just two"), (2, BASE)])).collect()}
    assert r[1]["status"] == "novel" and r[2]["status"] == "novel"
    assert sorted(x["doc_id"] for x in ing.corpus().collect()) == [1, 2]


def test_neardup_ingest_string_ids(spark, tmp_path):
    """id_col is a constructor parameter — non-long ids must keep their
    type through the no-state null cast, the novel semi-join, and the
    report schema (which must not fork between batch 1 and batch 2)."""
    schema = T.StructType(
        [T.StructField("uri", T.StringType()), T.StructField("text", T.StringType())]
    )
    ing = NearDupIngest(spark, str(tmp_path), id_col="uri", threshold=0.5)
    other = "one two three four five six seven eight nine ten " * 3

    b1 = ing.process_batch(spark.createDataFrame(
        [("s3://a", BASE), ("s3://b", other)], schema))
    r1 = {r["uri"]: r for r in b1.collect()}
    assert r1["s3://a"]["status"] == "novel" and r1["s3://b"]["status"] == "novel"

    b2 = ing.process_batch(spark.createDataFrame(
        [("s3://c", mutate(BASE, 4))], schema))
    r2 = {r["uri"]: r for r in b2.collect()}
    assert r2["s3://c"]["status"] == "near_dup"
    assert r2["s3://c"]["matched_id"] == "s3://a"
    assert b1.schema == b2.schema  # first-batch report must not fork
    assert sorted(r["uri"] for r in ing.corpus().collect()) == ["s3://a", "s3://b"]


def test_neardedup_duplicate_ids_in_batch_raise(spark, tmp_path):
    ing = NearDupIngest(spark, str(tmp_path / "nd"))
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (1, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        ing.process_batch(batch)
