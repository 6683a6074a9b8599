"""Real-time inference pipeline on Structured Streaming.

The reference processes one event at a time with 2-3 HTTPS round-trips each
(/root/reference/core/inference.py:183-225: exists-check → get → predict →
put). Here each micro-batch does the whole thing set-oriented (§3.3):

    batch → validate (failures → DLQ) → seed join against the online view
    → per-key sequential fold (mapInPandas) applying, per event in time
    order: enrich (defaults on miss, :121-126) → linear predict →
    (old+new)/2 state update (§2.13 Q4) → one ingest of final state rows
    + per-event prediction log.

The per-key fold is the genuinely-sequential semantics (each event's
features depend on the previous event's update): a row_number window
clusters the batch by key and sorts it by (key, event time, event id), and
one mapInPandas call per partition folds each key's events in order. State
continuity across micro-batches comes from seeding each batch with the online
view (state lives in the feature table, not in executor memory — restart-safe
by construction, the same property Delta-backed foreachBatch pipelines rely on).

DLQ (§2.9 T3): validation failures append to a DLQ table with an attempt
count; ``retry_dlq()`` reprocesses each attempt-1 row once (the reference's
single retry pass, :270-279 — which applies retried events AFTER later
events; parity-mode arrival-order semantics preserve exactly that).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_test_spark.ml import LinearScorer
from feature_store_test_spark.store.feature_group import FeatureGroup
from feature_store_test_spark.store.table import VersionedParquetTable

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("customer_id", T.LongType()),
        T.StructField("purchase_timestamp", T.TimestampType()),
        T.StructField("purchase_value", T.DoubleType()),
    ]
)

DLQ_SCHEMA = T.StructType(
    [*EVENT_SCHEMA.fields,
     T.StructField("attempt", T.IntegerType()),
     T.StructField("error", T.StringType())]
)

_FOLD_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("customer_id", T.LongType()),
        T.StructField("purchase_timestamp", T.TimestampType()),
        T.StructField("purchase_value", T.DoubleType()),
        # features as enriched BEFORE this event's update (what predict saw)
        T.StructField("latest_purchase_value", T.DoubleType()),
        T.StructField("avg_purchase_value", T.DoubleType()),
        T.StructField("avg_loyalty_score", T.DoubleType()),
        T.StructField("prediction", T.DoubleType()),
        # state AFTER applying this event
        T.StructField("avg_purchase_value_after", T.DoubleType()),
        T.StructField("avg_loyalty_score_after", T.DoubleType()),
        T.StructField("was_new_key", T.BooleanType()),
        # False when strict_event_time dropped a stale event's state update
        T.StructField("applied", T.BooleanType()),
    ]
)


@dataclass
class InferencePipeline:
    spark: SparkSession
    feature_group: FeatureGroup
    scorer: LinearScorer
    dlq_path: str
    # validation hook: rows where this SQL predicate is FALSE go to the DLQ
    valid_predicate: str = (
        "customer_id IS NOT NULL AND purchase_value IS NOT NULL "
        "AND purchase_timestamp IS NOT NULL"
    )
    # parity mode (False): stale re-deliveries overwrite state in arrival
    # order, reproducing the reference's retry quirk (§2.13 Q5).
    # strict mode (True): MERGE-style guard — an event older than the
    # stored state's event time is scored but its state update is dropped
    # (WHEN MATCHED AND s.event_time >= t.event_time).
    strict_event_time: bool = False
    _dlq_retried_through: int = field(default=0, init=False, repr=False)

    def __post_init__(self):
        self.dlq = VersionedParquetTable(self.spark, self.dlq_path, DLQ_SCHEMA)

    # ------------------------------------------------------------------ fold
    def _fold_batch(self, seeded: DataFrame) -> DataFrame:
        """One Python call per key-clustered partition; state resets from
        ``seed_*`` at each key's first row and carries across Arrow batches."""
        scorer = self.scorer  # plain dataclass → closure-serialized to executors
        strict = self.strict_event_time

        def fold(batches):
            for pdf in batches:
                out = []
                for r in pdf.itertuples(index=False):
                    if r.key_seq == 1:
                        avg_pv, avg_ls = r.seed_avg_pv, r.seed_avg_ls
                        exists, state_ts = bool(r.seed_exists), r.seed_ts
                    v = r.purchase_value
                    if not exists:
                        # miss defaults (reference core/inference.py:121-126)
                        feat_avg_pv, feat_avg_ls = v, 0.0
                    else:
                        feat_avg_pv, feat_avg_ls = avg_pv, avg_ls
                    pred = scorer.predict_row(
                        {
                            "latest_purchase_value": v,
                            "avg_purchase_value": feat_avg_pv,
                            "avg_loyalty_score": feat_avg_ls,
                        }
                    )
                    # a NULL seed_ts arrives as NaT, which compares False
                    stale = strict and exists and r.purchase_timestamp < state_ts
                    if stale:
                        # strict guard: score only, keep state
                        new_avg_pv, new_avg_ls = avg_pv, avg_ls
                    elif not exists:
                        # insert arm: averages initialize to observations
                        new_avg_pv, new_avg_ls = v, pred
                    else:
                        # (old+new)/2 — preserved exactly (§2.13 Q4)
                        new_avg_pv = (avg_pv + v) / 2.0
                        new_avg_ls = (avg_ls + pred) / 2.0
                    out.append(
                        (
                            r.event_id, r.customer_id, r.purchase_timestamp, v,
                            v, feat_avg_pv, feat_avg_ls, pred,
                            new_avg_pv, new_avg_ls, not exists, not stale,
                        )
                    )
                    if not stale:
                        avg_pv, avg_ls, exists = new_avg_pv, new_avg_ls, True
                        state_ts = r.purchase_timestamp
                yield pd.DataFrame(out, columns=_FOLD_OUT_SCHEMA.fieldNames())

        # not a bare repartition: the window's clustering requirement keeps
        # AQE (skew split, local shuffle read) from splitting a key's rows
        by_key = Window.partitionBy("customer_id").orderBy(
            F.asc_nulls_last("purchase_timestamp"), F.asc_nulls_last("event_id")
        )
        keyed = seeded.withColumn("key_seq", F.row_number().over(by_key))
        return keyed.mapInPandas(fold, _FOLD_OUT_SCHEMA)

    # ----------------------------------------------------------------- batch
    def process_batch(self, batch: DataFrame, attempt: int = 1) -> DataFrame:
        """Process one micro-batch; returns the per-event prediction log."""
        batch = batch.select(*[f.name for f in EVENT_SCHEMA.fields])
        ok = batch.where(F.expr(self.valid_predicate))
        bad = batch.where(~F.expr(f"coalesce({self.valid_predicate}, false)"))
        if bad.limit(1).count() > 0:
            self.dlq.append(
                bad.withColumn("attempt", F.lit(attempt)).withColumn(
                    "error", F.lit("validation_failed")
                )
            )

        online = self.feature_group.online_view(
            strict_event_time=self.strict_event_time
        ).select(
            F.col("customer_id"),
            F.col("avg_purchase_value").alias("seed_avg_pv"),
            F.col("avg_loyalty_score").alias("seed_avg_ls"),
            F.col("purchase_timestamp").alias("seed_ts"),
            F.lit(True).alias("seed_exists"),
        )
        seeded = (
            ok.join(online, on="customer_id", how="left")
            .withColumn("seed_exists", F.coalesce("seed_exists", F.lit(False)))
        )
        folded = self._fold_batch(seeded).localCheckpoint(eager=True)

        # final state per key = last event's *_after values
        from feature_store_test_spark.operators.latest import latest_per_key

        final_state = latest_per_key(
            folded.where(F.col("applied")),
            "customer_id",
            [F.col("purchase_timestamp").desc(), F.col("event_id").desc()],
        ).select(
            F.col("customer_id"),
            F.col("purchase_timestamp"),
            F.col("purchase_value").alias("latest_purchase_value"),
            F.col("avg_purchase_value_after").alias("avg_purchase_value"),
            F.col("avg_loyalty_score_after").alias("avg_loyalty_score"),
            F.col("prediction").alias("latest_loyalty_score"),
        )
        self.feature_group.ingest(final_state)

        return folded.select(
            "event_id", "customer_id", "purchase_timestamp", "purchase_value",
            "latest_purchase_value", "avg_purchase_value", "avg_loyalty_score",
            "prediction", "was_new_key", "applied",
        )

    # ------------------------------------------------------------------- dlq
    def retry_dlq(self) -> DataFrame | None:
        """Single retry pass over the attempt-1 rows of DLQ commits newer
        than the last call's (T3). Rows that fail again stay in the DLQ at
        attempt 2 (log-only, reference core/inference.py:277-279)."""
        since, until = self._dlq_retried_through, self.dlq.latest_version() or 0
        if until <= since:
            return None
        self._dlq_retried_through = until
        to_retry = self.dlq.changes(since, until).where(F.col("attempt") == 1)
        if to_retry.limit(1).count() == 0:
            return None
        return self.process_batch(to_retry, attempt=2)

    # ---------------------------------------------------------------- stream
    def run_stream(
        self,
        input_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
    ) -> None:
        """Structured Streaming replay of a parquet event directory:
        readStream → foreachBatch(process_batch), availableNow (drain all)."""
        reader = (
            self.spark.readStream.schema(EVENT_SCHEMA)
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(input_dir)

        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, _bid: self.process_batch(bdf) and None
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
