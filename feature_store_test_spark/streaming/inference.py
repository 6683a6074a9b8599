"""Real-time inference pipeline on Structured Streaming.

The reference processes one event at a time with 2-3 HTTPS round-trips each
(/root/reference/core/inference.py:183-225: exists-check → get → predict →
put). Here each micro-batch does the whole thing set-oriented (§3.3):

    batch → validate (failures → DLQ) → seed each key from the online store
    → per-key sequential fold (mapInPandas) applying, per event in time
    order: enrich (defaults on miss, :121-126) → linear predict →
    (old+new)/2 state update (§2.13 Q4) → one ingest of final state rows
    + per-event prediction log.

The per-key fold is the genuinely-sequential semantics (each event's
features depend on the previous event's update): a row_number window
clusters the batch by key and sorts it by (key, event time, event id), and
one mapInPandas call per partition folds each key's events in order. That
window's exchange is the batch's one shuffle. State continuity across
micro-batches comes from seeding each batch with the online store, as the
reference looks each event up in its own (:227-281): the pipeline's
``ServingSession`` is refreshed before the batch, which folds in the
commits since the last one (this pipeline's and any other writer's), and
each of the batch's keys is a point read of its snapshot. The seeds reach
the fold as a plain dict in its closure (PySpark broadcasts a large
command by itself), so no seed relation is joined. The fold also emits each
key's final state, on the key's last row, so the ingest reads it straight
from the checkpointed fold output. State lives in the feature table, not
in executor memory, so a restarted pipeline reseeds from it — restart-safe
by construction, the same property Delta-backed foreachBatch pipelines
rely on. A batch with no valid row, or whose every event strict mode
drops as stale, commits nothing to the feature table.

DLQ (§2.9 T3): validation failures append to a DLQ table with an attempt
count; ``retry_dlq()`` reprocesses each attempt-1 row once (the reference's
single retry pass, :270-279 — which applies retried events AFTER later
events; parity-mode arrival-order semantics preserve exactly that).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_test_spark.ml import LinearScorer
from feature_store_test_spark.store.feature_group import FeatureGroup
from feature_store_test_spark.store.serving import ServingSession
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

# the feature-group columns of a key's final state, each emitted as final_<name>
_FINAL_COLS = [
    "purchase_timestamp", "latest_purchase_value", "avg_purchase_value",
    "avg_loyalty_score", "latest_loyalty_score",
]

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
        # True on a key's last row when the key has an applied row; the
        # final_* columns then hold the state its latest applied row left
        T.StructField("final", T.BooleanType()),
        T.StructField("final_purchase_timestamp", T.TimestampType()),
        *[T.StructField(f"final_{c}", T.DoubleType()) for c in _FINAL_COLS[1:]],
    ]
)

_LOG_SCHEMA = T.StructType(
    [f for f in _FOLD_OUT_SCHEMA.fields
     if f.name not in ("avg_purchase_value_after", "avg_loyalty_score_after")
     and not f.name.startswith("final")]
)

_NO_FINAL = (False,) + (None,) * len(_FINAL_COLS)


def _fold_seed(record: dict, tz: str) -> tuple:
    """A stored record as the fold's seed ``(avg_pv, avg_ls, ts)``, in the
    form Arrow delivers a batch's columns to ``mapInPandas``: a NULL
    average as NaN, a NULL time as NaT, and the time naive in the session
    time zone ``tz``. ``get_record`` gives a naive time in this process's
    zone, so it is read as such before the conversion."""
    pv, ls, ts = (record[c] for c in ("avg_purchase_value", "avg_loyalty_score", "purchase_timestamp"))
    nan = float("nan")
    ts = pd.NaT if ts is None else pd.Timestamp(ts.astimezone()).tz_convert(tz).tz_localize(None)
    return nan if pv is None else pv, nan if ls is None else ls, ts


def _latest_order(ts, event_id) -> tuple:
    """(purchase_timestamp, event_id) as a descending Spark sort picks the
    latest row: NULL (NaT, NaN) lowest."""
    return tuple(x for v in (ts, event_id) for x in ((False, 0) if pd.isna(v) else (True, v)))


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
    # (WHEN MATCHED AND s.event_time >= t.event_time). The seed's session
    # picks records in this order too; it is rebuilt when the field changes.
    strict_event_time: bool = False
    _dlq_retried_through: int = field(default=0, init=False, repr=False)

    def __post_init__(self):
        self.dlq = VersionedParquetTable(self.spark, self.dlq_path, DLQ_SCHEMA)
        self._online = ServingSession(self.feature_group, self.strict_event_time)
        # the keys a fold leaves a final state for, counted by its tasks
        self._finals = self.spark.sparkContext.accumulator(0)
        self._stats = Counter(dict.fromkeys(
            ("batches", "rows", "dlq_rows", "valid_keys", "seed_hits", "seed_misses",
             "commits", "skipped"), 0,
        ))

    def stats(self) -> dict[str, int]:
        """Counters over this pipeline's ``process_batch`` calls (retries
        included): ``batches``; ``rows`` in and ``dlq_rows`` sent to the
        DLQ; ``valid_keys``, the distinct keys of valid rows, summed per
        batch; ``seed_hits``/``seed_misses``, those keys found or not in the
        online store; feature-group ``commits``; and ``skipped``, the
        batches with no valid row, which commit nothing to the group."""
        return dict(self._stats)

    # ------------------------------------------------------------------ fold
    def _fold_batch(self, batch: DataFrame, seeds: dict) -> DataFrame:
        """One Python call per key-clustered partition. ``seeds`` maps a key
        to its stored ``(avg_pv, avg_ls, ts)`` (``_fold_seed``); state resets
        from it at each key's first row and carries across Arrow batches."""
        scorer = self.scorer  # plain dataclass → closure-serialized to executors
        strict, finals = self.strict_event_time, self._finals

        def fold(batches):
            for pdf in batches:
                out = []
                for r in pdf.itertuples(index=False):
                    if r.key_seq == 1:
                        seed = seeds.get(r.customer_id)
                        exists, final, final_at = seed is not None, None, None
                        if exists:
                            avg_pv, avg_ls, state_ts = seed
                    v, new_key = r.purchase_value, not exists
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
                    # a NULL seed time is NaT, which compares False
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
                    if not stale:
                        avg_pv, avg_ls, exists = new_avg_pv, new_avg_ls, True
                        state_ts = r.purchase_timestamp
                        at = _latest_order(r.purchase_timestamp, r.event_id)
                        if final is None or at > final_at:
                            final, final_at = (state_ts, v, avg_pv, avg_ls, pred), at
                    is_final = r.key_seq == r.key_n and final is not None
                    if is_final:
                        finals.add(1)
                    out.append(
                        (
                            r.event_id, r.customer_id, r.purchase_timestamp, v,
                            v, feat_avg_pv, feat_avg_ls, pred,
                            new_avg_pv, new_avg_ls, new_key, not stale,
                            *((True, *final) if is_final else _NO_FINAL),
                        )
                    )
                yield pd.DataFrame(out, columns=_FOLD_OUT_SCHEMA.fieldNames())

        # not a bare repartition: the window's clustering requirement keeps
        # AQE (skew split, local shuffle read) from splitting a key's rows.
        # The count shares the row_number's exchange and sort.
        by_key = Window.partitionBy("customer_id")
        in_order = by_key.orderBy(
            F.asc_nulls_last("purchase_timestamp"), F.asc_nulls_last("event_id")
        )
        keyed = batch.withColumn("key_seq", F.row_number().over(in_order)).withColumn(
            "key_n", F.count(F.lit(1)).over(by_key)
        )
        return keyed.mapInPandas(fold, _FOLD_OUT_SCHEMA)

    # ----------------------------------------------------------------- batch
    def process_batch(self, batch: DataFrame, attempt: int = 1) -> DataFrame:
        """Process one micro-batch; returns the per-event prediction log."""
        batch = batch.select(*[f.name for f in EVENT_SCHEMA.fields])
        valid = F.coalesce(F.expr(self.valid_predicate), F.lit(False))
        # one job gives the batch's keys and its valid and invalid row counts
        flags = batch.groupBy("customer_id", valid.alias("valid")).count().collect()
        keys = {r.customer_id for r in flags if r.valid}
        dlq_rows = sum(r["count"] for r in flags if not r.valid)
        self._stats.update(
            batches=1, rows=sum(r["count"] for r in flags), dlq_rows=dlq_rows, valid_keys=len(keys)
        )
        if dlq_rows:
            self.dlq.append(
                batch.where(~valid).withColumn("attempt", F.lit(attempt)).withColumn(
                    "error", F.lit("validation_failed")
                )
            )
        if not keys:
            self._stats["skipped"] += 1
            return self.spark.createDataFrame([], _LOG_SCHEMA)

        # the seed: each valid key's record in the online store, a point read
        # of the session's snapshot (no Spark job). The session picks records
        # in the order it was built with, so it follows strict_event_time.
        if self._online._strict != self.strict_event_time:
            self._online = ServingSession(self.feature_group, self.strict_event_time)
        self._online.refresh()
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        records = {k: self._online.get_record(k) for k in keys - {None}}
        seeds = {k: _fold_seed(r, tz) for k, r in records.items() if r is not None}
        self._stats.update(seed_hits=len(seeds), seed_misses=len(records) - len(seeds))
        self._finals.value = 0
        folded = self._fold_batch(batch.where(valid), seeds).localCheckpoint(eager=True)

        # no final row when strict mode dropped every event as stale. A
        # retried task adds its count again; only zero versus more matters.
        if self._finals.value:
            self.feature_group.ingest(folded.where("final").select(
                "customer_id", *[F.col(f"final_{c}").alias(c) for c in _FINAL_COLS]
            ))
            self._stats["commits"] += 1
        return folded.select(*_LOG_SCHEMA.fieldNames())

    # ------------------------------------------------------------------- dlq
    def retry_dlq(self) -> DataFrame | None:
        """Single retry pass over the attempt-1 rows of DLQ commits newer
        than the last call's (T3). Rows that fail again stay in the DLQ at
        attempt 2 (log-only, reference core/inference.py:277-279). None
        when no DLQ commit's ``attempt`` stats admit an attempt-1 row."""
        since, until = self._dlq_retried_through, self.dlq.latest_version() or 0
        if until <= since:
            return None
        self._dlq_retried_through = until
        # the log's stats decide, no job; a commit without stats may hold one
        first_try = [("attempt", "=", 1)]
        if not any(
            self.dlq._candidate_files(self.dlq._load_commit(v), first_try) != []
            for v in self.dlq.versions() if since < v <= until
        ):
            return None
        return self.process_batch(
            self.dlq.changes(since, until).where(F.col("attempt") == 1), attempt=2
        )

    # ---------------------------------------------------------------- stream
    def run_stream(self, input_dir: str, checkpoint_dir: str) -> None:
        """Structured Streaming replay of a parquet event directory:
        readStream → foreachBatch(process_batch), availableNow (drain all)."""
        stream = self.spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir)

        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, _bid: self.process_batch(bdf) and None
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
