"""Streaming inference pipeline (SURVEY §2.9 T1-T3, §3.3).

The load-bearing test: replaying events through the micro-batch pipeline
must converge to EXACTLY the q18 closed-form batch state — the (old+new)/2
chain is independent of batch boundaries because state lives in the
feature table between batches.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_test_spark.data import load_table
from feature_store_test_spark.ml import LinearScorer
from feature_store_test_spark.store import FeatureStore
from feature_store_test_spark.streaming import InferencePipeline
from tests.test_scale import _confs
from tests.test_store import FG_SCHEMA

SCORER = LinearScorer(
    feature_cols=["latest_purchase_value", "avg_purchase_value", "avg_loyalty_score"],
    weights=[0.01, 0.02, 0.5],
    intercept=1.0,
)


def events_as_purchases(spark, sf_dir):
    return load_table(spark, "events", sf_dir).select(
        "event_id",
        F.col("user_id").alias("customer_id"),
        F.col("ts").alias("purchase_timestamp"),
        F.col("value").alias("purchase_value"),
    )


def make_pipeline(spark, tmp_path) -> InferencePipeline:
    store = FeatureStore(spark, str(tmp_path / "store"))
    fg = store.create("inference_fg", FG_SCHEMA, "customer_id", "purchase_timestamp")
    return InferencePipeline(
        spark=spark, feature_group=fg, scorer=SCORER, dlq_path=str(tmp_path / "dlq")
    )


def closed_form_state(spark, sf_dir):
    """q18's (old+new)/2 fold, restricted to purchase_value, per customer."""
    from feature_store_test_spark.queries.feature_parity import q18_incremental_avg

    return {r.user_id: (r.n_events, r.inc_avg_value) for r in q18_incremental_avg(spark, sf_dir).collect()}


def test_multi_batch_replay_matches_closed_form(spark, sf_dir, tmp_path):
    pipe = make_pipeline(spark, tmp_path)
    ev = events_as_purchases(spark, sf_dir)
    # three micro-batches split by time — state must chain across them
    cuts = ["2024-01-11", "2024-01-21"]
    b1 = ev.where(F.col("purchase_timestamp") < cuts[0])
    b2 = ev.where(
        (F.col("purchase_timestamp") >= cuts[0]) & (F.col("purchase_timestamp") < cuts[1])
    )
    b3 = ev.where(F.col("purchase_timestamp") >= cuts[1])
    assert b1.count() > 0 and b2.count() > 0 and b3.count() > 0
    for b in (b1, b2, b3):
        pipe.process_batch(b)

    got = {
        r.customer_id: r.avg_purchase_value
        for r in pipe.feature_group.online_view().collect()
    }
    want = closed_form_state(spark, sf_dir)
    assert set(got) == set(want)
    for cid, (_n, inc_avg) in want.items():
        assert got[cid] == pytest.approx(inc_avg, abs=1e-6), cid


def test_predictions_logged_per_event(spark, sf_dir, tmp_path):
    pipe = make_pipeline(spark, tmp_path)
    ev = events_as_purchases(spark, sf_dir)
    log = pipe.process_batch(ev)
    n = ev.count()
    assert log.count() == n
    # spot-check one first-event prediction: miss defaults (avg_pv=v, als=0)
    first = (
        log.orderBy("purchase_timestamp", "event_id").limit(1).collect()[0]
    )
    assert first.was_new_key
    v = first.purchase_value
    assert first.prediction == pytest.approx(1.0 + 0.01 * v + 0.02 * v + 0.5 * 0.0)


def test_dlq_and_single_retry(spark, tmp_path):
    import datetime as dt

    pipe = make_pipeline(spark, tmp_path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("customer_id", T.LongType()),
            T.StructField("purchase_timestamp", T.TimestampType()),
            T.StructField("purchase_value", T.DoubleType()),
        ]
    )
    good = (1, 1, dt.datetime(2024, 1, 1), 10.0)
    bad = (2, 2, dt.datetime(2024, 1, 1), None)  # null value → DLQ
    pipe.process_batch(spark.createDataFrame([good, bad], schema))
    dlq1 = pipe.dlq.read().collect()
    assert len(dlq1) == 1 and dlq1[0].event_id == 2 and dlq1[0].attempt == 1
    # retry: still invalid → stays failed at attempt 2 (log-only, T3)
    pipe.retry_dlq()
    attempts = sorted(r.attempt for r in pipe.dlq.read().collect())
    assert attempts == [1, 2]
    # a second pass finds no new attempt-1 rows: each row retries once
    assert pipe.retry_dlq() is None
    assert sorted(r.attempt for r in pipe.dlq.read().collect()) == [1, 2]
    # good row was processed despite the bad one
    assert pipe.feature_group.exists(1)
    assert not pipe.feature_group.exists(2)


def test_structured_streaming_file_replay(spark, sf_dir, tmp_path):
    """The real readStream → foreachBatch path (availableNow drain)."""
    pipe = make_pipeline(spark, tmp_path)
    ev = events_as_purchases(spark, sf_dir)
    src = str(tmp_path / "stream_src")
    ev.coalesce(1).write.parquet(src)
    pipe.run_stream(src, checkpoint_dir=str(tmp_path / "ckpt"))
    got = {
        r.customer_id: r.avg_purchase_value
        for r in pipe.feature_group.online_view().collect()
    }
    want = closed_form_state(spark, sf_dir)
    assert set(got) == set(want)
    for cid, (_n, inc_avg) in want.items():
        assert got[cid] == pytest.approx(inc_avg, abs=1e-6)


def test_strict_mode_drops_stale_updates_parity_applies_them(spark, tmp_path):
    """§2.13 Q5 / T5: a re-delivered old event must not overwrite newer
    state in strict mode, but must in parity (reference-faithful) mode."""
    import datetime as dt

    schema = (
        "event_id long, customer_id long, "
        "purchase_timestamp timestamp, purchase_value double"
    )
    fresh = spark.createDataFrame([(1, 1, dt.datetime(2024, 1, 10), 100.0)], schema)
    stale = spark.createDataFrame([(2, 1, dt.datetime(2024, 1, 5), 10.0)], schema)

    strict_pipe = make_pipeline(spark, tmp_path / "strict")
    strict_pipe.strict_event_time = True
    strict_pipe.process_batch(fresh)
    log = strict_pipe.process_batch(stale).collect()
    assert log[0].applied is False  # scored but not applied
    rec = strict_pipe.feature_group.online_view(strict_event_time=True).collect()[0]
    assert rec.latest_purchase_value == 100.0
    assert rec.avg_purchase_value == 100.0  # untouched by the stale event

    parity_pipe = make_pipeline(spark, tmp_path / "parity")
    parity_pipe.process_batch(fresh)
    parity_pipe.process_batch(stale)
    rec = parity_pipe.feature_group.online_view().collect()[0]
    assert rec.latest_purchase_value == 10.0  # arrival order wins
    assert rec.avg_purchase_value == (100.0 + 10.0) / 2


EVENTS = (
    "event_id long, customer_id long, "
    "purchase_timestamp timestamp, purchase_value double"
)
LOG_COLS = [
    "event_id", "customer_id", "purchase_timestamp", "purchase_value",
    "latest_purchase_value", "avg_purchase_value", "avg_loyalty_score",
    "prediction", "avg_purchase_value_after", "avg_loyalty_score_after",
    "was_new_key", "applied",
]


def fold_fixture():
    """Events and per-key seeds covering the fold's edge cases: a hot key
    spanning many Arrow batches, tied timestamps (event_id breaks the tie),
    keys with no stored state, and events older than the stored state."""
    t0 = dt.datetime(2024, 1, 10)
    seeds = [  # customer_id, avg_pv, avg_ls, event time of the stored state
        (1, 50.0, 3.0, t0),
        (2, 7.5, 1.25, t0 + dt.timedelta(days=2)),
        (3, 20.0, 0.5, t0 - dt.timedelta(days=1)),
    ]
    events, eid = [], 100
    for k, n in ((1, 29), (2, 5), (3, 4), (4, 6), (5, 1)):
        for j in range(n):
            # four event times, each repeated (event_id breaks the tie); vs
            # the stored state, key 1 has late events, all of key 2's are late
            ts = t0 + dt.timedelta(hours=(j % 4) * 7 - 10)
            events.append((eid, k, ts, 1.5 * j + k))
            eid += 1
    events = events[::-1]  # arrival order is not event order
    return events, seeds


def reference_fold(events, seeds, strict):
    """The fold's semantics in plain Python: each key's events in
    (purchase_timestamp, event_id) order, starting from its seed."""
    state = {k: (pv, ls, True, ts) for k, pv, ls, ts in seeds}
    by_key = defaultdict(list)
    for e in events:
        by_key[e[1]].append(e)
    out = {}
    for k, evs in by_key.items():
        avg_pv, avg_ls, exists, state_ts = state.get(k, (None, None, False, None))
        for eid, _, ts, v in sorted(evs, key=lambda e: (e[2], e[0])):
            feat_pv, feat_ls = (avg_pv, avg_ls) if exists else (v, 0.0)
            pred = SCORER.predict_row({
                "latest_purchase_value": v,
                "avg_purchase_value": feat_pv,
                "avg_loyalty_score": feat_ls,
            })
            stale = strict and exists and ts < state_ts
            if stale:
                new_pv, new_ls = avg_pv, avg_ls
            elif not exists:
                new_pv, new_ls = v, pred
            else:
                new_pv, new_ls = (avg_pv + v) / 2.0, (avg_ls + pred) / 2.0
            out[eid] = (eid, k, ts, v, v, feat_pv, feat_ls, pred,
                        new_pv, new_ls, not exists, not stale)
            if not stale:
                avg_pv, avg_ls, exists, state_ts = new_pv, new_ls, True, ts
    return out


@pytest.mark.parametrize("strict", [False, True])
def test_fold_matches_reference_fold(spark, tmp_path, strict):
    """The per-partition fold equals the per-key reference exactly, with a
    hot key over many Arrow batches and keys spread over several input
    partitions. The seed join is planned as a sort-merge join that AQE
    turns into a broadcast at run time, the case where a local shuffle
    read would split a key's events across tasks."""
    events, seeds = fold_fixture()
    pipe = make_pipeline(spark, tmp_path)
    pipe.strict_event_time = strict
    seed_df = spark.createDataFrame(
        seeds, "customer_id long, seed_avg_pv double, seed_avg_ls double, seed_ts timestamp"
    ).withColumn("seed_exists", F.lit(True))
    with _confs(spark, {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }):
        seeded = (
            spark.createDataFrame(events, EVENTS).repartition(4)
            .join(seed_df, on="customer_id", how="left")
            .withColumn("seed_exists", F.coalesce("seed_exists", F.lit(False)))
        )
        folded = pipe._fold_batch(seeded).select(*LOG_COLS)
        got = folded.collect()
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" in plan, plan
    want = reference_fold(events, seeds, strict)
    assert len(got) == len(want) == len(events)
    for row in got:
        assert tuple(row) == want[row.event_id], row.event_id
    stale = sum(not r.applied for r in got)
    assert stale > 0 if strict else stale == 0
    assert {r.customer_id for r in got if r.was_new_key} == {4, 5}


def test_fold_plan_is_one_map_in_pandas(spark, tmp_path, monkeypatch):
    """One MapInPandas, no grouped map, and no more hash exchanges than the
    grouped map needed on the same input — for the sort-merge seed join
    (first batch, empty store) and the broadcast one (later batches)."""
    pipe = make_pipeline(spark, tmp_path)
    seen = []
    fold = InferencePipeline._fold_batch

    def spy(self, seeded):
        seen.append(seeded)
        return fold(self, seeded)

    monkeypatch.setattr(InferencePipeline, "_fold_batch", spy)
    events, _ = fold_fixture()
    pipe.process_batch(spark.createDataFrame(events[:20], EVENTS))
    pipe.process_batch(spark.createDataFrame(events[20:], EVENTS))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    joins = set()
    for seeded in seen:
        ours = plan(fold(pipe, seeded))
        grouped = plan(seeded.groupBy("customer_id").applyInPandas(lambda p: p, seeded.schema))
        assert ours.count("MapInPandas") == 1, ours
        assert "FlatMapGroupsInPandas" not in ours, ours
        exchanges = ours.count("Exchange hashpartitioning")
        assert exchanges <= grouped.count("Exchange hashpartitioning"), ours
        joins |= {j for j in ("SortMergeJoin", "BroadcastHashJoin") if j in ours}
    assert joins == {"SortMergeJoin", "BroadcastHashJoin"}


def test_empty_and_all_invalid_batches(spark, tmp_path):
    """A legitimately empty micro-batch, and one whose rows all fail
    validation, each return a 0-row log; only the invalid rows reach the
    DLQ."""
    pipe = make_pipeline(spark, tmp_path)
    assert pipe.process_batch(spark.createDataFrame([], EVENTS)).count() == 0
    assert pipe.dlq.read().count() == 0
    t = dt.datetime(2024, 1, 1)
    bad = [(1, None, t, 1.0), (2, 2, None, 1.0), (3, 3, t, None)]
    assert pipe.process_batch(spark.createDataFrame(bad, EVENTS)).count() == 0
    assert sorted(r.event_id for r in pipe.dlq.read().collect()) == [1, 2, 3]
    assert pipe.feature_group.online_view().count() == 0
