"""Streaming inference pipeline (SURVEY §2.9 T1-T3, §3.3).

The load-bearing test: replaying events through the micro-batch pipeline
must converge to EXACTLY the q18 closed-form batch state — the (old+new)/2
chain is independent of batch boundaries because state lives in the
feature table between batches.
"""

from __future__ import annotations

import datetime as dt
import time
from collections import defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_test_spark.data import load_table
from feature_store_test_spark.ml import LinearScorer
from feature_store_test_spark.operators.latest import latest_per_key
from feature_store_test_spark.store import FeatureStore
from feature_store_test_spark.streaming import InferencePipeline
from feature_store_test_spark.streaming.inference import _FINAL_COLS, _fold_seed
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


def make_pipeline(spark, tmp_path, **kw) -> InferencePipeline:
    store = FeatureStore(spark, str(tmp_path / "store"))
    fg = store.create("inference_fg", FG_SCHEMA, "customer_id", "purchase_timestamp")
    return InferencePipeline(
        spark=spark, feature_group=fg, scorer=SCORER, dlq_path=str(tmp_path / "dlq"), **kw
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
    version = strict_pipe.feature_group.table.latest_version()
    log = strict_pipe.process_batch(stale).collect()
    assert log[0].applied is False  # scored but not applied
    assert strict_pipe.feature_group.table.latest_version() == version  # nothing to commit
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
    spanning many Arrow batches, tied timestamps (event_id breaks the tie,
    a NULL event_id sorting after a real one), keys with no stored state,
    and events older than the stored state."""
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
    # key 6's last event in fold order has no event_id: the latest row is
    # its tie with a real one (NULL lowest), not the last row folded
    events += [(None, 6, t0, 2.0), (eid, 6, t0, 3.0), (eid + 1, 6, t0 - dt.timedelta(hours=1), 4.0)]
    events = events[::-1]  # arrival order is not event order
    return events, seeds


def reference_fold(events, seeds, strict):
    """The fold's semantics in plain Python: each key's events in
    (purchase_timestamp, event_id) order, NULLs last, starting from its seed."""
    state = {k: (pv, ls, True, ts) for k, pv, ls, ts in seeds}
    by_key = defaultdict(list)
    for e in events:
        by_key[e[1]].append(e)
    out = {}
    for k, evs in by_key.items():
        avg_pv, avg_ls, exists, state_ts = state.get(k, (None, None, False, None))
        for eid, _, ts, v in sorted(evs, key=lambda e: (e[2], e[0] is None, e[0] or 0)):
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


def fold_seeds(spark, seeds):
    """The fixture's seeds as ``process_batch`` hands them to the fold."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    return {
        k: _fold_seed({"avg_purchase_value": pv, "avg_loyalty_score": ls, "purchase_timestamp": ts}, tz)
        for k, pv, ls, ts in seeds
    }


@pytest.mark.parametrize("strict", [False, True])
def test_fold_matches_reference_fold(spark, tmp_path, strict):
    """The per-partition fold equals the per-key reference exactly, with a
    hot key over many Arrow batches and keys spread over several input and
    shuffle partitions. Each key's final-state row holds what
    ``latest_per_key`` picks from its applied rows."""
    events, seeds = fold_fixture()
    pipe = make_pipeline(spark, tmp_path, strict_event_time=strict)
    with _confs(spark, {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }):
        batch = spark.createDataFrame(events, EVENTS).repartition(4)
        folded = pipe._fold_batch(batch, fold_seeds(spark, seeds)).localCheckpoint()
    got = folded.select(*LOG_COLS).collect()
    want = reference_fold(events, seeds, strict)
    assert len(got) == len(want) == len(events)
    for row in got:
        assert tuple(row) == want[row.event_id], row.event_id
    stale = sum(not r.applied for r in got)
    assert stale > 0 if strict else stale == 0
    assert {r.customer_id for r in got if r.was_new_key} == {4, 5, 6}

    final = folded.where("final").select("customer_id", *[f"final_{c}" for c in _FINAL_COLS])
    latest = latest_per_key(
        folded.where("applied"), "customer_id",
        [F.col("purchase_timestamp").desc(), F.col("event_id").desc()],
    ).select(
        "customer_id", "purchase_timestamp", "purchase_value",
        "avg_purchase_value_after", "avg_loyalty_score_after", "prediction",
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, latest.collect()))
    assert {r.customer_id for r in final.collect()} == ({1, 3, 4, 5, 6} if strict else set(range(1, 7)))
    # key 6: the row folded last (NULL event_id) is not its latest row
    (k6,) = folded.where("final AND customer_id = 6").collect()
    assert k6.event_id is None and k6.final_latest_purchase_value == 3.0


def test_fold_plan_is_one_map_in_pandas(spark, tmp_path, monkeypatch):
    """One MapInPandas, no grouped map, no join of any kind and exactly one
    hash exchange per fold plan, on the first batch (empty store) and a
    later one. The seeds travel in the fold's closure: no fold plan scans
    the store's files (the batches are local relations, so any FileScan
    would be the store)."""
    pipe = make_pipeline(spark, tmp_path)
    seen = []
    fold = InferencePipeline._fold_batch

    def spy(self, batch, seeds):
        seen.append((batch, seeds))
        return fold(self, batch, seeds)

    monkeypatch.setattr(InferencePipeline, "_fold_batch", spy)
    events, _ = fold_fixture()
    pipe.process_batch(spark.createDataFrame(events[:20], EVENTS))
    pipe.process_batch(spark.createDataFrame(events[20:], EVENTS))

    assert len(seen) == 2 and not seen[0][1] and seen[1][1]
    for batch, seeds in seen:
        ours = fold(pipe, batch, seeds)._jdf.queryExecution().executedPlan().toString()
        assert ours.count("MapInPandas") == 1, ours
        assert "FlatMapGroupsInPandas" not in ours, ours
        assert "Join" not in ours, ours
        assert ours.count("Exchange hashpartitioning") == 1, ours
        assert "FileScan" not in ours, ours


def test_empty_and_all_invalid_batches(spark, tmp_path):
    """A legitimately empty micro-batch, and one whose rows all fail
    validation, each return a 0-row log; only the invalid rows reach the
    DLQ, and neither batch nor the retry of the invalid rows commits to the
    feature group."""
    pipe = make_pipeline(spark, tmp_path)
    fg = pipe.feature_group
    assert pipe.process_batch(spark.createDataFrame([], EVENTS)).count() == 0
    assert pipe.dlq.read().count() == 0
    t = dt.datetime(2024, 1, 1)
    bad = [(1, None, t, 1.0), (2, 2, None, 1.0), (3, 3, t, None)]
    assert pipe.process_batch(spark.createDataFrame(bad, EVENTS)).count() == 0
    assert sorted(r.event_id for r in pipe.dlq.read().collect()) == [1, 2, 3]
    assert pipe.feature_group.online_view().count() == 0
    assert fg.table.latest_version() is None
    assert pipe.retry_dlq().count() == 0
    assert sorted(r.attempt for r in pipe.dlq.read().collect()) == [1, 1, 1, 2, 2, 2]
    assert fg.table.latest_version() is None
    assert pipe.stats()["skipped"] == 3 and pipe.stats()["commits"] == 0


def test_retry_dlq_reads_attempt_stats(spark, tmp_path, monkeypatch):
    """``retry_dlq`` decides from the DLQ log's ``attempt`` stats: a window
    of attempt-2 commits returns None without a ``process_batch``, and a
    commit without stats counts as maybe holding an attempt-1 row."""
    pipe = make_pipeline(spark, tmp_path)
    t = dt.datetime(2024, 1, 1)
    pipe.process_batch(spark.createDataFrame([(1, 1, t, None)], EVENTS))
    pipe.retry_dlq()  # attempt 2 commit; the next window holds only it
    calls = []
    monkeypatch.setattr(pipe, "process_batch", lambda b, attempt=1: calls.append(attempt))
    pipe.dlq.append(spark.createDataFrame([(2, 2, t, None, 2, "x")], pipe.dlq.schema))
    assert pipe.retry_dlq() is None and calls == []
    v = pipe.dlq.append(spark.createDataFrame([(3, 3, t, None, 2, "x")], pipe.dlq.schema))
    commit = pipe.dlq._load_commit(v)
    del commit["files"]  # as a log written before per-file stats
    pipe.dlq._rewrite_commit(commit)
    pipe.retry_dlq()
    assert calls == [2]


def test_strict_set_after_construction_rebuilds_the_seed(spark, tmp_path, monkeypatch):
    """A pipeline built in parity mode and then set to strict seeds its
    next batch in strict order: after an outside writer commits an older
    event time for key 1, that batch's seeds and log equal those of a
    pipeline built strict."""
    t = dt.datetime(2024, 1, 1)
    seen = []
    fold = InferencePipeline._fold_batch

    def spy(self, batch, seeds):
        seen.append(seeds)
        return fold(self, batch, seeds)

    monkeypatch.setattr(InferencePipeline, "_fold_batch", spy)

    def run(name, strict_at_build):
        pipe = make_pipeline(spark, tmp_path / name, strict_event_time=strict_at_build)
        pipe.process_batch(spark.createDataFrame([(1, 1, t + dt.timedelta(hours=5), 10.0)], EVENTS))
        pipe.strict_event_time = True
        older = spark.createDataFrame(
            [(1, t + dt.timedelta(hours=1), 99.0)],
            "customer_id long, purchase_timestamp timestamp, purchase_value double",
        )
        pipe.feature_group.upsert(older, {"purchase_value": "purchase_value"})
        log = pipe.process_batch(spark.createDataFrame([(2, 1, t + dt.timedelta(hours=6), 20.0)], EVENTS))
        return seen[-1], sorted(map(tuple, log.collect()))

    toggled, built = run("toggled", False), run("built", True)
    assert toggled == built
    # the strict seed is the stored hour-5 state, not the newer commit's hour-1 row
    assert toggled[0][1][0] == 10.0


def test_stats_count_one_replay(spark, sf_dir, tmp_path):
    """``stats()`` over a two-batch replay with injected invalid rows and
    its retry: the DLQ count equals the injected rows, keys split into seed
    hits and misses by whether an earlier batch stored them."""
    pipe = make_pipeline(spark, tmp_path)
    ev = events_as_purchases(spark, sf_dir)
    cut = "2024-01-16"
    t = dt.datetime(2024, 1, 1)
    bad = spark.createDataFrame([(-1, 1, t, None), (-2, None, t, 1.0), (-3, 3, None, 1.0)], EVENTS)
    b1 = ev.where(F.col("purchase_timestamp") < cut).unionByName(bad)
    b2 = ev.where(F.col("purchase_timestamp") >= cut).unionByName(bad.limit(2))
    k1, k2 = (
        {r[0] for r in b.where(pipe.valid_predicate).select("customer_id").distinct().collect()}
        for b in (b1, b2)
    )
    n1, n2 = b1.count(), b2.count()
    for b in (b1, b2):
        pipe.process_batch(b)
    assert pipe.stats() == {
        "batches": 2, "rows": n1 + n2, "dlq_rows": 5, "valid_keys": len(k1) + len(k2),
        "seed_hits": len(k1 & k2), "seed_misses": len(k1) + len(k2 - k1),
        "commits": 2, "skipped": 0,
    }
    assert pipe.dlq.read().count() == 5
    pipe.retry_dlq()
    s = pipe.stats()
    assert (s["batches"], s["rows"], s["dlq_rows"], s["commits"], s["skipped"]) == (3, n1 + n2 + 5, 10, 2, 1)


@pytest.mark.parametrize("tz", ["Asia/Tokyo", "America/Los_Angeles"])
def test_strict_seed_event_time_in_any_process_time_zone(spark, tmp_path, monkeypatch, tz):
    """The seed's stored event time is read in this process, where it comes
    back as a naive local time; the session's time zone is UTC. In either
    process time zone, key 1's event an hour older than its stored state is
    scored but not applied, and key 2's event an hour newer is applied. A
    naive seed would move by the process zone's offset: later in Tokyo
    (key 2's update dropped), earlier in Los Angeles (key 1's applied)."""
    t0 = dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc)
    hour = dt.timedelta(hours=1)
    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        pipe = make_pipeline(spark, tmp_path, strict_event_time=True)
        pipe.process_batch(spark.createDataFrame([(1, 1, t0, 100.0), (2, 2, t0, 100.0)], EVENTS))
        later = [(3, 1, t0 - hour, 10.0), (4, 2, t0 + hour, 10.0)]
        log = pipe.process_batch(spark.createDataFrame(later, EVENTS)).collect()
        assert {r.customer_id: r.applied for r in log} == {1: False, 2: True}
        view = pipe.feature_group.online_view(strict_event_time=True).collect()
        assert {r.customer_id: r.avg_purchase_value for r in view} == {1: 100.0, 2: 55.0}
    finally:
        monkeypatch.undo()
        time.tzset()


@pytest.mark.parametrize("between", ["upsert", "compact"])
def test_other_commits_between_batches(spark, tmp_path, between):
    """A commit made outside the pipeline between two batches reaches the
    second batch's seed: an upsert (the session folds the new commit in) or
    a compaction (the session reads the whole snapshot again). The second
    batch's log and the online view equal those of a pipeline built after
    that commit."""
    t = dt.datetime(2024, 1, 1)

    def at(h):
        return t + dt.timedelta(hours=h)

    first = [(1, 1, at(1), 10.0), (2, 2, at(1), 20.0), (3, 2, at(2), 30.0), (4, 3, at(1), 5.0)]
    second = [(5, 1, at(5), 40.0), (6, 2, at(5), 8.0), (7, 7, at(5), 3.0), (8, 8, at(5), 1.0)]
    upsert = [(2, at(3), 100.0), (7, at(3), 70.0)]

    def run(name, rebuild):
        pipe = make_pipeline(spark, tmp_path / name)
        fg = pipe.feature_group
        for b in (first[:2], first[2:]):  # the second's refresh reads the first's commit
            pipe.process_batch(spark.createDataFrame(b, EVENTS))
        if between == "upsert":
            updates = spark.createDataFrame(
                upsert, "customer_id long, purchase_timestamp timestamp, purchase_value double"
            )
            fg.upsert(updates, {"purchase_value": "purchase_value"})
        else:
            fg.table.compact(cluster_by=["customer_id"])
        if rebuild:
            pipe = InferencePipeline(
                spark=spark, feature_group=fg, scorer=SCORER, dlq_path=str(tmp_path / name / "dlq")
            )
        before = pipe._online.stats()
        log = pipe.process_batch(spark.createDataFrame(second, EVENTS))
        mode = "full" if between == "compact" else "delta"
        assert rebuild or pipe._online.stats()[mode] == before[mode] + 1
        return sorted(map(tuple, log.collect())), sorted(map(tuple, fg.online_view().collect()))

    kept_log, kept_view = run("kept", rebuild=False)
    fresh_log, fresh_view = run("fresh", rebuild=True)
    assert kept_log == fresh_log and kept_view == fresh_view
    assert [r[0] for r in kept_view] == [1, 2, 3, 7, 8]
    # key 7 is stored by the upsert before its first event reaches the pipeline
    assert {r[1]: r[-2] for r in kept_log}[7] == (between == "compact")
