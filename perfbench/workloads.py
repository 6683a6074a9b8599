"""The benchmark's workloads, driven through the engine's public API.

A run does a fixed amount of work, ``CYCLES[workload]`` cycles, that never
depends on measured speed or on ``--seconds``, so two commits do the same
work and every cycle sees the same store history. Each cycle runs from one
client thread, as a closed loop:

- ``batch_backfill``: into an empty feature group, each daily slice goes
  through the registry query ``q16_engineer_features`` (the reference's
  ``engineer_features`` over the ``events`` layout) and one
  ``FeatureGroup.ingest`` commit. A ``ServingSession`` then snapshots the
  multi-commit history, the 64-key ``get_records`` requests and a few
  ``get_latest`` point reads follow, and the cycle ends with
  ``training_dataset`` -> ``ml.train_model`` -> ``save_model`` ->
  ``load_model`` -> ``to_linear_scorer``. The streaming layer stays idle.
- ``stream_upsert_serve``: over a shallow clone of a pre-seeded feature
  group (one commit of engineered history) and a trained model, each cycle
  sends one micro-batch file through ``InferencePipeline.process_batch``,
  refreshes the ``ServingSession``, then issues the same reads. The run
  ends with one ``retry_dlq``. Engineering and training stay idle.

``--seconds`` is a guard only: if the timed window overruns ``GUARD`` times
``--seconds``, the cycles not yet started are skipped and counted as failed,
so a run always ends. Every operation is checked after the window closes
(checks are not timed); an exception or a failed check counts the operation
as failed.
"""

from __future__ import annotations

import functools
import gc
import hashlib
import math
import os
import shutil
import time

import numpy as np

from perfbench import host, inputs

FG_NAME = "customer_features"
# cycles per run: a backfill cycle takes ~22 s and a micro-batch cycle ~12 s
# of wall time on a 4-core host, so either run's window is 20-30 s
CYCLES = {"batch_backfill": 1, "stream_upsert_serve": inputs.MICROBATCHES}
GUARD = 3.0
BACKFILL_POINT_READS = 5
STREAM_POINT_READS = 5
CHECK_KEYS = 500
ABS_TOL = 1e-9


class Recorder:
    """Timing samples and the attempted/failed operation tally."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.events = 0

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)


def fg_schema():
    from feature_store_test_spark.workflow import FG_SCHEMA

    return FG_SCHEMA


def _create_group(spark, root: str):
    from feature_store_test_spark.store import FeatureStore

    return FeatureStore(spark, root).create(
        FG_NAME, fg_schema(), "customer_id", "purchase_timestamp"
    )


def _spread(keys: list[int], n: int) -> list[int]:
    """``n`` keys evenly spaced through ``keys``."""
    return [int(k) for k in keys[:: max(1, len(keys) // n)][:n]]


def _close(a, b) -> bool:
    return a is not None and b is not None and abs(a - b) <= ABS_TOL * max(1.0, abs(b))


def _committed_rows(fg, version: int) -> int:
    files = fg.table._load_commit(version).get("files") or []
    return sum(f.get("rows") or 0 for f in files)


def _train(spark, fg, model_dir: str):
    """training_dataset -> train -> save -> load -> scorer; returns both
    the fitted model and the scorer from the reloaded model."""
    from feature_store_test_spark import ml

    model = ml.train_model(fg.training_dataset())
    ml.save_model(model, model_dir)
    scorer = ml.to_linear_scorer(ml.load_model(spark, model_dir))
    return model, scorer


def settle(limit_s: float = 2.0, idle_cores: float = 0.3) -> float:
    """Wait (untimed) until the background work a finished Spark job
    leaves behind (JVM GC, cleanup) has died down, so serving latencies
    measure the lookups rather than that tail; returns the time waited."""
    t0 = time.perf_counter()
    gc.collect()
    cpu = host.tree_cpu_s()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(0.1)
        now = host.tree_cpu_s()
        if now - cpu < 0.1 * idle_cores:
            break
        cpu = now
    return time.perf_counter() - t0


def _reads(sv, fg, key_rows, point_keys, rec: Recorder):
    """The serving requests and point reads of one cycle. Each request's
    answer is checked as soon as it is timed and then dropped, as a real
    client would, so retained answers do not inflate the client's heap.
    Returns the point reads for the checks and the untimed settle time."""
    settle_s = settle()
    for keys in key_rows:
        ks = [int(k) for k in keys]
        t = time.perf_counter()
        out = sv.get_records(ks)
        rec.add("serve_read_s", time.perf_counter() - t)
        rec.op(
            len(out) == len(set(ks))
            and all((out[k] is None) == (k >= inputs.ABSENT_KEY_BASE) for k in ks),
            "get_records: hit/miss does not match the stored key set",
        )
    points = []
    for k in point_keys:
        t, c = time.perf_counter(), host.tree_cpu_s()
        points.append((k, fg.get_latest(k)))
        rec.add("point_read_s", time.perf_counter() - t)
        rec.add("point_read_cpu_s", host.tree_cpu_s() - c)
    return points, settle_s


def _overran(started: float, seconds: float, left: int, rec: Recorder) -> bool:
    """The guard: past GUARD x --seconds, count the cycles left as failed."""
    if time.perf_counter() - started <= GUARD * seconds:
        return False
    for _ in range(left):
        rec.op(False, f"cycle skipped: timed window passed {GUARD:g} x --seconds")
    return True


def warm_up(spark, work: str, run_dir: str, workload: str) -> None:
    """A small pass over the calls the workload makes, so JIT, Python
    workers and lazy imports are paid in set-up. ``retry_dlq`` is left
    out: it is ``process_batch`` again over a DLQ read."""
    from feature_store_test_spark import registry
    from feature_store_test_spark.store.serving import ServingSession
    from feature_store_test_spark.streaming import InferencePipeline

    wdir = os.path.join(run_dir, "warm")
    root, meta = inputs.warm(work)
    if workload == "batch_backfill":
        q16 = registry.all_queries()["q16_engineer_features"]
        fg = _create_group(spark, os.path.join(wdir, "store"))
        for day in meta["history"]["days"]:
            fg.ingest(q16.fn(spark, os.path.join(root, "history", day["dir"])))
        keys = meta["history"]["last_day"]["keys"][:BACKFILL_POINT_READS]
        ServingSession(fg).get_records(keys)
        for k in keys:
            fg.get_latest(k)
        _train(spark, fg, os.path.join(wdir, "model"))
        return
    fixture_dir, _ = fixture(spark, work)
    fg = _create_group(spark, os.path.join(wdir, "store"))
    scorer = _fixture_scorer(spark, fixture_dir)
    pipe = InferencePipeline(
        spark=spark, feature_group=fg, scorer=scorer, dlq_path=os.path.join(wdir, "dlq")
    )
    sv = ServingSession(fg)
    mb = meta["stream"][0]
    pipe.process_batch(spark.read.parquet(os.path.join(root, "stream", mb["file"]))).count()
    sv.refresh()
    keys = mb["latest"]["keys"][:5]
    sv.get_records(keys)
    fg.get_latest(keys[0])


# ---------------------------------------------------------------------------
def batch_backfill(spark, work: str, run_dir: str, seed: int, seconds: float,
                   rec: Recorder, window) -> None:
    from feature_store_test_spark import registry
    from feature_store_test_spark.store.serving import ServingSession

    q16 = registry.all_queries()["q16_engineer_features"]
    root, hist = inputs.history(work, seed)
    days = hist["days"]
    day_events = sum(d["events"] for d in days)
    last = hist["last_day"]
    expect = dict(zip(last["keys"], zip(last["value"], last["loyalty"])))
    present = np.asarray(hist["present_keys"], dtype=np.int64)
    key_rows = inputs.read_keys(seed, present, inputs.REQUESTS_PER_CYCLE)
    point_keys = _spread(last["keys"], BACKFILL_POINT_READS)
    check_keys = _spread(last["keys"], CHECK_KEYS)
    n = CYCLES["batch_backfill"]

    pending = []  # (fg, versions, points, served, model, scorer)
    window.start()
    started = time.perf_counter()
    for cycle in range(n):
        if _overran(started, seconds, n - cycle, rec):
            break
        rdir = os.path.join(run_dir, "backfill", f"cycle_{cycle}")
        fg = _create_group(spark, os.path.join(rdir, "store"))
        t_cycle, c_cycle = time.perf_counter(), host.tree_cpu_s()
        versions = []
        for day in days:
            t, c = time.perf_counter(), host.tree_cpu_s()
            versions.append(fg.ingest(q16.fn(spark, os.path.join(root, day["dir"]))))
            rec.add("commit_s", time.perf_counter() - t)
            rec.add("commit_cpu_s", host.tree_cpu_s() - c)
        t_written = time.perf_counter()
        sv = ServingSession(fg)
        t_visible = time.perf_counter()
        rec.add("freshness_cpu_s", host.tree_cpu_s() - c_cycle)
        points, settle_s = _reads(sv, fg, key_rows, point_keys, rec)
        t = time.perf_counter()
        model, scorer = _train(spark, fg, os.path.join(rdir, "model"))
        t_end = time.perf_counter()
        rec.add("train_s", t_end - t)
        rec.add("freshness_s", t_visible - t_cycle)
        rec.add("write_s", t_written - t_cycle)
        rec.add("cycle_s", t_end - t_cycle - settle_s)
        rec.events += day_events
        served = {k: sv.get_record(k) for k in check_keys}
        pending.append((fg, versions, points, served, model, scorer))
    window.stop()

    # -- checks (outside the timed window) ---------------------------------
    expected_rows = sum(d["distinct_keys"] for d in days)
    for fg, versions, points, served, model, scorer in pending:
        for i, (day, v) in enumerate(zip(days, versions)):
            rec.op(v == i + 1 and _committed_rows(fg, v) == day["distinct_keys"],
                   f"ingest {day['dir']}: committed rows != distinct keys of the day")
        rec.op(len(served) == len(check_keys) and all(
            r is not None and _close(r["latest_purchase_value"], expect[k][0])
            and _close(r["latest_loyalty_score"], expect[k][1])
            for k, r in served.items()
        ), "serving snapshot: last day's values not visible")
        for k, got in points:
            rec.op(got is not None and _close(got["latest_purchase_value"], expect[k][0]),
                   f"get_latest({k}): not the last day's value")
        lr = model.stages[-1]
        coefs = [*scorer.weights, scorer.intercept]
        rec.op(
            lr.summary.numInstances == expected_rows
            and all(math.isfinite(c) for c in coefs)
            and list(lr.coefficients) == scorer.weights
            and lr.intercept == scorer.intercept,
            "training: row count, finite coefficients or reload mismatch",
        )


# ---------------------------------------------------------------------------
def _engine_digest() -> str:
    """Hash of the engine package's sources: the stream fixture is keyed on
    it, so a checkout never reads a fixture another engine version wrote."""
    from feature_store_test_spark import __file__ as pkg_init

    pkg = os.path.dirname(pkg_init)
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def fixture(spark, work: str) -> tuple[str, dict]:
    """Pre-seeded feature group (one ingest of the engineered history of
    FIXTURE_SEED) and a model trained on it. Built once per engine version
    (see ``_engine_digest``), in set-up."""
    from feature_store_test_spark import engineering
    from feature_store_test_spark.queries.feature_parity import purchases_from_events

    hist_dir, hist = inputs.history(work, inputs.FIXTURE_SEED)
    fdir = os.path.join(work, "fixture-" + _engine_digest())
    done = os.path.join(fdir, "done")
    if os.path.exists(done):
        return fdir, hist
    shutil.rmtree(fdir, ignore_errors=True)
    fg = _create_group(spark, os.path.join(fdir, "store"))
    # a directory of the daily slices reads as one events table
    all_days = os.path.join(fdir, "all_days", "events.parquet")
    os.makedirs(all_days)
    for day in hist["days"]:
        os.link(os.path.join(hist_dir, day["dir"], "events.parquet"),
                os.path.join(all_days, f"{day['dir']}.parquet"))
    purchases = purchases_from_events(spark, os.path.dirname(all_days))
    fg.ingest(
        engineering.engineer_features(
            purchases, key="customer_id", event_time="purchase_timestamp",
            value_cols=["purchase_value", "loyalty_score"], tiebreak="event_id",
        ).select(*fg_schema().fieldNames())
    )
    _train(spark, fg, os.path.join(fdir, "model"))
    open(done, "w").close()
    return fdir, hist


@functools.lru_cache(maxsize=None)
def _fixture_scorer(spark, fixture_dir: str):
    """The fixture's model as a scorer, loaded once per process: warm-up and
    the run share it."""
    from feature_store_test_spark import ml

    return ml.to_linear_scorer(ml.load_model(spark, os.path.join(fixture_dir, "model")))


def _shallow_clone(fixture_dir: str, dest: str) -> str:
    """Copy the fixture table's commit log only: its commits keep pointing
    at the fixture's immutable data files (a shallow clone), new commits
    land under ``dest``."""
    shutil.rmtree(dest, ignore_errors=True)
    src = os.path.join(fixture_dir, "store", FG_NAME)
    shutil.copytree(os.path.join(src, "_commits"), os.path.join(dest, "store", FG_NAME, "_commits"))
    return os.path.join(dest, "store")


def stream_upsert_serve(spark, work: str, run_dir: str, seed: int, seconds: float,
                        rec: Recorder, window) -> None:
    from feature_store_test_spark.store.serving import ServingSession
    from feature_store_test_spark.streaming import InferencePipeline

    fixture_dir, hist = fixture(spark, work)
    root, smeta = inputs.stream(work, seed, hist["end_us"])
    batches = smeta["batches"]
    n = len(batches)
    rdir = os.path.join(run_dir, "stream")
    fg = _create_group(spark, _shallow_clone(fixture_dir, rdir))
    scorer = _fixture_scorer(spark, fixture_dir)
    pipe = InferencePipeline(
        spark=spark, feature_group=fg, scorer=scorer, dlq_path=os.path.join(rdir, "dlq")
    )
    sv = ServingSession(fg)
    present = np.asarray(hist["present_keys"], dtype=np.int64)
    per = inputs.REQUESTS_PER_CYCLE
    key_rows = inputs.read_keys(seed, present, per * n)

    pending = []  # (batch meta, log, log rows, served, points)
    window.start()
    started = time.perf_counter()
    replay_s = 0.0
    for i, b in enumerate(batches):
        if _overran(started, seconds, n - i, rec):
            break
        t0, c0 = time.perf_counter(), host.tree_cpu_s()
        log = pipe.process_batch(spark.read.parquet(os.path.join(root, b["file"])))
        n_log = log.count()
        t1, c1 = time.perf_counter(), host.tree_cpu_s()
        sv.refresh()
        t2, c2 = time.perf_counter(), host.tree_cpu_s()
        served = {k: sv.get_record(k) for k in b["latest"]["keys"]}
        t3 = time.perf_counter()
        points, settle_s = _reads(sv, fg, key_rows[i * per:(i + 1) * per],
                                  _spread(b["latest"]["keys"], STREAM_POINT_READS), rec)
        t4 = time.perf_counter()
        rec.add("commit_s", t1 - t0)
        rec.add("commit_cpu_s", c1 - c0)
        rec.add("freshness_s", t2 - t0)
        rec.add("freshness_cpu_s", c2 - c0)
        rec.add("cycle_s", (t4 - t0) - (t3 - t2) - settle_s)
        replay_s += t2 - t0
        rec.events += b["events"]
        pending.append((b, log, n_log, served, points))
    t = time.perf_counter()
    pipe.retry_dlq()
    rec.add("retry_dlq_s", time.perf_counter() - t)
    window.stop()
    rec.add("write_s", replay_s)

    # -- checks (outside the timed window) ---------------------------------
    for b, log, n_log, served, points in pending:
        rec.op(n_log == b["valid"], f"{b['file']}: prediction log rows != valid events")
        pred = {r[0]: r[1] for r in log.select("event_id", "prediction").collect()}
        latest = b["latest"]
        want = dict(zip(latest["keys"], zip(latest["value"], latest["event_id"])))
        rec.op(all(
            served[k] is not None
            and _close(served[k]["latest_purchase_value"], v)
            and _close(served[k]["latest_loyalty_score"], pred.get(eid))
            for k, (v, eid) in want.items()
        ), f"{b['file']}: served record is not the key's latest event and prediction")
        for k, got in points:
            rec.op(got is not None and _close(got["latest_purchase_value"], want[k][0]),
                   f"get_latest({k}): not the batch's latest value")
    invalid = sum(b["invalid"] for b, *_ in pending)
    by_attempt = {r[0]: r[1] for r in pipe.dlq.read().groupBy("attempt").count().collect()}
    rec.op(by_attempt == {1: invalid, 2: invalid},
           f"DLQ rows by attempt {by_attempt} != {invalid} injected per attempt")


WORKLOADS = {
    "batch_backfill": batch_backfill,
    "stream_upsert_serve": stream_upsert_serve,
}
