"""Seeded input generator for the feature-store benchmark.

Everything the program under test receives is a parquet file written here:

- ``history/day_XX/events.parquet``: a purchase history in the engine's
  ``events`` table layout (``event_id, ts, user_id, event_type, value,
  props``), one directory per day so each day is a table directory the
  registry query ``q16_engineer_features`` can read. Keys follow a Zipf
  (a=1.2) law over ``customers`` ids; values are 2-dp money amounts; the
  loyalty score travels as the integer ``k`` of the JSON ``props``.
- ``stream/mb_XX.parquet``: micro-batches in the inference pipeline's event
  layout, each with a known number of invalid rows (NULL key, value or
  timestamp) and of late, out-of-order events.
- ``warm/``: a few history days and one small micro-batch for the warm-up.

Read-key requests are drawn from ``read_keys`` with a fixed share of keys
that are never present. Inputs are cached per seed: ``meta.json`` is written
last, so a directory without it is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS = 50_000
DAYS = 12
EVENTS_PER_DAY = 100_000
# full-size days for the backfill warm-up: after two 20k-event days the
# commit CPU of the timed days still fell 4.3 -> 1.5 s over 12 days
WARM_DAYS = 2
ZIPF_A = 1.2

MICROBATCHES = 2
MICROBATCH_EVENTS = 2_000
INVALID_PER_BATCH = 10
LATE_PER_BATCH = 10
NEW_KEY_SHARE = 0.03

REQUESTS_PER_CYCLE = 4_000
KEYS_PER_REQUEST = 64
ABSENT_SHARE = 0.10
ABSENT_KEY_BASE = 10**9

DAY_US = 86_400 * 10**6
HISTORY_START_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00Z
STREAM_EVENT_ID_BASE = 10**12
# the stream workload's pre-seeded feature group is built from this seed's
# history once per checkout; its micro-batches and reads follow --seed
FIXTURE_SEED = 0

_PROPS = np.array([f'{{"k": {k}}}' for k in range(11)], dtype=object)


def _zipf_keys(rng: np.random.Generator, n: int, customers: int) -> np.ndarray:
    return ((rng.zipf(ZIPF_A, n) - 1) % customers).astype(np.int64)


def _write_day(path: str, event_ids, ts_us, keys, values, loyalty) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(keys, pa.int64()),
            "event_type": pa.array(np.full(len(keys), "purchase", dtype=object)),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(_PROPS[loyalty]),
        }
    )
    pq.write_table(table, os.path.join(path, "events.parquet"))


def _history(rng, root: str, days: int, per_day: int, customers: int) -> dict:
    """Write the daily slices; return what the checks need per day."""
    day_meta = []
    present = []
    next_id = 0
    for d in range(days):
        keys = _zipf_keys(rng, per_day, customers)
        ts = HISTORY_START_US + d * DAY_US + np.sort(rng.integers(0, DAY_US, per_day))
        values = np.round(rng.uniform(1.0, 500.0, per_day), 2)
        loyalty = rng.integers(1, 11, per_day)
        ids = np.arange(next_id, next_id + per_day, dtype=np.int64)
        next_id += per_day
        _write_day(os.path.join(root, f"day_{d:02d}"), ids, ts, keys, values, loyalty)
        # latest event per key in this day: rows are in (ts, event_id) order,
        # so the last occurrence of each key is its latest event
        last_idx = per_day - 1 - np.unique(keys[::-1], return_index=True)[1]
        present.append(keys[last_idx])
        day_meta.append(
            {"dir": f"day_{d:02d}", "events": per_day, "distinct_keys": int(len(last_idx))}
        )
    return {
        "days": day_meta,
        "end_us": int(HISTORY_START_US + days * DAY_US),
        # the last day's latest event per key is what the online view must
        # serve for that key once every day is committed
        "last_day": {
            "keys": keys[last_idx].tolist(),
            "value": values[last_idx].tolist(),
            "loyalty": loyalty[last_idx].astype(float).tolist(),
        },
        "present_keys": np.unique(np.concatenate(present)).tolist(),
    }


def _microbatches(rng, root: str, n_batches: int, size: int, customers: int,
                  history_end_us: int, id_base: int) -> list[dict]:
    """Write micro-batch files; return each batch's counts and keys."""
    os.makedirs(root, exist_ok=True)
    out = []
    for b in range(n_batches):
        keys = _zipf_keys(rng, size, customers)
        new = rng.random(size) < NEW_KEY_SHARE
        keys[new] = customers + rng.integers(0, customers // 10, int(new.sum()))
        start = history_end_us + 3_600 * 10**6 + b * 60 * 10**6
        ts = start + np.sort(rng.integers(0, 60 * 10**6, size))
        late = rng.choice(size, LATE_PER_BATCH, replace=False)
        # late events carry a timestamp inside the history window, older
        # than the state already stored for most keys
        ts[late] = HISTORY_START_US + rng.integers(0, history_end_us - HISTORY_START_US,
                                                   LATE_PER_BATCH)
        values = np.round(rng.uniform(1.0, 500.0, size), 2)
        ids = np.arange(id_base + b * size, id_base + (b + 1) * size, dtype=np.int64)
        bad = rng.choice(np.setdiff1d(np.arange(size), late), INVALID_PER_BATCH,
                         replace=False)
        kind = np.arange(INVALID_PER_BATCH) % 3
        key_null = np.zeros(size, bool)
        val_null = np.zeros(size, bool)
        ts_null = np.zeros(size, bool)
        key_null[bad[kind == 0]] = True
        val_null[bad[kind == 1]] = True
        ts_null[bad[kind == 2]] = True
        table = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "customer_id": pa.array(keys, pa.int64(), mask=key_null),
                "purchase_timestamp": pa.array(ts, pa.timestamp("us"), mask=ts_null),
                "purchase_value": pa.array(values, pa.float64(), mask=val_null),
            }
        )
        name = f"mb_{b:02d}.parquet"
        pq.write_table(table, os.path.join(root, name))
        valid = ~(key_null | val_null | ts_null)
        # expected served state: per key, the valid event latest by
        # (timestamp, event_id) within this batch
        order = np.lexsort((ids[valid], ts[valid]))
        vk, vv = keys[valid][order], values[valid][order]
        vid = ids[valid][order]
        last_idx = len(vk) - 1 - np.unique(vk[::-1], return_index=True)[1]
        out.append(
            {
                "file": name,
                "events": size,
                "valid": int(valid.sum()),
                "invalid": int(INVALID_PER_BATCH),
                "late": int(LATE_PER_BATCH),
                "latest": {
                    "keys": vk[last_idx].tolist(),
                    "value": vv[last_idx].tolist(),
                    "event_id": vid[last_idx].tolist(),
                },
            }
        )
    return out


def read_keys(seed: int, present: np.ndarray, n_requests: int) -> np.ndarray:
    """``n_requests`` x KEYS_PER_REQUEST key array: each key is absent
    (never stored) with probability ABSENT_SHARE, else a stored key."""
    rng = np.random.default_rng([seed, 3])
    shape = (n_requests, KEYS_PER_REQUEST)
    keys = rng.choice(present, size=shape)
    absent = rng.random(shape) < ABSENT_SHARE
    keys[absent] = ABSENT_KEY_BASE + rng.integers(0, 10**6, int(absent.sum()))
    return keys


def _cached(work: str, name: str, build) -> tuple[str, dict]:
    """``build(dir) -> meta`` once; later calls reuse ``dir/meta.json``.
    The cache is keyed on this file's source, so a changed generator never
    reads inputs an older one wrote."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    root = os.path.join(work, "inputs", f"{name}-{version}")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return root, json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    meta = build(root)
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return root, meta


def history(work: str, seed: int) -> tuple[str, dict]:
    """Daily slices of the purchase history for ``seed``."""
    return _cached(work, f"history-{seed}", lambda root: _history(
        np.random.default_rng([seed, 1]), root, DAYS, EVENTS_PER_DAY, CUSTOMERS
    ))


def stream(work: str, seed: int, history_end_us: int) -> tuple[str, dict]:
    """Micro-batch files for ``seed``, timed after the history's end."""
    return _cached(work, f"stream-{seed}", lambda root: {"batches": _microbatches(
        np.random.default_rng([seed, 2]), root, MICROBATCHES, MICROBATCH_EVENTS,
        CUSTOMERS, history_end_us, STREAM_EVENT_ID_BASE,
    )})


def warm(work: str) -> tuple[str, dict]:
    """Small history and micro-batch for the warm-up pass."""
    def build(root):
        rng = np.random.default_rng([FIXTURE_SEED, 4])
        hist = _history(rng, os.path.join(root, "history"), WARM_DAYS, EVENTS_PER_DAY,
                        CUSTOMERS)
        batches = _microbatches(rng, os.path.join(root, "stream"), 1, 200, 2_000,
                                hist["end_us"], STREAM_EVENT_ID_BASE)
        return {"history": hist, "stream": batches}

    return _cached(work, "warm", build)
