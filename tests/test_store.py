"""Versioned table + feature group semantics (SURVEY §2.10 U1-U3, §2.13 Q4/Q5)."""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import urllib.parse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_test_spark.store import FeatureStore, ServingSession, VersionedParquetTable

FG_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.LongType()),
        T.StructField("purchase_timestamp", T.TimestampType()),
        T.StructField("latest_purchase_value", T.DoubleType()),
        T.StructField("avg_purchase_value", T.DoubleType()),
        T.StructField("avg_loyalty_score", T.DoubleType()),
        T.StructField("latest_loyalty_score", T.DoubleType()),
    ]
)


def ts(day: int) -> dt.datetime:
    return dt.datetime(2024, 1, day)


def make_fg(spark, tmp_path, name="fg"):
    store = FeatureStore(spark, str(tmp_path))
    return store.create(name, FG_SCHEMA, "customer_id", "purchase_timestamp")


def row(cid, day, lpv, apv, als, lls):
    return (cid, ts(day), lpv, apv, als, lls)


def test_versioned_table_append_and_time_travel(spark, tmp_path):
    schema = T.StructType([T.StructField("x", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    assert t.read().count() == 0
    v1 = t.append(spark.createDataFrame([(1,), (2,)], schema))
    v2 = t.append(spark.createDataFrame([(3,)], schema))
    assert (v1, v2) == (1, 2)
    assert t.read().count() == 3
    assert t.read(as_of_version=1).count() == 2  # time travel
    assert set(t.read().select("_commit_version").distinct().toPandas()["_commit_version"]) == {1, 2}


def test_versioned_table_rejects_bad_schema(spark, tmp_path):
    schema = T.StructType([T.StructField("x", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    bad = spark.createDataFrame([(1, 2)], "x long, y long")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad)


def test_online_view_is_latest_and_offline_keeps_history(spark, tmp_path):
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    fg.ingest(spark.createDataFrame([row(1, 2, 20.0, 15.0, 6.0, 7.0)], FG_SCHEMA))
    assert fg.offline_history().count() == 2  # every version kept
    online = fg.online_view().collect()
    assert len(online) == 1
    assert online[0].latest_purchase_value == 20.0


def test_point_read_and_exists(spark, tmp_path):
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(7, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    assert fg.exists(7)
    assert not fg.exists(8)
    rec = fg.get_latest(7)
    assert rec is not None and rec["avg_loyalty_score"] == 5.0
    assert fg.get_latest(8) is None


def test_upsert_matched_applies_old_plus_new_over_2(spark, tmp_path):
    """(old+new)/2 — preserved exactly, NOT a running mean (§2.13 Q4)."""
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    updates = spark.createDataFrame(
        [(1, ts(2), 30.0, 9.0)],
        "customer_id long, purchase_timestamp timestamp, "
        "purchase_value double, loyalty_score double",
    )
    fg.upsert(updates, {"purchase_value": "purchase_value", "loyalty_score": "loyalty_score"})
    rec = fg.get_latest(1)
    assert rec["latest_purchase_value"] == 30.0
    assert rec["avg_purchase_value"] == (10.0 + 30.0) / 2
    assert rec["avg_loyalty_score"] == (5.0 + 9.0) / 2
    assert rec["latest_loyalty_score"] == 9.0
    # chain a second update: exponential decay, not running mean
    fg.upsert(
        spark.createDataFrame(
            [(1, ts(3), 50.0, 1.0)],
            "customer_id long, purchase_timestamp timestamp, "
            "purchase_value double, loyalty_score double",
        ),
        {"purchase_value": "purchase_value", "loyalty_score": "loyalty_score"},
    )
    rec = fg.get_latest(1)
    assert rec["avg_purchase_value"] == (20.0 + 50.0) / 2  # (old_avg+new)/2
    assert rec["avg_loyalty_score"] == (7.0 + 1.0) / 2


def test_upsert_not_matched_initializes_averages(spark, tmp_path):
    """Insert arm: averages start at the observation (U1, fsm.py:206-238)."""
    fg = make_fg(spark, tmp_path)
    updates = spark.createDataFrame(
        [(42, ts(1), 12.0, 3.0)],
        "customer_id long, purchase_timestamp timestamp, "
        "purchase_value double, loyalty_score double",
    )
    fg.upsert(updates, {"purchase_value": "purchase_value", "loyalty_score": "loyalty_score"})
    rec = fg.get_latest(42)
    assert rec["avg_purchase_value"] == 12.0
    assert rec["latest_purchase_value"] == 12.0
    assert rec["avg_loyalty_score"] == 3.0


def test_parity_vs_strict_latest_modes(spark, tmp_path):
    """§2.13 Q5: arrival-order (parity) vs event-time (strict) last-write-wins."""
    fg = make_fg(spark, tmp_path)
    # second commit carries an OLDER event time (a retried stale event)
    fg.ingest(spark.createDataFrame([row(1, 5, 50.0, 50.0, 5.0, 5.0)], FG_SCHEMA))
    fg.ingest(spark.createDataFrame([row(1, 2, 20.0, 20.0, 2.0, 2.0)], FG_SCHEMA))
    parity = fg.online_view(strict_event_time=False).collect()[0]
    strict = fg.online_view(strict_event_time=True).collect()[0]
    assert parity.latest_purchase_value == 20.0  # last arrival wins
    assert strict.latest_purchase_value == 50.0  # last event time wins


def test_training_dataset_full_history(spark, tmp_path):
    """Q3 semantics: training set keeps every version (no dedup)."""
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    fg.ingest(spark.createDataFrame([row(1, 2, 20.0, 15.0, 6.0, 7.0)], FG_SCHEMA))
    td = fg.training_dataset()
    assert td.count() == 2
    assert "customer_id" in td.columns


def test_partial_commit_files_are_invisible(spark, tmp_path):
    """Atomicity: stray .tmp files and data without a published commit JSON
    must be invisible to readers (files-first, rename-to-publish)."""
    schema = T.StructType([T.StructField("x", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1,)], schema))
    # simulate a writer that died before publishing: data dir exists,
    # commit json only as .tmp
    orphan_dir = os.path.join(str(tmp_path / "t"), "data", "v0000000099-dead")
    spark.createDataFrame([(999,)], schema).write.parquet(orphan_dir)
    with open(os.path.join(str(tmp_path / "t"), "_commits", "tmp_partial.tmp"), "w") as f:
        f.write('{"version": 99')  # truncated JSON
    assert t.read().count() == 1  # orphan data never surfaces
    assert t.versions() == [1]
    # next append proceeds normally
    t.append(spark.createDataFrame([(2,)], schema))
    assert sorted(r.x for r in t.read().collect()) == [1, 2]


def test_upsert_passthrough_column_preserved(spark, tmp_path):
    """Feature columns NOT governed by the (old+new)/2 rule must carry the
    stored value through an upsert that doesn't mention them."""
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    # update only purchase_value; loyalty columns are passthrough
    updates = spark.createDataFrame(
        [(1, ts(2), 30.0)],
        "customer_id long, purchase_timestamp timestamp, purchase_value double",
    )
    fg.upsert(updates, {"purchase_value": "purchase_value"})
    rec = fg.get_latest(1)
    assert rec["latest_purchase_value"] == 30.0
    assert rec["avg_purchase_value"] == 20.0
    assert rec["avg_loyalty_score"] == 5.0  # preserved from stored state
    assert rec["latest_loyalty_score"] == 5.0


def test_many_commits_single_scan(spark, tmp_path):
    """30 commits must still read as ONE scan (no union-per-commit plan)."""
    schema = T.StructType([T.StructField("x", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    for i in range(30):
        t.append(spark.createDataFrame([(i,)], schema))
    df = t.read()
    assert df.count() == 30
    versions = {r._commit_version for r in df.collect()}
    assert versions == set(range(1, 31))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan


def test_compaction_preserves_snapshot_and_history(spark, tmp_path):
    """compact() rewrites N commits as one; reads are identical before and
    after (including arrival-order _commit_version), later appends stack on
    top, and pre-compaction time travel still works."""
    schema = T.StructType([T.StructField("x", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    for i in range(5):
        t.append(spark.createDataFrame([(i,)], schema))
    before = sorted(map(tuple, t.read().collect()))
    cv = t.compact()
    assert cv == 6
    after = sorted(map(tuple, t.read().collect()))
    assert before == after  # snapshot identical, versions preserved
    # the post-compaction read touches ONE data dir
    hist = t.read()
    assert "Union" not in hist._jdf.queryExecution().executedPlan().toString()
    # appends continue on top
    t.append(spark.createDataFrame([(99,)], schema))
    assert t.read().count() == 6
    assert max(r._commit_version for r in t.read().collect()) == 7
    # deep time travel below the compaction base still resolves
    assert t.read(as_of_version=2).count() == 2


def test_compaction_with_parity_online_view(spark, tmp_path):
    """Arrival-order (parity) online semantics must survive compaction."""
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 5, 50.0, 50.0, 5.0, 5.0)], FG_SCHEMA))
    fg.ingest(spark.createDataFrame([row(1, 2, 20.0, 20.0, 2.0, 2.0)], FG_SCHEMA))
    before = fg.online_view().collect()[0]
    fg.table.compact()
    after = fg.online_view().collect()[0]
    assert before.latest_purchase_value == after.latest_purchase_value == 20.0


def test_upsert_rejects_duplicate_keys(spark, tmp_path):
    fg = make_fg(spark, tmp_path)
    dup = spark.createDataFrame(
        [(1, ts(1), 10.0, 1.0), (1, ts(2), 20.0, 2.0)],
        "customer_id long, purchase_timestamp timestamp, "
        "purchase_value double, loyalty_score double",
    )
    with pytest.raises(ValueError, match="one row per key"):
        fg.upsert(dup, {"purchase_value": "purchase_value", "loyalty_score": "loyalty_score"})


def test_vacuum_after_compaction(spark, tmp_path):
    schema = T.StructType([T.StructField("x", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    for i in range(4):
        t.append(spark.createDataFrame([(i,)], schema))
    t.compact()
    snapshot = sorted(map(tuple, t.read().collect()))
    removed = t.vacuum()
    assert removed == [1, 2, 3, 4]
    # current reads unaffected; vacuumed data dirs gone from disk
    assert sorted(map(tuple, t.read().collect())) == snapshot
    data_root = os.path.join(str(tmp_path / "t"), "data")
    assert len(os.listdir(data_root)) == 1  # only the compacted dir remains
    # deep time travel now fails loudly, not silently-empty
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(as_of_version=2)
    # appends continue
    t.append(spark.createDataFrame([(9,)], schema))
    assert t.read().count() == 5
    # vacuum with no compaction is a no-op
    t2 = VersionedParquetTable(spark, str(tmp_path / "t2"), schema)
    t2.append(spark.createDataFrame([(1,)], schema))
    assert t2.vacuum() == []


# -- data skipping (file stats + clustered compaction) -----------------------

KV_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _kv_table(spark, tmp_path, n=1000, commits=4):
    t = VersionedParquetTable(spark, str(tmp_path / "kv"), KV_SCHEMA)
    per = n // commits
    for i in range(commits):
        rows = [
            (j, float(j) / 7.0, ts(1 + j % 27)) for j in range(i * per, (i + 1) * per)
        ]
        t.append(spark.createDataFrame(rows, KV_SCHEMA).repartition(4))
    return t


def test_commit_log_records_file_stats(spark, tmp_path):
    t = _kv_table(spark, tmp_path, n=100, commits=1)
    commit = t.commits()[0]
    files = commit["files"]
    assert files and all(f["rows"] > 0 for f in files)
    ks = [f["stats"]["k"] for f in files]
    assert min(s["min"] for s in ks) == 0 and max(s["max"] for s in ks) == 99
    # timestamps serialize as isoformat strings (lexicographically ordered)
    assert all(isinstance(f["stats"]["ts"]["min"], str) for f in files)
    # bytes written and write time, per file and per commit, in history()
    assert all(f["bytes"] == os.path.getsize(f["path"]) > 0 for f in files)
    assert commit["write_s"] > 0
    (h,) = t.history().collect()
    assert h.n_bytes == sum(f["bytes"] for f in files)
    assert h.write_s == commit["write_s"]
    assert t.history().columns[-2:] == ["n_bytes", "write_s"]
    # a commit logged before bytes and write time were recorded: both NULL
    for f in commit["files"]:
        del f["bytes"]
    del commit["write_s"]
    t._rewrite_commit(commit)
    (h,) = t.history().collect()
    assert (h.n_files, h.n_rows, h.n_bytes, h.write_s) == (len(files), 100, None, None)


def _filtered(df, where):
    for c, op, v in where:
        col = F.col(c)
        df = df.where(
            {"=": col == v, "<": col < v, "<=": col <= v, ">": col > v, ">=": col >= v}[op]
        )
    return df


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_pruned_read_equals_filtered_read(spark, tmp_path):
    t = _kv_table(spark, tmp_path)
    for where in (
        [("k", "=", 123)],
        [("k", ">=", 100), ("k", "<", 200)],
        [("ts", ">=", ts(20))],
        [("k", ">", 10_000)],  # empty result
    ):
        pruned = t.read(where=where)
        full = _filtered(t.read(), where)
        assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))


@pytest.mark.parametrize("compacted", [False, True], ids=["appends", "compacted"])
def test_scan_paths_agree(spark, tmp_path, compacted):
    """Pruned reads and the change feed equal filters over the full read,
    with _commit_version, on every commit layout the scan builder sees."""
    schema = T.StructType([*KV_SCHEMA.fields, T.StructField("d", T.StringType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    for i in range(4):
        keys = range(i * 40, i * 40 + 60)  # overlapping key ranges
        rows = [(j, j / 7.0, ts(1 + j % 27), f"p{j % 3}") for j in keys]
        t.append(spark.createDataFrame(rows, schema).repartition(2))
        if compacted and i == 1:
            t.compact(cluster_by=["k"], n_files=3)
    full = t.read()
    for where in (
        [("k", "=", 50)],
        [("k", ">=", 30), ("k", "<", 130)],
        [("d", "=", "p1"), ("k", "<=", 90)],
        [("ts", ">", ts(20))],
        [("k", ">", 10_000)],
    ):
        assert _rows(t.read(where=where)) == _rows(_filtered(full, where))
    for v in range(t.latest_version() + 1):
        assert _rows(t.changes(v)) == _rows(full.where(F.col("_commit_version") > v))


def test_pruned_read_across_commits_is_one_file_scan(spark, tmp_path):
    """A read that matches files of several commits is one multi-path scan,
    not a union of per-commit scans, with or without a stats-pruning
    ``where``, also when a compaction sits between the appends: each row
    keeps the version of the append that wrote it."""
    layouts = (  # (name, appends before the compaction or None, versions of the appends)
        ("appends", None, [1, 2, 3]),
        ("compacted", 2, [1, 2, 4, 5]),
    )
    for name, compact_at, versions in layouts:
        t = VersionedParquetTable(spark, str(tmp_path / name), KV_SCHEMA)
        for i in range(len(versions)):  # unclustered: every commit spans the whole key range
            if i == compact_at:
                t.compact(cluster_by=["k"])
            rows = [(j, float(i), ts(1 + i)) for j in range(100)]
            t.append(spark.createDataFrame(rows, KV_SCHEMA))
        for where, per_commit in ((None, 100), ([("k", "=", 50)], 1)):
            df = t.read(where=where)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("FileScan") == 1, (name, where, plan)
            assert "Union" not in plan, (name, where, plan)
            want = [(float(i), v) for i, v in enumerate(versions) for _ in range(per_commit)]
            assert sorted((r.v, r._commit_version) for r in df.collect()) == want


def test_nan_bounds_never_prune(spark, tmp_path):
    """Spark orders NaN above every value and has NaN = NaN, so a file
    holding NaN may match ``>`` and ``= NaN`` predicates: a pruned read
    still equals the filtered full read, also for a log whose stats hold
    NaN bounds."""
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("d", T.DoubleType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1, 1.0), (2, float("nan"))], schema).coalesce(1))
    wheres = ([("d", ">", 5.0)], [("d", "=", float("nan"))], [("d", "<", 5.0)])

    def check():
        for where in wheres:
            got = sorted(r.k for r in t.read(where=where).collect())
            assert got == sorted(r.k for r in _filtered(t.read(), where).collect())
            assert len(got) == 1

    check()
    commit = t.commits()[-1]
    for f in commit["files"]:  # the bounds a Spark min/max scan records
        f["stats"]["d"] = {"min": 1.0, "max": float("nan")}
    t._rewrite_commit(commit)
    check()


@pytest.mark.parametrize("root", ["uri probe", "uri%20pct"])
def test_pruned_reads_under_a_root_needing_escapes(spark, tmp_path, root):
    """Logged file paths are plain filesystem paths, so stats-pruned reads
    work under a table root holding a space or a ``%``."""
    fg = make_fg(spark, tmp_path / root)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    fg.ingest(spark.createDataFrame([row(2, 2, 20.0, 20.0, 6.0, 6.0)], FG_SCHEMA))
    assert fg.get_latest(2)["latest_purchase_value"] == 20.0
    assert fg.exists(1) and not fg.exists(99)
    got = fg.table.read(where=[("customer_id", "=", 1)])
    assert [r.latest_purchase_value for r in got.collect()] == [10.0]


def test_file_uri_paths_in_log_still_read_and_prune(spark, tmp_path):
    """Logs holding Spark's ``file:`` URIs as file paths read, and prune,
    exactly as logs holding plain paths."""
    t = _kv_table(spark, tmp_path, n=400, commits=4)
    t.compact(cluster_by=["k"], n_files=4)
    t.append(spark.createDataFrame([(j, 0.5, ts(3)) for j in range(400, 500)], KV_SCHEMA))
    wheres = ([("k", "=", 150)], [("k", ">=", 380), ("k", "<", 450)], [("ts", ">", ts(20))])

    def snapshot():
        return [
            (_rows(t.read(where=w)), len(t.read(where=w).inputFiles()), t.skipping_report(w))
            for w in wheres
        ]

    before = snapshot()
    for c in t.commits():
        for f in c["files"]:
            f["path"] = "file:" + f["path"]
        t._rewrite_commit(c)
    assert all(f["path"].startswith("file:/") for c in t.commits() for f in c["files"])
    assert snapshot() == before
    assert any(n < before[0][2]["total_files"] for _, n, _ in before)


_ALL_TYPES = T.StructType(
    [
        T.StructField("b", T.ByteType()),
        T.StructField("sh", T.ShortType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("bo", T.BooleanType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("nothing", T.IntegerType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
    ]
)


def _all_types_df(spark, n):
    """``n`` rows of every stat type, every seventh row all NULL."""
    rows = [
        (None,) * len(_ALL_TYPES) if j % 7 == 3 else (
            j % 100 - 50, j * 3 - 900, j * 1001, j * 10**12, j / 3.0, -j / 7.0,
            f"s{j:05d}é", j % 2 == 0, dt.date(2024, 1, 1) + dt.timedelta(days=j % 40),
            dt.datetime(2024, 1, 1, 3, 4, 5, 123456) + dt.timedelta(minutes=j), None, [j],
        )
        for j in range(n)
    ]
    return spark.createDataFrame(rows, _ALL_TYPES)


def _stats_case_types(spark, path):
    t = VersionedParquetTable(spark, path, _ALL_TYPES)
    t.append(_all_types_df(spark, 90).repartition(3))
    return t, set()


def _stats_case_row_groups(spark, path):
    t = VersionedParquetTable(spark, path, _ALL_TYPES)
    spark.conf.set("parquet.block.size", "2048")
    try:
        t.append(_all_types_df(spark, 3000).coalesce(2))
    finally:
        spark.conf.unset("parquet.block.size")
    files = t.commits()[-1]["files"]
    assert all(pq.read_metadata(f["path"]).num_row_groups > 1 for f in files)
    return t, set()


def _stats_case_compact(spark, path):
    t = VersionedParquetTable(spark, path, KV_SCHEMA)
    for i in range(2):
        rows = [(j, j / 7.0, ts(1 + i)) for j in range(i * 50, i * 50 + 80)]
        t.append(spark.createDataFrame(rows, KV_SCHEMA))
    t.compact(cluster_by=["k"], n_files=3)
    assert "_commit_version" in t.commits()[-1]["files"][0]["stats"]
    return t, set()


def _stats_case_empty(spark, path):
    t = VersionedParquetTable(spark, path, KV_SCHEMA)
    t.append(spark.createDataFrame([], KV_SCHEMA))
    assert t.commits()[-1]["files"] == []
    return t, set()


def _stats_case_long_string(spark, path):
    """Parquet keeps no min/max for values above 4 KiB: no stats entry."""
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("s", T.StringType())])
    t = VersionedParquetTable(spark, path, schema)
    t.append(spark.createDataFrame([(1, "x" * 5000), (2, "y"), (3, None)], schema).coalesce(1))
    return t, {"s"}


def _stats_case_nan(spark, path):
    """A NaN bound gets no stats entry, so the column never prunes."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("d", T.DoubleType()), T.StructField("f", T.FloatType())]
    )
    t = VersionedParquetTable(spark, path, schema)
    rows = [(1, 1.0, float("nan")), (2, float("nan"), 2.0), (3, 0.5, None)]
    t.append(spark.createDataFrame(rows, schema).coalesce(1))
    return t, {"d", "f"}


def _scan_file_stats(spark, commit):
    """Per-file rows and min/max the way a Spark scan of the written files
    computes them (one job grouped by ``_metadata.file_path``), keyed by
    plain filesystem path."""
    from feature_store_test_spark.store.table import _STAT_TYPES, _stat_value

    schema = T.StructType.fromJson(commit["schema"])
    cols = [f.name for f in schema.fields if isinstance(f.dataType, _STAT_TYPES)]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    rows = (
        spark.read.schema(schema)
        .parquet(commit["data_dir"])
        .groupBy(F.col("_metadata.file_path").alias("__path"))
        .agg(*aggs)
        .collect()
    )
    return {
        urllib.parse.unquote(urllib.parse.urlparse(r["__path"]).path): {
            "rows": r["__rows"],
            "stats": {
                c: {"min": _stat_value(r[f"__mn_{c}"]), "max": _stat_value(r[f"__mx_{c}"])}
                for c in cols
            },
        }
        for r in rows
    }


@pytest.mark.parametrize(
    "case",
    [
        _stats_case_types, _stats_case_row_groups, _stats_case_compact,
        _stats_case_empty, _stats_case_long_string, _stats_case_nan,
    ],
    ids=lambda f: f.__name__.removeprefix("_stats_case_"),
)
def test_footer_stats_equal_a_scan_of_the_written_files(spark, tmp_path, case):
    """The commit's per-file rows and min/max, read from parquet footers,
    equal a Spark scan of the same files, byte for byte in the log; the
    only differences are the conservative omissions, where the scan's
    bound is NaN or the footer holds none."""
    t, omitted = case(spark, str(tmp_path / "t"))
    commit = t.commits()[-1]
    scan = _scan_file_stats(spark, commit)
    logged = {f["path"]: f for f in commit["files"]}
    assert sorted(logged) == sorted(scan)
    assert all(os.path.isabs(p) and os.path.isfile(p) for p in logged)
    for path, want in scan.items():
        got = logged[path]
        assert got["rows"] == want["rows"]
        for c in omitted:
            assert c not in got["stats"]
        want_stats = {c: s for c, s in want["stats"].items() if c not in omitted}
        assert json.dumps(got["stats"]) == json.dumps(want_stats)


def _jobs(spark, group, fn) -> int:
    """The number of Spark jobs ``fn()`` runs under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_append_reads_nothing_back(spark, tmp_path):
    """An append runs exactly the jobs of a plain parquet write of the same
    frame: its file stats come from the footers, not from a scan."""
    df = spark.createDataFrame(
        [(j, j / 7.0, ts(1 + j % 27)) for j in range(300)], KV_SCHEMA
    ).repartition(3)
    t = VersionedParquetTable(spark, str(tmp_path / "t"), KV_SCHEMA)
    plain = _jobs(spark, "plain-parquet-write", lambda: df.write.parquet(str(tmp_path / "plain")))
    appended = _jobs(spark, "versioned-append", lambda: t.append(df))
    assert appended == plain >= 1
    assert t.read().count() == 300


def test_append_rejects_type_mismatch_before_writing(spark, tmp_path):
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1, 1.0)], schema))
    data_dirs = sorted(os.listdir(tmp_path / "t" / "data"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(2, "x")], "k long, v string"))
    assert sorted(os.listdir(tmp_path / "t" / "data")) == data_dirs
    assert t.versions() == [1]
    # nullability is not part of the table's schema contract
    not_null = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.DoubleType(), False)]
    )
    assert t.append(spark.createDataFrame([(3, 3.0)], not_null)) == 2


def test_clustered_compaction_tightens_pruning(spark, tmp_path):
    t = _kv_table(spark, tmp_path)
    before = t.skipping_report([("k", "=", 123)])
    assert before["candidate_files"] >= 1
    t.compact(cluster_by=["k"], n_files=8)
    after = t.skipping_report([("k", "=", 123)])
    # range clustering → disjoint per-file key ranges → a point predicate
    # matches ~1 file; results unchanged
    assert after["candidate_files"] < after["total_files"]
    assert after["candidate_files"] <= 2
    assert after["candidate_rows"] < after["total_rows"]
    got = t.read(where=[("k", "=", 123)]).drop("_commit_version").collect()
    assert [tuple(r)[:2] for r in got] == [(123, 123 / 7.0)]


def test_interleave_bits_is_morton_order(spark):
    from feature_store_test_spark.operators.zorder import interleave_bits

    df = spark.range(1).select(
        interleave_bits([F.lit(0b11), F.lit(0b00)], bits=2).alias("z1"),
        interleave_bits([F.lit(0b01), F.lit(0b11)], bits=2).alias("z2"),
    )
    row = df.collect()[0]
    assert row["z1"] == 0b1010  # col0's bits land in even positions (from MSB)
    assert row["z2"] == 0b0111


def test_zorder_compaction_prunes_on_every_dimension(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("x", T.LongType()), T.StructField("y", T.LongType())]
    )
    t = VersionedParquetTable(spark, str(tmp_path / "zt"), schema)
    # 100x100 grid: x and y independent; appended in hash order (no
    # accidental clustering)
    rows = [(j % 100, j // 100) for j in range(10_000)]
    t.append(spark.createDataFrame(rows, schema).repartition(8))

    t.compact(cluster_by=["x"], n_files=16)
    lin_x = t.skipping_report([("x", "<=", 12)])
    lin_y = t.skipping_report([("y", "<=", 12)])
    assert lin_x["candidate_files"] < lin_x["total_files"]
    # lexicographic clustering leaves every file spanning the full y range
    assert lin_y["candidate_files"] == lin_y["total_files"]

    t.compact(zorder_by=["x", "y"], n_files=16)
    z_x = t.skipping_report([("x", "<=", 12)])
    z_y = t.skipping_report([("y", "<=", 12)])
    # the space-filling curve gives tight boxes on BOTH dimensions
    assert z_x["candidate_files"] < z_x["total_files"]
    assert z_y["candidate_files"] < z_y["total_files"]
    assert z_y["candidate_files"] < lin_y["candidate_files"]

    # physical order changed, logical contents did not
    got = t.read().drop("_commit_version")
    assert got.count() == 10_000
    assert got.distinct().count() == 10_000
    assert t.read(where=[("x", "=", 3), ("y", "=", 7)]).drop(
        "_commit_version"
    ).collect() == [(3, 7)]


def test_zorder_rejects_combined_cluster_args(spark, tmp_path):
    t = _kv_table(spark, tmp_path, n=100, commits=1)
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.compact(cluster_by=["k"], zorder_by=["k"])


def test_skipping_report_counts_all_files_without_where_effect(spark, tmp_path):
    t = _kv_table(spark, tmp_path, n=200, commits=2)
    rep = t.skipping_report([("k", ">=", 0)])
    assert rep["candidate_files"] == rep["total_files"]
    assert rep["total_rows"] == 200
    assert rep["commits_without_stats"] == 0


def test_point_read_uses_pruned_path_after_clustering(spark, tmp_path):
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    fg.ingest(spark.createDataFrame([row(2, 2, 20.0, 20.0, 6.0, 6.0)], FG_SCHEMA))
    fg.table.compact(cluster_by=["customer_id"], n_files=2)
    rep = fg.table.skipping_report([("customer_id", "=", 2)])
    assert rep["candidate_files"] < rep["total_files"]
    rec = fg.get_latest(2)
    assert rec["latest_purchase_value"] == 20.0
    assert fg.exists(2) and not fg.exists(99)


_PR_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("et", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("region", T.StringType()),
        T.StructField("day", T.DateType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField(
            "info",
            T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]),
        ),
    ]
)


def _pr_rows(i):
    """Commit ``i``: 25 keys overlapping the previous commit's, NaN and NULL
    values, NULL event times, a NULL and an escaped region, and one key with
    a second row whose event time is NULL, so (version, event time) stays
    unique per key while NULL must rank below a value."""
    rows = [
        (
            k,
            None if k % 13 == 0 else dt.datetime(2024, 1, 1 + (k + i) % 20, k % 24),
            float("nan") if k % 7 == 0 else None if k % 11 == 0 else k + i / 10,
            [None, "a b/c:d", "x"][k % 3],
            dt.date(2024, 2, 1 + k % 2),
            i,
            bytes([k % 256, i]),
            [str(k)] if k % 5 else None,
            (k, None if k % 4 else "s"),
        )
        for k in range(i * 10, i * 10 + 25)
    ]
    k = i * 10 + 5
    rows.append((k, None, -1.0, "x", dt.date(2024, 2, 3), -i, None, [], None))
    if i == 0:
        rows.append((None, ts(1), 0.0, "x", dt.date(2024, 2, 1), 0, None, None, None))
    return rows


def _pr_frame(spark, i, extra=None):
    df = spark.createDataFrame(_pr_rows(i), _PR_SCHEMA).repartition(2)
    return df.withColumn(extra, F.col("k") / 3.0) if extra else df


def _pr_append(spark, fg, *commits):
    for i in commits:
        fg.ingest(_pr_frame(spark, i))


def _pr_flat(spark, fg):
    _pr_append(spark, fg, 0, 1, 2)


def _pr_compacted(spark, fg):
    _pr_append(spark, fg, 0, 1)
    fg.table.compact()
    _pr_append(spark, fg, 2)


def _pr_clustered(spark, fg):
    _pr_append(spark, fg, 0, 1)
    fg.table.compact(cluster_by=["k"], n_files=3)
    _pr_append(spark, fg, 2)


def _pr_deleted(spark, fg):
    _pr_append(spark, fg, 0, 1)
    fg.table.delete("k % 3 = 0")
    _pr_append(spark, fg, 2)


def _pr_restored(spark, fg):
    _pr_append(spark, fg, 0, 1, 2)
    fg.table.restore(2)
    _pr_append(spark, fg, 3)


def _pr_evolved(spark, fg):
    _pr_append(spark, fg, 0)
    for i in (1, 2):  # commit 2 carries the new column, commit 3 lacks it
        fg.table.append(_pr_frame(spark, i, extra="score" if i == 1 else None), merge_schema=True)
    assert fg.table.schema.fieldNames()[-1] == "score"


def _pr_pre_stats(spark, fg):
    _pr_append(spark, fg, 0, 1, 2)
    commit = fg.table.commits()[1]
    del commit["files"]
    fg.table._rewrite_commit(commit)


def _pr_file_uris(spark, fg):
    _pr_clustered(spark, fg)
    for c in fg.table.commits():
        for f in c["files"]:
            f["path"] = "file:" + f["path"]
        fg.table._rewrite_commit(c)


_PR_CASES = {
    # name: (build, root)
    "flat": (_pr_flat, "t"),
    "compacted": (_pr_compacted, "t"),
    "clustered": (_pr_clustered, "t"),
    "deleted": (_pr_deleted, "t"),
    "restored": (_pr_restored, "t"),
    "evolved": (_pr_evolved, "t"),
    "pre_stats": (_pr_pre_stats, "t"),
    "file_uris": (_pr_file_uris, "t"),
    "escaped_root": (_pr_compacted, "a b%20c"),
}


def _same_record(got, want) -> bool:
    """Equal key for key in the same order, value for value with NaN equal
    to NaN, and each value of the same Python type."""
    if got is None or want is None:
        return got is want
    return list(got) == list(want) and all(
        type(g) is type(w) and (g == w or g != g and w != w)
        for g, w in zip(got.values(), want.values())
    )


@pytest.mark.parametrize("case", list(_PR_CASES))
def test_point_reads_equal_the_online_view(spark, tmp_path, case):
    """``get_latest(k)`` equals the online view's row for ``k`` as a dict,
    type for type, and ``exists(k)`` whether the snapshot holds a row for
    ``k``, for every stored key and an absent one, on every commit layout
    the driver-side read meets."""
    build, root = _PR_CASES[case]
    fg = FeatureStore(spark, str(tmp_path / root)).create("fg", _PR_SCHEMA, "k", "et")
    build(spark, fg)
    view = {r.k: r.asDict() for r in fg.online_view().collect()}
    stored = {r.k for r in fg.table.read().select("k").collect()}
    keys = sorted(k for k in view if k is not None)
    assert len(keys) >= 30
    # the view covers the value cases the read must reproduce
    assert any(r["et"] is None for r in view.values())
    assert any(r["v"] is None for r in view.values())
    assert any(r["v"] != r["v"] for r in view.values())
    for k in [*keys, 999]:
        got, want = fg.get_latest(k), view.get(k)
        assert _same_record(got, want), (k, got, want)
        assert fg.exists(k) == (k in stored)
    assert 999 not in stored
    assert fg.get_latest(None) is None and not fg.exists(None)


@pytest.mark.parametrize("compacted", [False, True], ids=["flat", "compacted"])
def test_point_read_of_a_nan_key(spark, tmp_path, compacted):
    """Spark has NaN = NaN, so a NaN key is a stored key like any other,
    also when its rows sit in a key-clustered compaction."""
    schema = T.StructType([T.StructField("k", T.DoubleType()), T.StructField("et", T.TimestampType())])
    fg = FeatureStore(spark, str(tmp_path)).create("fg", schema, "k", "et")
    fg.ingest(spark.createDataFrame([(float("nan"), ts(1)), (1.5, ts(1))], schema))
    fg.ingest(spark.createDataFrame([(float("nan"), ts(2))], schema))
    if compacted:
        fg.table.compact(cluster_by=["k"], n_files=2)
    view = {repr(r.k): r.asDict() for r in fg.online_view().collect()}
    assert view["nan"]["et"] == ts(2)
    for k in (float("nan"), 1.5):
        got = fg.get_latest(k)
        assert _same_record(got, view[repr(k)]) and fg.exists(k)
    assert fg.get_latest(2.5) is None and not fg.exists(2.5)


def test_point_reads_run_no_spark_job(spark, tmp_path):
    """``get_latest`` and ``exists`` read in the driver: zero Spark jobs,
    while the same group's online view runs at least one."""
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    fg.ingest(spark.createDataFrame([row(1, 2, 20.0, 15.0, 6.0, 7.0)], FG_SCHEMA))
    assert _jobs(spark, "point-read-get-latest", lambda: fg.get_latest(1)) == 0
    assert _jobs(spark, "point-read-exists", lambda: fg.exists(1)) == 0
    assert _jobs(spark, "point-read-absent", lambda: fg.get_latest(2)) == 0
    assert _jobs(spark, "point-read-online-view", lambda: fg.online_view().collect()) >= 1
    assert fg.get_latest(1)["latest_purchase_value"] == 20.0


def _fg_frame(spark, n, day, shift=0):
    """``n`` distinct keys in a scrambled order over 2 partitions, the
    latest purchase value ``key + day``."""
    return spark.range(n).selectExpr(
        f"(id * 7919 + {shift}) % {n} AS customer_id",
        f"timestamp'2024-01-{day:02d}' AS purchase_timestamp",
        f"double((id * 7919 + {shift}) % {n} + {day}) AS latest_purchase_value",
        "1.0D AS avg_purchase_value", "2.0D AS avg_loyalty_score", "3.0D AS latest_loyalty_score",
    ).repartition(2)


def test_ingest_commits_are_key_sorted_in_small_row_groups(spark, tmp_path):
    """Each file of an ingest commit is sorted by key, in row groups of at
    most ``ROW_GROUP_ROWS`` rows whose key ranges are disjoint."""
    from feature_store_test_spark.store.table import ROW_GROUP_ROWS

    fg = make_fg(spark, tmp_path)
    fg.ingest(_fg_frame(spark, 20_000, 1))
    files = fg.table.commits()[-1]["files"]
    assert len(files) == 2 and sum(f["rows"] for f in files) == 20_000
    for f in files:
        keys = pq.read_table(f["path"], columns=["customer_id"])["customer_id"].to_pylist()
        assert keys == sorted(keys)
        md = pq.read_metadata(f["path"])
        assert md.num_row_groups >= 2
        bounds = []
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            assert rg.num_rows <= ROW_GROUP_ROWS
            s = rg.column(0).statistics
            bounds.append((s.min, s.max))
        assert all(hi < lo for (_, hi), (lo, _) in zip(bounds, bounds[1:]))


def test_point_read_decodes_one_row_group_per_file(spark, tmp_path, monkeypatch):
    """On a group of 3 commits, each file split into several row groups, a
    point read decodes at most one row group of each file it reads, and
    still returns the online view's row."""
    fg = make_fg(spark, tmp_path)
    for day in (1, 2, 3):
        fg.ingest(_fg_frame(spark, 12_000, day, shift=day))
    assert all(
        pq.read_metadata(f["path"]).num_row_groups >= 2
        for c in fg.table.commits() for f in c["files"]
    )
    reads = []
    read_row_groups = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *args, **kwargs):
        reads.append(list(row_groups))
        return read_row_groups(self, row_groups, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    for k in (0, 4_097, 11_999):
        reads.clear()
        got = fg.get_latest(k)
        assert got["latest_purchase_value"] == k + 3.0
        assert reads and all(len(groups) == 1 for groups in reads), reads
        assert len(reads) <= sum(len(c["files"]) for c in fg.table.commits())
    reads.clear()
    assert fg.get_latest(12_000) is None and all(len(g) <= 1 for g in reads)


def test_point_read_of_a_file_lacking_a_later_column_reads_null(spark, tmp_path):
    """A file written before ``merge_schema`` added a column reads that
    column as NULL; the file that carries it reads its value."""
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("et", T.TimestampType())])
    fg = FeatureStore(spark, str(tmp_path)).create("fg", schema, "k", "et")
    fg.ingest(spark.createDataFrame([(1, ts(1)), (2, ts(1))], schema))
    fg.table.append(spark.createDataFrame([(2, ts(2), 0.5)], "k long, et timestamp, score double"), merge_schema=True)
    assert fg.get_latest(1) == {"k": 1, "et": ts(1), "score": None}
    assert fg.get_latest(2) == {"k": 2, "et": ts(2), "score": 0.5}


def test_point_read_keeps_a_compactions_materialized_version(spark, tmp_path):
    """A compaction's files carry each row's ``_commit_version``; the read
    keeps it rather than taking the compaction's own version. Key 1's later
    arrival has the earlier event time, so only the materialized versions
    make it the parity latest."""
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 5, 10.0, 10.0, 5.0, 5.0), row(2, 1, 1.0, 1.0, 1.0, 1.0)], FG_SCHEMA))
    fg.ingest(spark.createDataFrame([row(1, 2, 20.0, 15.0, 6.0, 7.0)], FG_SCHEMA))
    fg.table.compact()
    files = fg.table.commits()[-1]["files"]
    versions = {v for f in files for v in pq.read_table(f["path"])["_commit_version"].to_pylist()}
    assert versions == {1, 2}
    assert fg.get_latest(1)["latest_purchase_value"] == 20.0
    assert fg.get_latest(1) == fg.online_view().where("customer_id = 1").collect()[0].asDict()
    fg.ingest(spark.createDataFrame([row(1, 1, 30.0, 22.5, 6.0, 7.0)], FG_SCHEMA))
    assert fg.get_latest(1)["latest_purchase_value"] == 30.0


def test_backfill_commit_plan_adds_no_sort(spark, sf_dir, tmp_path, monkeypatch):
    """The q16 -> ``ingest`` write plan holds exactly one ``Sort`` under
    each ``SortAggregate`` and none on top: the aggregate's output is
    already in key order, so the ingest's key sort costs nothing. A change
    to ``engineer_features`` that loses that order fails here. Where q16
    is already cached in the session (``tests/test_ml.py`` caches it), the
    plan is a scan of the cached relation, which keeps that relation's key
    order, and prints the relation's plans beneath it."""
    from feature_store_test_spark.queries.feature_parity import q16_engineer_features

    written = []
    write_data = VersionedParquetTable._write_data

    def capture(self, df, version):
        written.append(df._jdf.queryExecution().executedPlan().toString())
        return write_data(self, df, version)

    monkeypatch.setattr(VersionedParquetTable, "_write_data", capture)
    make_fg(spark, tmp_path).ingest(q16_engineer_features(spark, sf_dir))
    nodes = [re.sub(r"^[ +\-:]*(\*\(\d+\) )?", "", line) for line in written[0].splitlines()]
    sorts = [i for i, n in enumerate(nodes) if n.startswith("Sort [")]
    aggs = [i for i, n in enumerate(nodes) if n.startswith("SortAggregate(")]
    assert aggs and [i + 1 for i in aggs] == sorts, written[0]


def test_schema_evolution_widens_and_backfills_null(spark, tmp_path):
    """mergeSchema: new column widens the table; old commits read as NULL
    for it; missing columns in a later write are null-filled; type changes
    are rejected."""
    schema = T.StructType([T.StructField("k", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1,)], "k long"))
    t.append(spark.createDataFrame([(2, "a")], "k long, tag string"), merge_schema=True)
    assert t.schema.fieldNames() == ["k", "tag"]
    got = {r.k: r.tag for r in t.read().collect()}
    assert got == {1: None, 2: "a"}
    # a writer still on the old column set is null-backfilled under merge
    t.append(spark.createDataFrame([(3,)], "k long"), merge_schema=True)
    assert {r.k: r.tag for r in t.read().collect()}[3] is None
    # but an exact-schema writer without merge_schema is rejected
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(4,)], "k long"))
    with pytest.raises(ValueError, match="not schema evolution"):
        t.append(spark.createDataFrame([(5, 1.0)], "k long, tag double"), merge_schema=True)
    # time travel to the pre-evolution snapshot still works (NULL tag)
    v1 = sorted(t.versions())[0]
    old = t.read(as_of_version=v1).collect()
    assert [(r.k, r.tag) for r in old] == [(1, None)]


def test_load_reopens_table_from_log(spark, tmp_path):
    """A reader in another session reconstructs the schema, evolution
    included, from the commit log alone."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("d", T.StringType())]
    )
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    t.append(spark.createDataFrame([(3, "a", 9.5)], "k long, d string, score double"),
             merge_schema=True)
    re = VersionedParquetTable.load(spark, str(tmp_path / "t"))
    assert re.schema.fieldNames() == ["k", "d", "score"]
    assert sorted(map(tuple, re.read().collect())) == [
        (1, "a", None, 1), (2, "b", None, 1), (3, "a", 9.5, 2)
    ]


def test_hive_partitioned_log_is_rejected(spark, tmp_path):
    """A commit whose log records hive partition columns (a layout this
    table no longer reads) makes every reader raise, naming the layout,
    instead of reading its partition column as NULL: a snapshot read, a
    point read, a new serving session, a session refreshing the log tail
    and the change feed. An empty ``partition_cols``, as older
    unpartitioned logs record it, reads."""
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    behind = ServingSession(fg)
    fg.ingest(spark.createDataFrame([row(2, 2, 20.0, 20.0, 6.0, 6.0)], FG_SCHEMA))
    t = fg.table
    commit = t._load_commit(2)
    t._rewrite_commit({**commit, "partition_cols": []})
    assert fg.get_latest(2)["latest_purchase_value"] == 20.0
    t._rewrite_commit({**commit, "partition_cols": ["purchase_timestamp"]})
    readers = (
        t.read, lambda: fg.get_latest(1), lambda: ServingSession(fg), behind.refresh,
        lambda: t.changes(1),
    )
    for read in readers:
        with pytest.raises(ValueError, match="hive-partitioned"):
            read()


def test_table_changes_reads_only_new_commits(spark, tmp_path):
    schema = T.StructType([T.StructField("k", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    v1 = t.append(spark.createDataFrame([(1,), (2,)], schema))
    v2 = t.append(spark.createDataFrame([(3,)], schema))
    v3 = t.append(spark.createDataFrame([(4,)], schema))
    got = sorted(r.k for r in t.changes(v1).collect())
    assert got == [3, 4]
    got = sorted(r.k for r in t.changes(v1, until_version=v2).collect())
    assert got == [3]
    assert t.changes(v3).count() == 0
    # the incremental read must not scan the v1 data dir at all
    plan = t.changes(v1)._jdf.queryExecution().executedPlan().toString()
    assert f"v{v1:010d}" not in plan


def test_table_changes_across_compaction_falls_back_correctly(spark, tmp_path):
    schema = T.StructType([T.StructField("k", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    v1 = t.append(spark.createDataFrame([(1,)], schema))
    t.append(spark.createDataFrame([(2,)], schema))
    t.compact()
    t.append(spark.createDataFrame([(3,)], schema))
    got = sorted(r.k for r in t.changes(v1).collect())
    assert got == [2, 3]  # the compaction itself is not a data change


def test_merge_general_clauses(spark, tmp_path):
    """General MERGE: declarative t./s. expressions, carry-through of
    unspecified columns, insert defaults, and clause omission."""
    fg = make_fg(spark, tmp_path)
    fg.ingest(
        spark.createDataFrame(
            [row(1, 1, 10.0, 10.0, 5.0, 5.0), row(2, 1, 20.0, 20.0, 6.0, 6.0)],
            FG_SCHEMA,
        )
    )
    src = spark.createDataFrame(
        [(1, ts(2), 100.0), (3, ts(2), 7.0)],
        "customer_id long, purchase_timestamp timestamp, purchase_value double",
    )
    v = fg.merge(
        src,
        when_matched={
            "purchase_timestamp": F.col("s.purchase_timestamp"),
            "latest_purchase_value": F.col("s.purchase_value"),
            "avg_purchase_value": (
                F.col("t.avg_purchase_value") + F.col("s.purchase_value")
            ) / 2.0,
        },
        when_not_matched={
            "purchase_timestamp": F.col("s.purchase_timestamp"),
            "latest_purchase_value": F.col("s.purchase_value"),
            "avg_purchase_value": F.col("s.purchase_value"),
            "avg_loyalty_score": F.lit(0.0),
            "latest_loyalty_score": F.lit(0.0),
        },
    )
    assert v is not None
    state = {r.customer_id: r for r in fg.online_view().collect()}
    assert state[1].latest_purchase_value == 100.0
    assert state[1].avg_purchase_value == pytest.approx((10.0 + 100.0) / 2)
    assert state[1].avg_loyalty_score == 5.0  # carried through, not clobbered
    assert state[2].latest_purchase_value == 20.0  # untouched key unchanged
    assert state[3].avg_purchase_value == 7.0  # inserted with defaults
    assert state[3].avg_loyalty_score == 0.0


def test_merge_update_only_and_insert_only(spark, tmp_path):
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    src = spark.createDataFrame(
        [(1, ts(2), 99.0), (9, ts(2), 1.0)],
        "customer_id long, purchase_timestamp timestamp, purchase_value double",
    )
    # WHEN MATCHED only: key 9 must NOT appear
    fg.merge(
        src,
        when_matched={
            "purchase_timestamp": F.col("s.purchase_timestamp"),
            "latest_purchase_value": F.col("s.purchase_value"),
        },
    )
    keys = {r.customer_id for r in fg.online_view().collect()}
    assert keys == {1}
    # WHEN NOT MATCHED only: key 1 must stay at 99, key 9 inserted
    fg.merge(
        src,
        when_not_matched={
            "purchase_timestamp": F.col("s.purchase_timestamp"),
            "latest_purchase_value": F.col("s.purchase_value"),
        },
    )
    state = {r.customer_id: r for r in fg.online_view().collect()}
    assert set(state) == {1, 9}
    assert state[1].latest_purchase_value == 99.0
    assert state[9].latest_purchase_value == 1.0
    assert state[9].avg_purchase_value is None  # no default supplied


def test_merge_matches_upsert_rule(spark, tmp_path):
    """The specialized upsert is expressible through the general merge —
    same (old+new)/2 state either way."""
    fg_a = make_fg(spark, tmp_path / "a")
    fg_b = make_fg(spark, tmp_path / "b")
    seed = spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA)
    fg_a.ingest(seed)
    fg_b.ingest(seed)
    src = spark.createDataFrame(
        [(1, ts(3), 30.0)],
        "customer_id long, purchase_timestamp timestamp, purchase_value double",
    )
    fg_a.upsert(src, {"purchase_value": "purchase_value"})
    fg_b.merge(
        src,
        when_matched={
            "purchase_timestamp": F.col("s.purchase_timestamp"),
            "latest_purchase_value": F.col("s.purchase_value"),
            "avg_purchase_value": (
                F.col("t.avg_purchase_value") + F.col("s.purchase_value")
            ) / 2.0,
        },
        when_not_matched={
            "purchase_timestamp": F.col("s.purchase_timestamp"),
            "latest_purchase_value": F.col("s.purchase_value"),
            "avg_purchase_value": F.col("s.purchase_value"),
        },
    )
    a = fg_a.online_view().collect()[0]
    b = fg_b.online_view().collect()[0]
    assert (a.latest_purchase_value, a.avg_purchase_value) == (
        b.latest_purchase_value,
        b.avg_purchase_value,
    )


def test_upsert_of_empty_updates_commits_nothing(spark, tmp_path):
    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 10.0, 10.0, 5.0, 5.0)], FG_SCHEMA))
    empty = spark.createDataFrame(
        [], "customer_id long, purchase_timestamp timestamp, purchase_value double"
    )
    assert fg.upsert(empty, {"purchase_value": "purchase_value"}) is None
    assert fg.table.versions() == [1]


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    fg = make_fg(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, ts(1), 1.0), (1, ts(2), 2.0)],
        "customer_id long, purchase_timestamp timestamp, purchase_value double",
    )
    with pytest.raises(ValueError, match="one source row per key"):
        fg.merge(src, when_matched={})


def test_concurrent_append_publish_race_retries_to_next_version(spark, tmp_path):
    """Two writers race to the same version: the loser must NOT clobber
    the winner's commit (os.link exclusivity) and, appends being
    commutative, must retry under the next free version — both rows end
    up readable under distinct versions."""
    from feature_store_test_spark.store.table import VersionedParquetTable

    schema = T.StructType([T.StructField("x", T.LongType())])

    class RacingTable(VersionedParquetTable):
        """Simulates losing one race: the first publish attempt finds the
        version already taken (another writer committed between our
        latest_version() read and our publish)."""

        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self._race_armed = False

        def _publish_new_commit(self, tmp, version):
            if self._race_armed:
                self._race_armed = False
                other = VersionedParquetTable(spark, self.path, schema)
                other.append(spark.createDataFrame([(99,)], schema))
            return super()._publish_new_commit(tmp, version)

    t = RacingTable(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1,)], schema))
    t._race_armed = True
    v = t.append(spark.createDataFrame([(2,)], schema))
    assert v == 3  # lost version 2 to the racer, retried to 3
    got = {r.x for r in t.read().collect()}
    assert got == {1, 2, 99}  # nobody's commit was clobbered
    assert t.versions() == [1, 2, 3]
    # the retried data dir was renamed to its new version, so each row
    # reads back the version of the commit that published it
    got = {(r.x, r._commit_version) for r in t.read().collect()}
    assert got == {(1, 1), (99, 2), (2, 3)}
    assert {r.x for r in t.changes(2).collect()} == {2}


def test_compact_aborts_on_publish_race(spark, tmp_path):
    """compact() pins its snapshot to base_version; if another writer
    commits first, the compaction must abort loudly, not retry onto a
    stale snapshot."""
    from feature_store_test_spark.store.table import (
        ConcurrentCommitError,
        VersionedParquetTable,
    )

    schema = T.StructType([T.StructField("x", T.LongType())])

    class RacingTable(VersionedParquetTable):
        def _publish_new_commit(self, tmp, version):
            if not getattr(self, "_raced", False):
                self._raced = True
                other = VersionedParquetTable(spark, self.path, schema)
                other.append(spark.createDataFrame([(99,)], schema))
            return super()._publish_new_commit(tmp, version)

    t = RacingTable(spark, str(tmp_path / "t"), schema)
    VersionedParquetTable(spark, str(tmp_path / "t"), schema).append(
        spark.createDataFrame([(1,)], schema)
    )
    with pytest.raises(ConcurrentCommitError):
        t.compact()
    # the racer's commit survived untouched
    assert {r.x for r in t.read().collect()} == {1, 99}


def test_delete_restore_and_history(spark, tmp_path):
    """DELETE rewrites the snapshot copy-on-write (time travel still sees
    the rows); RESTORE republishes an old snapshot as the new latest;
    history() enumerates every commit with its operation."""
    schema = T.StructType([T.StructField("x", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1,), (2,), (3,)], schema))
    t.append(spark.createDataFrame([(4,)], schema))

    v, n = t.delete("x >= 3")
    assert (v, n) == (3, 2)
    assert {r.x for r in t.read().collect()} == {1, 2}
    # pre-delete versions still fully readable
    assert {r.x for r in t.read(as_of_version=2).collect()} == {1, 2, 3, 4}
    # arrival-order axis survives the rewrite
    assert {r["_commit_version"] for r in t.read().collect()} == {1}

    rv = t.restore(2)
    assert rv == 4
    assert {r.x for r in t.read().collect()} == {1, 2, 3, 4}

    h = {r.version: (r.type, r.op) for r in t.history().collect()}
    assert h[1] == ("append", "append")
    assert h[3] == ("compact", "delete")
    assert h[4] == ("compact", "restore")
    hist = {r.version: r for r in t.history().collect()}
    assert hist[4].restored_from == 2
    assert hist[3].n_rows == 2  # post-delete snapshot row count


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    """Rows where the predicate is NULL are KEPT (SQL DELETE semantics:
    only rows where the condition is TRUE are removed)."""
    schema = T.StructType([T.StructField("x", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    t.append(spark.createDataFrame([(1,), (None,), (5,)], schema))
    v, n = t.delete("x > 2")
    assert n == 1
    got = {r.x for r in t.read().collect()}
    assert got == {1, None}


def test_vacuum_crash_window_is_clean_and_retryable(spark, tmp_path):
    """Round-7 crash-safety: vacuum tombstones BEFORE deleting, so a crash
    mid-vacuum leaves readers with the clean 'vacuumed' error (never a raw
    parquet path-not-found), and the retained vacuum_dir lets the next
    vacuum() finish the deletion idempotently."""
    import json as _json

    schema = T.StructType([T.StructField("x", T.LongType())])
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema)
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], schema))
    t.compact()

    # simulate the crash-after-tombstone state for version 1: tombstone
    # written (data_dir nulled, vacuum_dir retained), directory NOT deleted
    cf = t._commit_file(1)
    with open(cf) as f:
        c = _json.load(f)
    assert c["data_dir"]
    c["vacuum_dir"] = c["data_dir"]
    c["data_dir"] = None
    c["vacuumed"] = True
    t._rewrite_commit(c)
    leaked = c["vacuum_dir"]
    assert os.path.isdir(leaked)

    # readers see the clean vacuumed error, not a parquet read failure
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(as_of_version=1)

    # the next vacuum finishes the interrupted deletion AND vacuums the rest
    removed = t.vacuum()
    assert not os.path.isdir(leaked)
    assert 2 in removed and 3 in removed
    # the retried completion is reported too (r8: the crashed call never
    # returned, so this call's list is the only place version 1 can appear)
    assert 1 in removed
    with open(cf) as f:
        assert "vacuum_dir" not in _json.load(f)
    # current snapshot unaffected
    assert t.read().count() == 3
