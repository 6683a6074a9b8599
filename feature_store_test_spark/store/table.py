"""Commit-logged versioned parquet table (a minimal lakehouse table format).

Why not plain ``spark.write.mode("append")``: object-store listings are
eventually consistent and give no atomicity, no versions, and no time
travel. A JSON commit log (the Delta/Iceberg core idea, reimplemented
minimally on public primitives since neither package ships in this
environment) gives us:

- atomic commits: data files land first, then one rename publishes the
  commit file — readers never see partial writes;
- snapshot reads + time travel: a read pins the set of committed files;
- append-only history: every ingest is a new version (the reference's
  offline-store semantic, /root/reference/core/feature_store_manager.py:96-102,
  where "every put is a new version row").

Scale notes: data files are written by executors (full parallelism); only
the tiny commit JSON is driver-side. There is one file layout: every commit
is a flat data dir of part files, and reads hand Spark one list of parquet
files, so predicate pushdown works unchanged. Files are pruned by the
per-file min/max stats in the log, not by directory discovery; a layout
that serves a read pattern is a clustered ``compact(cluster_by=...)`` or
``compact(zorder_by=...)``. Every file is written in row groups of
``ROW_GROUP_ROWS`` rows, and a feature group's ingest sorts each file by
key, so the driver-side point read (``_read_rows``) opens each candidate
file's footer and decodes only the row groups whose min/max admit the key:
about one row group per commit. A real deployment would swap this class for
Delta/Iceberg with zero API change — documented equivalence, same plans.

Delta/Iceberg adapter seam (the swap path when the packages are
available — neither ships in this environment). Every public API here
maps 1:1 onto a Delta Lake call (Iceberg names in parens); an adapter
implementing this class's surface over ``delta.tables.DeltaTable`` is
mechanical:

==========================  ===================================================
this class                  Delta Lake (Iceberg)
==========================  ===================================================
``append(df)``              ``df.write.format("delta").mode("append")``
                            (``df.writeTo(t).append()``)
``read(as_of_version=v)``   ``spark.read.format("delta").option("versionAsOf",
                            v)`` (``VERSION AS OF`` snapshot-id read)
``read(where=...)``         same — file skipping via Delta stats / Iceberg
                            manifest min-max, identical semantics to
                            ``_candidate_files``
``history()``               ``DeltaTable.history()`` (``table.snapshots``)
``changes(v0, v1)``         CDF: ``.option("readChangeFeed", "true")
                            .option("startingVersion", ...)`` (incremental
                            read between snapshot ids)
``compact(zorder_by=c)``    ``OPTIMIZE t ZORDER BY (c)`` (``rewrite_data_files``
                            with sort order)
``delete(cond)``            ``DeltaTable.delete(cond)`` (``DELETE FROM``)
``restore(v)``              ``RESTORE TABLE t TO VERSION AS OF v``
``vacuum()``                ``VACUUM t`` (``expire_snapshots``)
``merge`` (feature_group)   ``DeltaTable.merge().whenMatched...`` (``MERGE
                            INTO``)
``ConcurrentCommitError``   ``ConcurrentModificationException`` — same
                            optimistic first-writer-wins protocol
==========================  ===================================================

The exclusive-create commit publish below IS Delta's protocol (versioned
JSON actions published atomically over parquet data files), so behavior
under concurrent writers, time travel, and CDF matches by construction,
not just by API shape. ``tests/test_store.py`` pins those semantics, so
an adapter passes the same suite.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import re
import tempfile
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema

_LOG_DIR = "_commits"
_DATA_DIR = "data"
# rows per row group of every data file a table writes: the batch of Spark's
# parquet reader (spark.sql.parquet.columnarReaderBatchSize), and small
# enough that a point read in a key-sorted file decodes one group of 4,096
ROW_GROUP_ROWS = 4096


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first.

    Optimistic concurrency, first-writer-wins: commit files are created
    EXCLUSIVELY (os.link raises EEXIST where os.rename would silently
    replace the winner's commit — the lost-update failure mode of naive
    rename-based logs). Appends are commutative, so ``append`` retries
    under the next version automatically; ``compact`` aborts because its
    snapshot is stale — re-run it against the new latest version.
    """

# types whose per-file min/max are meaningful and JSON-serializable —
# arrays/maps/binary are excluded (no total order worth skipping on)
_STAT_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
    T.DateType, T.TimestampType,
)


def _stat_value(v):
    """JSON-safe stat encoding; isoformat keeps timestamp/date ordering
    lexicographic so pruning compares strings, never parses."""
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def _is_nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _footer_bounds(md: pq.FileMetaData, col: int, groups):
    """(min, max) of leaf column ``col`` over the row groups ``groups`` of a
    parquet footer, (None, None) when every value is NULL, or None when a
    bound is unknown: a row group holding values has no min/max (the writer
    drops them above 4 KiB) or a NaN bound."""
    lo = hi = None
    for i in groups:
        rg = md.row_group(i)
        s = rg.column(col).statistics
        if s is not None and s.has_null_count and s.null_count == rg.num_rows:
            continue  # all NULL in this row group
        if s is None or not s.has_min_max or _is_nan(s.min) or _is_nan(s.max):
            return None
        lo = s.min if lo is None else min(lo, s.min)
        hi = s.max if hi is None else max(hi, s.max)
    return lo, hi


def _leaves(md: pq.FileMetaData) -> dict[str, int]:
    """The index of each leaf column of a parquet footer, by dotted path."""
    return {md.schema.column(i).path: i for i in range(md.num_columns)}


def _footer_stats(md: pq.FileMetaData, leaves: dict, columns: list[str], groups) -> dict:
    """The log's min/max entry per column of ``columns`` over the row groups
    ``groups`` of a footer whose leaf columns are ``leaves`` (``_leaves``).
    A column whose bounds are unknown, or that the file lacks, gets no
    entry, so it never prunes (``_may_match``)."""
    return {
        c: {"min": _stat_value(_naive(b[0])), "max": _stat_value(_naive(b[1]))}
        for c in columns
        if c in leaves and (b := _footer_bounds(md, leaves[c], groups)) is not None
    }


def _naive(v):
    """Footer timestamps are tz-aware UTC; ``collect()`` gives naive local."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone().replace(tzinfo=None)
    return v


def _data_files(data_dir: str) -> list[str]:
    """Absolute paths of the part files in ``data_dir``, sorted."""
    root = os.path.abspath(data_dir)
    return sorted(
        os.path.join(root, n)
        for n in os.listdir(root)
        if not n.startswith(("_", "."))  # _SUCCESS, .crc: not data
    )


def _fs_path(path: str) -> str:
    """A logged file path as a filesystem path: older logs hold Spark's
    ``file:`` URIs, whose path part Hadoop takes literally (unescaped)."""
    return re.sub(r"^file:(//[^/]*)?", "", path)


# the data dir of an append commit: v<version>-<8 hex>, see _write_data
_VERSION_DIR = r"/v(\d{10})-[0-9a-f]{8}/"


def _latest_rows(got: pa.Table, key: str, max_of: list[str]) -> pa.Table:
    """One row of ``got`` per ``key`` value: the one with the largest
    ``max_of`` tuple, compared as Spark compares a struct (NULL lowest, NaN
    highest). As in a Spark GROUP BY, NULL keys are one group, NaN keys
    another, and -0.0 groups with 0.0."""
    k = got[key]
    k = pc.add(k, 0.0) if pa.types.is_floating(k.type) else k  # -0.0 + 0.0 is 0.0
    group = pc.dictionary_encode(k.combine_chunks(), null_encoding="encode").indices
    by = {"g": group}  # any order of the groups keeps each one contiguous
    for i, c in enumerate(max_of):
        if pa.types.is_floating(got[c].type):  # Arrow sorts NaN with NULL
            by[f"nan{i}"] = pc.fill_null(pc.is_nan(got[c]), False)
        by[f"v{i}"] = got[c]
    sort_keys = [(name, "descending") for name in by]
    order = pc.sort_indices(pa.table(by), sort_keys=sort_keys, null_placement="at_end")
    g = group.take(order)
    first = pa.concat_arrays([pa.array([True]), pc.not_equal(g[1:], g[:-1])])
    return got.take(order.filter(first))


def _file_entry(path: str, stat_columns: list[str]) -> dict | None:
    """The commit-log entry of one written part file (absolute ``path``):
    rows, bytes and min/max per ``stat_columns`` column, all from its
    parquet footer. None for a file with no rows."""
    md = pq.read_metadata(path)
    if md.num_rows == 0:
        return None
    return {
        "path": path,
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "stats": _footer_stats(md, _leaves(md), stat_columns, range(md.num_row_groups)),
    }


def _stat_columns(schema: T.StructType) -> list[str]:
    """The columns of ``schema`` whose min/max the log keeps."""
    return [f.name for f in schema.fields if isinstance(f.dataType, _STAT_TYPES)]


def _columns(schema: T.StructType) -> list[tuple[str, str]]:
    """(name, type) pairs; ``simpleString`` drops nullability at every depth."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _may_match(stats: dict, col: str, op: str, value) -> bool:
    """Can any row of a file with these stats satisfy ``col op value``?
    Conservative: missing stats → True (never prune without evidence);
    all-null column (min is None) → False (comparisons are never true on
    NULL, so the file cannot contribute)."""
    s = stats.get(col)
    if s is None:
        return True
    mn, mx = s.get("min"), s.get("max")
    if mn is None or mx is None:
        return False
    # Spark orders NaN above every value and has NaN = NaN; Python's
    # comparisons are all False on NaN, so a NaN bound or value never prunes
    if any(map(_is_nan, (mn, mx, value))):
        return True
    v = _stat_value(value)
    if op == "=":
        return mn <= v <= mx
    if op == "<":
        return mn < v
    if op == "<=":
        return mn <= v
    if op == ">":
        return mx > v
    if op == ">=":
        return mx >= v
    raise ValueError(f"unsupported skip predicate op: {op!r}")


def _admits(stats: dict, where: list[tuple]) -> bool:
    """Can a file or row group with these stats hold a row that satisfies
    every ``(col, op, value)`` term of ``where``?"""
    return all(_may_match(stats, c, op, v) for (c, op, v) in where)


class VersionedParquetTable:
    def __init__(self, spark: SparkSession, path: str, schema: T.StructType):
        self.spark = spark
        self.path = path
        self.schema = schema

    # -- log helpers --------------------------------------------------------
    @property
    def _log_path(self) -> str:
        return os.path.join(self.path, _LOG_DIR)

    def _commit_file(self, version: int) -> str:
        return os.path.join(self._log_path, f"{version:010d}.json")

    def versions(self) -> list[int]:
        if not os.path.isdir(self._log_path):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self._log_path)
            if f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _load_commit(self, version: int) -> dict:
        """The commit file of ``version``. Every reader of the log goes
        through here, so a commit in a layout this table cannot read — a
        hive-partitioned one, whose partition values live only in its
        directory names — is rejected here rather than read as NULLs."""
        with open(self._commit_file(version)) as f:
            commit = json.load(f)
        if commit.get("partition_cols"):
            raise ValueError(
                f"version {version} of {self.path} is hive-partitioned by "
                f"{commit['partition_cols']}; partitioned layouts are not supported"
            )
        return commit

    def commits(self) -> list[dict]:
        """Raw commit-log entries (the machine-readable log; ``history()``
        is the DESCRIBE HISTORY DataFrame view of the same)."""
        return [self._load_commit(v) for v in self.versions()]

    def _write_temp_commit(self, commit: dict) -> str:
        """Write ``commit`` to a temp file in the log dir and return its
        path; the caller publishes it (exclusive link or atomic rename)."""
        os.makedirs(self._log_path, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self._log_path, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(commit, f)
        return tmp

    def _publish_new_commit(self, tmp: str, version: int) -> None:
        """Exclusively publish a NEW commit file. ``os.link`` is atomic on
        POSIX and raises if the target exists — unlike ``os.rename``,
        which would silently overwrite a concurrent winner's commit."""
        target = self._commit_file(version)
        try:
            os.link(tmp, target)
        except FileExistsError:
            os.unlink(tmp)
            raise ConcurrentCommitError(
                f"version {version} of {self.path} was committed by another writer"
            ) from None
        os.unlink(tmp)

    def _rewrite_commit(self, c: dict) -> None:
        """Atomically replace a commit file (tempfile + rename)."""
        os.rename(self._write_temp_commit(c), self._commit_file(c["version"]))

    # -- data files ---------------------------------------------------------
    @property
    def _compact_schema(self) -> T.StructType:
        """Schema of snapshot-rewrite files, which MATERIALIZE the version,
        and the read schema of every commit: an append file lacks the
        version column and reads it as NULL."""
        return T.StructType(
            [*self.schema.fields, T.StructField("_commit_version", T.IntegerType())]
        )

    def _write_data(self, df: DataFrame, version: int) -> dict:
        """Write ``df`` as a new data dir named after ``version`` and return
        the commit body: data_dir, schema, write time and one entry per part
        file (absolute path, rows, bytes, min/max per eligible column).

        The stats are the write-time stats Delta keeps in its log (Iceberg
        in manifests), taken from the footers the parquet writer has just
        written: a few KiB read per file, in this process, and no Spark job
        reads the data back. At 100 TB these are what turn a point read
        into an O(files-touched) operation instead of a full scan, and the
        log stays tiny (one entry per file, not per row). A column whose
        bounds are unknown gets no stats entry, so it never prunes.

        Every file is written in row groups of at most ``ROW_GROUP_ROWS``
        rows, each with its own footer min/max, which ``_read_rows`` prunes
        by; a ``FeatureGroup.ingest`` commit is sorted by key within each
        file, so its row groups hold disjoint key ranges.
        """
        t0 = time.perf_counter()
        data_dir = os.path.join(
            self.path, _DATA_DIR, f"v{version:010d}-{uuid.uuid4().hex[:8]}"
        )
        df.write.mode("errorifexists").option(
            "parquet.block.row.count.limit", ROW_GROUP_ROWS
        ).parquet(data_dir)
        stat_columns = _stat_columns(df.schema)
        files = [e for e in (_file_entry(p, stat_columns) for p in _data_files(data_dir)) if e]
        return {
            "version": version,
            "data_dir": data_dir,
            "ts_unix": time.time(),
            "schema": df.schema.jsonValue(),
            "files": files,
            "write_s": time.perf_counter() - t0,
        }

    # -- schema evolution ----------------------------------------------------
    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VersionedParquetTable":
        """Reopen an existing table from its commit log alone — the schema
        (including any evolution) comes from the LATEST commit, exactly how
        Delta/Iceberg readers resolve table metadata. No schema argument
        means no drift between writer and reader."""
        probe = cls(spark, path, T.StructType([]))
        latest = probe.latest_version()
        if latest is None:
            raise ValueError(f"no commits at {path}")
        schema = T.StructType.fromJson(probe._load_commit(latest)["schema"])
        fields = [f for f in schema.fields if f.name != "_commit_version"]
        return cls(spark, path, T.StructType(fields))

    def _evolve_schema(self, incoming: T.StructType) -> None:
        """Widen self.schema with columns new in ``incoming`` (appended at
        the end, Delta mergeSchema semantics). Existing columns must keep
        their types — type *changes* are rejected, only additions evolve."""
        existing = {f.name: f.dataType for f in self.schema.fields}
        for f in incoming.fields:
            have = existing.get(f.name)
            if have is not None and have != f.dataType:
                raise ValueError(
                    f"column {f.name!r} type change {have} -> {f.dataType} "
                    "is not schema evolution; only new columns are mergeable"
                )
        new = [f for f in incoming.fields if f.name not in existing]
        if new:
            self.schema = T.StructType([*self.schema.fields, *new])

    # -- write --------------------------------------------------------------
    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Append a new immutable version; returns the committed version id.

        Files first, then an atomic rename of the commit JSON — a reader
        enumerating the log sees either the whole commit or none of it.
        Column names AND types (nullability aside) must match the table's;
        a mismatch is rejected before any file is written.

        ``merge_schema=True`` (Delta's mergeSchema): new columns in ``df``
        widen the table schema; columns the table has but ``df`` lacks are
        filled with NULL. Earlier commits' files simply lack the new
        columns — the parquet reader yields NULL for them, so old
        snapshots and the live table stay readable with one schema.
        """
        if merge_schema:
            self._evolve_schema(df.schema)
            missing = [
                f for f in self.schema.fields if f.name not in df.schema.fieldNames()
            ]
            for f in missing:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            df = df.select(*self.schema.fieldNames())
        if _columns(df.schema) != _columns(self.schema):
            raise ValueError(
                f"schema mismatch: expected {self.schema.simpleString()}, "
                f"got {df.schema.simpleString()}"
            )
        commit = self._write_data(df, (self.latest_version() or 0) + 1)
        # appends are commutative: on a publish race, re-commit the SAME
        # data files, their dir renamed, under the next free version
        # (bounded retries)
        for _ in range(16):
            try:
                self._publish_new_commit(self._write_temp_commit(commit), commit["version"])
                return commit["version"]
            except ConcurrentCommitError:
                self._renumber(commit, (self.latest_version() or 0) + 1)
        raise ConcurrentCommitError(
            f"append to {self.path} lost {16} publish races in a row"
        )

    def _renumber(self, commit: dict, version: int) -> None:
        """Move an unpublished commit's data dir to ``version``'s name —
        reads take an append's ``_commit_version`` from its dir name."""
        old = os.path.basename(commit["data_dir"])
        new = f"v{version:010d}-{old.partition('-')[2]}"
        data_dir = os.path.join(os.path.dirname(commit["data_dir"]), new)
        os.rename(commit["data_dir"], data_dir)
        for f in commit["files"]:
            f["path"] = f["path"].replace(f"/{old}/", f"/{new}/")
        commit.update(version=version, data_dir=data_dir, ts_unix=time.time())

    # -- maintenance --------------------------------------------------------
    def compact(
        self,
        cluster_by: list[str] | None = None,
        n_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the current snapshot as one commit (OPTIMIZE analog).

        Small-file mitigation: N append commits become a single data dir;
        subsequent reads scan compacted files + any later appends. The
        per-row ``_commit_version`` is MATERIALIZED into the compacted
        files, so arrival-order semantics (parity online view, §2.13 Q5)
        survive compaction bit-for-bit. Old dirs are kept for time travel
        (a vacuum policy would garbage-collect them after a retention
        window, exactly like Delta).

        ``cluster_by``: range-cluster the rewrite on these columns
        (repartitionByRange + sortWithinPartitions — the OPTIMIZE ZORDER /
        liquid-clustering analog). Files then hold disjoint key ranges, so
        the per-file min/max stats become *tight* and a point read prunes
        to ~1 file instead of all of them. Cluster on the serving key; at
        100 TB this is the difference between a point read touching one
        row group and touching every file in the table.

        ``zorder_by``: Morton-interleave the columns' bits and range-cluster
        on the resulting z-value (OPTIMIZE ZORDER BY proper — see
        operators/zorder.py). Unlike ``cluster_by`` (lexicographic: only
        the leading column's stats get tight), every z-ordered dimension
        gets tight per-file min/max boxes, so predicates on ANY of them
        prune files. Use for multi-column point/range read patterns.

        ``n_files``: explicit output file count (the OPTIMIZE target-file-
        size knob, expressed as a count). Without it AQE sizes the shuffle
        — right at scale, but at toy scale it coalesces everything into
        one file and there is nothing left to skip.
        """
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are mutually exclusive")
        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to compact: table has no commits")
        snapshot = self.read()  # includes _commit_version
        if zorder_by:
            from feature_store_test_spark.operators.zorder import zorder_key

            missing = set(zorder_by) - set(self.schema.fieldNames())
            if missing:
                raise ValueError(f"cluster columns not in schema: {sorted(missing)}")
            z = zorder_key(snapshot, list(zorder_by))
            range_args = ([n_files] if n_files else []) + ["__z"]
            snapshot = (
                snapshot.withColumn("__z", z)
                .repartitionByRange(*range_args)
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif cluster_by:
            missing = set(cluster_by) - set(self.schema.fieldNames())
            if missing:
                raise ValueError(f"cluster columns not in schema: {sorted(missing)}")
            range_args = ([n_files] if n_files else []) + list(cluster_by)
            snapshot = snapshot.repartitionByRange(*range_args).sortWithinPartitions(
                *cluster_by
            )
        elif n_files:
            snapshot = snapshot.repartition(n_files)
        return self._rewrite_snapshot(
            snapshot, base, {"cluster_by": cluster_by or [], "zorder_by": zorder_by or []}
        )

    def _rewrite_snapshot(self, snapshot: DataFrame, base: int, extra: dict) -> int:
        """Publish ``snapshot`` (with its ``_commit_version`` column) as a
        compact-type commit replacing everything up to ``base``. Shared by
        compact / delete / restore — every full-snapshot rewrite op."""
        version = base + 1
        commit = {
            **self._write_data(snapshot, version),
            "type": "compact",
            "base_version": base,
            **extra,
        }
        # a snapshot rewrite is pinned to base_version — losing the
        # publish race means the snapshot is stale, so abort (no retry)
        self._publish_new_commit(self._write_temp_commit(commit), version)
        return version

    def delete(self, condition) -> tuple[int, int]:
        """DELETE FROM analog: rewrite the snapshot without matching rows.

        ``condition``: a Column or SQL string. Returns (new_version,
        n_deleted). Copy-on-write like Delta's DELETE — time travel to
        any pre-delete version still sees the rows (vacuum is the
        retention boundary, same as always). At scale the rewrite cost is
        the snapshot scan: every visible file is rewritten, also the files
        whose stats show they hold no matching row (documented trade)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to delete from: table has no commits")
        snapshot = self.read().cache()
        try:
            n_deleted = snapshot.where(cond).count()
            kept = snapshot.where(~cond | cond.isNull())
            version = self._rewrite_snapshot(
                kept, base, {"op": "delete", "predicate": str(condition)}
            )
        finally:
            snapshot.unpersist()
        return version, n_deleted

    def restore(self, to_version: int) -> int:
        """RESTORE analog: re-publish the snapshot as of ``to_version`` as
        the new latest version (history is preserved — the restore is
        itself a commit, exactly like Delta RESTORE)."""
        if to_version not in self.versions():
            raise ValueError(f"unknown version {to_version}")
        base = self.latest_version()
        snapshot = self.read(as_of_version=to_version)
        return self._rewrite_snapshot(
            snapshot, base, {"op": "restore", "restored_from": to_version}
        )

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY analog: one row per commit — version, type,
        operation, timestamp, file/row counts, bytes written and write time
        (data write + footer pass; both NULL for commits logged before they
        were recorded) — straight from the log."""
        rows = []
        for c in self.commits():
            files = c.get("files") or []
            rows.append(
                (
                    c["version"],
                    c.get("type", "append"),
                    c.get("op", c.get("type", "append")),
                    float(c["ts_unix"]),
                    len(files),
                    sum(f.get("rows") or 0 for f in files),
                    c.get("base_version"),
                    c.get("restored_from"),
                    sum(f["bytes"] for f in files) if "write_s" in c else None,
                    c.get("write_s"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, type string, op string, ts_unix double, "
            "n_files int, n_rows long, base_version int, restored_from int, "
            "n_bytes long, write_s double",
        )

    def vacuum(self) -> list[int]:
        """Garbage-collect data made unreachable by the LATEST compaction:
        commits at or below its base_version. Their commit files are kept
        (tombstoned with the data_dir nulled) so the version history stays
        enumerable; time travel below the compaction base stops working —
        the documented retention trade, same as Delta VACUUM.

        Returns the version ids whose data deletion COMPLETED in this
        call (a version whose rmtree fails non-fatally is reported by
        the later call whose retry leg finishes it — exactly once).
        """
        import shutil

        commits = self.commits()
        compacts = [c for c in commits if c.get("type") == "compact"]
        if not compacts:
            return []
        base = max(compacts, key=lambda c: c["version"])["base_version"]
        removed = []
        for c in commits:
            # retry leg: a prior vacuum that crashed after tombstoning but
            # before (or during) the rmtree left vacuum_dir behind —
            # finish the deletion idempotently
            if c.get("vacuumed") and c.get("vacuum_dir"):
                shutil.rmtree(c["vacuum_dir"], ignore_errors=True)
                if not os.path.exists(c["vacuum_dir"]):
                    c.pop("vacuum_dir")
                    self._rewrite_commit(c)
                    # a retried COMPLETION is a vacuum of this version: a
                    # mid-rmtree-crashed version would otherwise be
                    # reported by neither the crashed call nor the retry.
                    # Reporting is completion-based on both legs — see the
                    # normal leg below — so a version is reported by
                    # exactly ONE call, the one whose rmtree finished.
                    removed.append(c["version"])
                continue
            if c["version"] <= base and c.get("data_dir"):
                # TOMBSTONE FIRST, then delete: delete-then-tombstone has
                # a crash window where the data is gone but the commit
                # still points at it, so readers hit a raw parquet
                # path-not-found instead of the clean "versions were
                # vacuumed" error. Tombstone-first inverts the failure: a
                # crash leaks the directory, and the retained vacuum_dir
                # lets the next vacuum() finish the job (retry leg above).
                c["vacuum_dir"] = c["data_dir"]
                c["data_dir"] = None
                c["vacuumed"] = True
                self._rewrite_commit(c)
                shutil.rmtree(c["vacuum_dir"], ignore_errors=True)
                if not os.path.exists(c["vacuum_dir"]):
                    c.pop("vacuum_dir")
                    self._rewrite_commit(c)
                    # completion-based reporting: if the
                    # rmtree failed non-fatally (ignore_errors swallows
                    # e.g. EACCES) the retained vacuum_dir routes this
                    # version to the retry leg of a LATER call, which
                    # reports it then — appending here too would report
                    # the same version twice across calls.
                    removed.append(c["version"])
        return removed

    # -- read ---------------------------------------------------------------
    def _visible_commits(self, as_of_version: int | None) -> list[dict]:
        """The commits a snapshot reads: the latest visible compaction
        (first, if any) and the append commits above its base_version — a
        compaction replaces every commit at or below it (older dirs remain
        only for deeper time travel)."""
        commits = [
            self._load_commit(v)
            for v in self.versions()
            if as_of_version is None or v <= as_of_version
        ]
        compacts = [c for c in commits if c.get("type") == "compact"]
        compact = max(compacts, key=lambda c: c["version"]) if compacts else None
        visible_appends = [
            c
            for c in commits
            if c.get("type", "append") == "append"
            and (compact is None or c["version"] > compact["base_version"])
        ]
        gone = [c["version"] for c in visible_appends if not c.get("data_dir")]
        if gone:
            raise ValueError(
                f"versions {gone} were vacuumed; time travel below the "
                "compaction base is no longer available"
            )
        return ([compact] if compact else []) + visible_appends

    @staticmethod
    def _candidate_files(commit: dict, where: list[tuple]) -> list[str] | None:
        """File paths of this commit that may hold matching rows, or None
        when the commit predates stats (→ scan its whole dir)."""
        files = commit.get("files")
        if files is None:
            return None
        return [f["path"] for f in files if _admits(f["stats"], where)]

    def _scan(self, commits: list[dict], where: list[tuple] | None = None) -> DataFrame:
        """The rows of ``commits`` with ``_commit_version`` — the one scan
        builder behind ``read()`` and ``changes()``.

        ``where`` narrows each commit to its stats-candidate files (the
        exact predicate is the caller's); without it each commit passes its
        whole data dir. Every commit, compactions included, goes into ONE
        multi-path scan (a union per commit grows with history and chokes
        the optimizer). A compaction's files carry ``_commit_version`` as a
        real column; an append file lacks it, reads it as NULL and takes
        its version from its data-dir name via ``_metadata.file_path``
        (input_file_name() is non-deterministic and would block pushdown).
        ``_read_rows`` applies the same rule.
        """
        paths = []
        for c in commits:
            files = self._candidate_files(c, where) if where else None
            paths += [c["data_dir"]] if files is None else files
        if not paths:
            return self.spark.createDataFrame([], self._compact_schema)
        dir_version = F.regexp_extract(F.col("_metadata.file_path"), _VERSION_DIR, 1).cast("int")
        df = self.spark.read.schema(self._compact_schema).parquet(*paths)
        return df.withColumn("_commit_version", F.coalesce("_commit_version", dir_version))

    def read(
        self,
        as_of_version: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Snapshot read of all rows, optionally time-traveled.

        Adds ``_commit_version`` (the ingest sequence number) — the
        arrival-order axis used by parity-mode "latest" semantics
        (SURVEY.md §2.13 Q5).

        ``where``: list of ``(col, op, value)`` with op in {=,<,<=,>,>=},
        ANDed. Used twice: files whose min/max stats cannot satisfy the
        conjunction are SKIPPED before Spark ever lists them (data
        skipping, the Delta/Iceberg stats-pruning idea), and the exact
        predicate is applied to the surviving rows — so the result equals
        ``read().where(...)`` while a clustered point read touches ~1 file.
        Any ``where`` and any mix of appends and a compaction read as one
        parquet scan (``_scan``).
        """
        result = self._scan(self._visible_commits(as_of_version), where)
        for c, op, v in where or []:
            col = F.col(c)
            cond = {
                "=": col == v, "<": col < v, "<=": col <= v,
                ">": col > v, ">=": col >= v,
            }[op]
            result = result.where(cond)
        return result

    def _read_rows(
        self, commits: list[dict], key: str, max_of: list[str], where: list[tuple] | None = None
    ) -> list[dict]:
        """The latest row per ``key`` value of ``commits``: the row with the
        largest ``max_of`` tuple (``FeatureGroup._max_of``), each the
        ``Row.asDict()`` that collecting the online view gives. It is read in
        this process with pyarrow, so no Spark job runs. ``where``: ANDed
        ``(col, "=", value)`` terms, NaN equal to NaN as in Spark.

        One loop reads every file, one file at a time. The files are the
        stats candidates of each commit (a commit that predates stats: its
        whole dir). In each file only the row groups whose footer min/max
        admit every ``where`` term are decoded: the log's file stats and the
        row groups' stats are built by one rule (``_footer_stats``) and
        judged by one (``_admits``). A point read on key-sorted commits
        (``FeatureGroup.ingest``) thus decodes about one row group of
        ``ROW_GROUP_ROWS`` rows per commit; a full snapshot reads every row
        group. Both decode on one thread: groups of ``ROW_GROUP_ROWS`` rows
        gain nothing from pyarrow's column threads. The exact filter runs on
        each file's decoded rows, so a point read holds one file's row
        groups at a time, and only the matching rows align to
        ``_compact_schema``: a column the file lacks (added
        later by schema evolution) reads as NULL, so a file lacking a
        ``where`` column holds no match; the others are cast. The version rule is
        ``_scan``'s: a compaction's files carry ``_commit_version``, an
        append file's version is its data-dir name. The pick
        (``_latest_rows``) runs in Arrow, so only the picked rows convert to
        Python, as ``collect()`` converts them (pyspark's Arrow-to-Row
        converter under the session's ``binaryAsBytes``: naive local
        timestamps, Row structs).
        """
        where = where or []
        files = []  # filesystem paths
        for c in commits:
            paths = self._candidate_files(c, where)
            files += _data_files(c["data_dir"]) if paths is None else map(_fs_path, paths)
        schema = to_arrow_schema(self._compact_schema)
        terms = {c for c, _, _ in where}
        pruned = [c for c in _stat_columns(self._compact_schema) if c in terms]
        parts = []
        for path in files:
            with pq.ParquetFile(path) as f:
                md, have = f.metadata, set(f.schema_arrow.names)
                leaves = _leaves(md)
                groups = [
                    i for i in range(md.num_row_groups)
                    if _admits(_footer_stats(md, leaves, pruned, [i]), where)
                ]
                if not groups or not terms <= have:
                    continue  # a column the file lacks reads as NULL, which equals nothing
                got = f.read_row_groups(
                    groups, columns=[n for n in schema.names if n in have], use_threads=False
                )
            for col, _, value in where:  # the exact filter, before the rows are aligned
                got = got.filter(pc.is_nan(got[col]) if _is_nan(value) else pc.equal(got[col], value))
            if not got.num_rows:
                continue
            cols = [
                got[n].cast(t) if n in have else pa.nulls(got.num_rows, t)
                for n, t in zip(schema.names, schema.types)
            ]
            version = pa.scalar(int(re.search(_VERSION_DIR, path).group(1)), pa.int32())
            cols[-1] = pc.coalesce(cols[-1], version)  # _commit_version
            parts.append(pa.Table.from_arrays(cols, schema=schema))
        if not parts:
            return []
        got = pa.concat_tables(parts)
        names = self.schema.fieldNames()
        got = _latest_rows(got, key, max_of).select(names)
        as_bytes = self.spark.conf.get("spark.sql.execution.pyspark.binaryAsBytes", "true")
        rows = ArrowTableToRowsConversion.convert(
            got, self.schema, return_as_tuples=True, binary_as_bytes=as_bytes.lower() == "true"
        )
        return [dict(zip(names, values)) for values in rows]

    def changes(
        self, since_version: int, until_version: int | None = None
    ) -> DataFrame:
        """Change data feed: rows committed in versions (since, until] —
        the Delta CDF / Iceberg incremental-read idea. Insert-only view:
        on an append-only history every change is an insert at its commit
        version. If the range contains a ``delete()``/``restore()``, the
        rows it removed are NOT reported: this is the store's one change
        feed, and it carries no delete or update events.

        Incremental consumers (downstream training jobs) read ONLY the new
        commits' directories — O(new data), not O(table) — because the
        version filter selects whole data dirs before any file IO.
        """
        until = (self.latest_version() or 0) if until_version is None else until_version
        window = [
            self._load_commit(v) for v in self.versions() if since_version < v <= until
        ]
        if any(c.get("type") == "compact" for c in window):
            # a compaction in range rewrote history; its dir mixes old and
            # new rows, so fall back to snapshot + _commit_version filter
            # (still correct — the version column is materialized)
            out = self.read(as_of_version=until)
            return out.where(F.col("_commit_version") > since_version)
        if not all(c.get("data_dir") for c in window):
            raise ValueError("requested change range includes vacuumed commits")
        return self._scan(window)

    def skipping_report(
        self, where: list[tuple], as_of_version: int | None = None
    ) -> dict:
        """Log-only pruning preview (no data IO): how many files/rows the
        snapshot holds vs how many survive stats pruning for ``where``.
        The observability hook tests and capacity planning use to check a
        clustering layout actually earns its rewrite."""
        total_f = cand_f = total_r = cand_r = 0
        no_stats = 0
        for c in self._visible_commits(as_of_version):
            files = c.get("files")
            if files is None:
                no_stats += 1
                continue
            cand = set(self._candidate_files(c, where))
            for f in files:
                total_f += 1
                total_r += f["rows"]
                if f["path"] in cand:
                    cand_f += 1
                    cand_r += f["rows"]
        return {
            "total_files": total_f,
            "candidate_files": cand_f,
            "total_rows": total_r,
            "candidate_rows": cand_r,
            "commits_without_stats": no_stats,
        }
