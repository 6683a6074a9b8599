"""Low-latency point-read serving over a feature group's online view.

Reference parity: ``get_latest_features``
(/root/reference/core/feature_store_manager.py:184-204) answers a single-key
read in milliseconds from a managed online store; the reference outsources
that latency tier to AWS. ``FeatureGroup.get_latest`` runs no Spark job
either: it decodes, with pyarrow, the row groups of each commit whose
footer key range holds the key. An ingest commit is key-sorted in row
groups of 4,096 rows, so that is about one row group per commit: ~15 ms of
CPU per call at 12 commits, half what the unsorted layout cost, and still
growing with the number of commits. ``ServingSession`` serves the request
path: it reads the online view once into a dict, in this process with the
same reader (no Spark job), then every lookup is a local dict probe
(microseconds, no IO). The session also seeds the stream:
``InferencePipeline`` holds one, refreshes it before each micro-batch and
reads the batch's keys from it, so the driver holds one record per key per
pipeline.

Scale design (100 TB): the snapshot is the ONLINE view — one row per key,
never history — so its size is key cardinality, not event volume. Beyond
one process, the view shards horizontally: a fleet of N serving processes
each construct ``ServingSession(fg, n_shards=N, shard=i)`` and hold only
the keys whose ``shard_of(key, N)`` equals ``i`` (~1/N of the view each).
The shard function is md5-based and pure Python, so a router computes the
same shard id client-side (``ServingSession.shard_of``) to address the
right process, and each session filters its snapshot with that same
function, so the fleet partitions the key space exactly. The dict is
O(keys), but a whole-snapshot read decodes every visible file before it
picks, so its peak memory still grows with the history. What does NOT
scale is snapshotting history or using this for analytical scans — those
stay Spark-side.

Staleness contract: reads are as-of the snapshot's commit version
(``version``), exactly like any online store replicating asynchronously
from a write-ahead log. ``refresh()`` replays only the commits since the
snapshot into the dict: the dict is the checkpoint and the new commits the
log tail, as in Delta Lake's snapshot read, and both are read by the one
driver-side reader. A history rewrite (compaction, delete, restore) re-reads
the whole snapshot the same way.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterable

from pyspark.sql import types as T

from feature_store_test_spark.store.feature_group import FeatureGroup
from feature_store_test_spark.store.table import _columns

_NAN = float("nan")


def _one_nan(key):
    """NaN keys as one object: Spark groups them as one key, a dict not."""
    return _NAN if key != key else key


def _et_order(record: dict, et: str) -> tuple:
    """An event time as Spark orders it: NULL below any value."""
    return record[et] is not None, record[et]


class ServingSession:
    """Request-path key lookups against a snapshot of the online view.

    ``n_shards``/``shard`` select one hash shard of the key space (the
    default 1/0 is the single-process whole-view form). A lookup for a
    key this shard does not own returns None like an absent key — route
    with ``shard_of`` first; ``owns`` makes misrouting detectable.
    """

    def __init__(
        self,
        feature_group: FeatureGroup,
        strict_event_time: bool = False,
        n_shards: int = 1,
        shard: int = 0,
    ) -> None:
        if n_shards < 1 or not (0 <= shard < n_shards):
            raise ValueError(f"invalid shard {shard}/{n_shards}")
        self._fg = feature_group
        self._strict = strict_event_time
        self.n_shards = n_shards
        self.shard = shard
        self._records: dict[Any, dict] = {}
        self._columns = _columns(feature_group.table.schema)  # the snapshot's schema
        self._stats = dict.fromkeys(("hits", "misses", "noop", "delta", "full", "rows", "commits"), 0)
        # an empty table's snapshot is version 0, so its first commits fold in as a delta
        self.version: int | None = None if feature_group.table.latest_version() else 0
        self.refresh()

    @staticmethod
    def _key_str(key_value) -> str:
        """Render a key exactly as Spark's ``CAST(key AS STRING)`` does.

        Python ``str()`` and Spark's cast agree only for int and str;
        they diverge for bool ('True' vs 'true') and for float/decimal/
        timestamp formatting — a router that hashed either rendering
        against a fleet that hashed the other would compute a different
        shard than the one holding the key, and every lookup would miss.
        bool is normalized explicitly; other key types are rejected, so a
        sharded session on such a key raises at its first refresh instead
        of serving a shard no router can address."""
        if isinstance(key_value, bool):
            return "true" if key_value else "false"
        if isinstance(key_value, (int, str)):
            return str(key_value)
        raise TypeError(
            "sharded serving keys must be int, str, or bool — "
            f"{type(key_value).__name__} keys render differently in "
            "Python str() vs Spark CAST(... AS STRING), so routers "
            "could not agree on shard ownership"
        )

    @classmethod
    def shard_of(cls, key_value, n_shards: int) -> int:
        """Shard id for a key — pure Python, so request routers compute it
        without Spark, and the one hash a session's ``refresh`` filters
        by: first 15 md5 hex digits of the Spark-cast string rendering as
        an integer, mod ``n_shards`` (15 hex digits = 60 bits, inside
        BIGINT, so SQL ``pmod(conv(substring(md5(CAST(k AS STRING)), 1,
        15), 16, 10), n)`` gives the same id)."""
        digest = hashlib.md5(cls._key_str(key_value).encode()).hexdigest()[:15]
        return int(digest, 16) % n_shards

    def refresh(self, force: bool = False) -> bool:
        """Bring this shard of the snapshot up to the latest commit; False
        when the version was unchanged (and not ``force``). No Spark job
        runs: ``table._read_rows`` picks the latest row per key in this
        process, in ``online_view``'s order.

        If every commit since the snapshot is an append (ingest, merge)
        with the snapshot's schema, only those commits are read, and their
        picked rows are folded into a copy of the dict: in parity mode the
        newer commit's row wins; in strict mode a stored record with a
        greater event time (NULL lowest) stays. Else — the first snapshot
        of a table that has commits, ``force``, a compaction, delete,
        restore, vacuum or schema change — the whole snapshot is read into
        an empty dict. A session built over an empty table starts from its
        empty snapshot (version 0, the table's columns), so the table's
        first commits are a delta too. A sharded session
        keeps the keys ``owns`` accepts (NULL keys belong to no shard); a
        key type ``shard_of`` rejects raises TypeError.
        """
        table, key, et = self._fg.table, self._fg.key_col, self._fg.event_time_col
        current, stats = table.latest_version() or 0, self._stats
        if not force and self.version == current:
            stats.update(noop=stats["noop"] + 1, rows=0, commits=0)
            return False
        window = None if force or self.version is None else self._window(current)
        # a delta folds into a copy: a concurrent reader sees either version whole
        mode, records = ("full", {}) if window is None else ("delta", dict(self._records))
        if window is None:
            self._columns, window = _columns(table.schema), table._visible_commits(current)
        rows = table._read_rows(window, key, self._fg._max_of(self._strict))
        if self.n_shards > 1:
            rows = [r for r in rows if r[key] is not None and self.owns(r[key])]
        for r in rows:
            k = _one_nan(r[key])
            old = records.get(k)
            if not self._strict or old is None or _et_order(old, et) <= _et_order(r, et):
                records[k] = r
        self._records = records
        stats.update({mode: stats[mode] + 1, "rows": len(rows), "commits": self._lag(current)})
        self.version = current
        return True

    def _window(self, current: int) -> list[dict] | None:
        """The commits in (``version``, ``current``], or None unless each is
        a plain append with the snapshot's schema."""
        table = self._fg.table
        window = [table._load_commit(v) for v in table.versions() if self.version < v <= current]
        plain = _columns(table.schema) == self._columns and all(
            c.get("type", "append") == "append" and c.get("data_dir")
            and _columns(T.StructType.fromJson(c["schema"])) == self._columns
            for c in window
        )
        return window if plain else None

    def stats(self) -> dict[str, int]:
        """``get_record`` hits and misses, refreshes by mode (``noop``,
        ``delta``, ``full``), the records picked (one per key) and commits
        applied by the last refresh, and ``lag``: the commits this
        snapshot is behind the table's latest version, read now."""
        return {**self._stats, "lag": self._lag(self._fg.table.latest_version())}

    def _lag(self, version: int | None) -> int:
        """The commits from this snapshot's version up to ``version``."""
        return (version or 0) - (self.version or 0)

    def __len__(self) -> int:
        return len(self._records)

    def owns(self, key_value) -> bool:
        """Does this shard serve ``key_value``? (Routing sanity check.)"""
        return self.shard_of(key_value, self.n_shards) == self.shard

    def exists(self, key_value) -> bool:
        return _one_nan(key_value) in self._records

    def get_record(self, key_value) -> dict | None:
        """Latest record for one key — no Spark job; dict semantics match
        ``FeatureGroup.get_latest`` as of the snapshot version."""
        rec = self._records.get(_one_nan(key_value))
        self._stats["hits" if rec is not None else "misses"] += 1
        return dict(rec) if rec is not None else None

    def get_records(self, key_values: Iterable) -> dict[Any, dict | None]:
        """Batch form: key -> record (or None) for request-sized key sets."""
        return {k: self.get_record(k) for k in key_values}
