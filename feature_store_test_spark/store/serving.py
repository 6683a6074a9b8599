"""Low-latency point-read serving over a feature group's online view.

Reference parity: ``get_latest_features``
(/root/reference/core/feature_store_manager.py:184-204) answers a single-key
read in milliseconds from a managed online store; the reference outsources
that latency tier to AWS. ``FeatureGroup.get_latest`` runs no Spark job
either, but reads the key's rows from every stats-candidate parquet file
with pyarrow: tens of milliseconds per call on an unclustered history, and
it grows with the number of commits. ``ServingSession`` serves the request
path: ONE Spark job snapshots the online view, then every lookup is a
local dict probe (microseconds, no IO).

Scale design (100 TB): the snapshot is the ONLINE view — one row per key,
never history — so its size is key cardinality, not event volume. Beyond
one process, the view shards horizontally: a fleet of N serving processes
each construct ``ServingSession(fg, n_shards=N, shard=i)`` and hold only
the keys whose ``shard_of(key, N)`` equals ``i`` (~1/N of the view each).
The shard function is md5-based so a router — which has no Spark — computes
the same shard id client-side (``ServingSession.shard_of``) to address the
right process; the Spark-side filter is the identical expression, so the
fleet partitions the key space exactly. What does NOT scale is
snapshotting history or using this for analytical scans — those stay
Spark-side.

Staleness contract: reads are as-of the snapshot's commit version
(``version``), exactly like any online store replicating asynchronously
from a write-ahead log; ``refresh()`` re-snapshots after upserts and is a
no-op when the table version is unchanged.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterable

from pyspark.sql import functions as F

from feature_store_test_spark.store.feature_group import FeatureGroup


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
        self.version: int | None = None
        self.refresh()

    @staticmethod
    def _key_str(key_value) -> str:
        """Render a key exactly as Spark's ``CAST(key AS STRING)`` does.

        Python ``str()`` and Spark's cast agree only for int and str;
        they diverge for bool ('True' vs 'true') and for float/decimal/
        timestamp formatting — a router using ``str()`` there would
        compute a different shard than the one holding the key and every
        lookup would miss. bool is normalized explicitly; other key
        types are rejected so the divergence is an error at routing
        time, not a silent 100% miss rate."""
        if isinstance(key_value, bool):
            return "true" if key_value else "false"
        if isinstance(key_value, (int, str)):
            return str(key_value)
        raise TypeError(
            "sharded serving keys must be int, str, or bool — "
            f"{type(key_value).__name__} keys render differently in "
            "Python str() vs Spark CAST(... AS STRING), so the router "
            "and the snapshot filter would disagree on shard ownership"
        )

    @classmethod
    def shard_of(cls, key_value, n_shards: int) -> int:
        """Shard id for a key — pure Python, so request routers compute it
        without Spark. Matches the snapshot filter bit-for-bit: first 15
        md5 hex digits of the Spark-cast string rendering as an integer,
        mod ``n_shards`` (15 hex digits = 60 bits, inside BIGINT for the
        SQL side)."""
        digest = hashlib.md5(cls._key_str(key_value).encode()).hexdigest()[:15]
        return int(digest, 16) % n_shards

    def _shard_filter(self, key: str) -> F.Column:
        """The JVM-side twin of ``shard_of`` (conv(md5-prefix) % N)."""
        h = F.conv(
            F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        return F.pmod(h, F.lit(self.n_shards)) == F.lit(self.shard)

    def refresh(self, force: bool = False) -> bool:
        """Re-snapshot this shard of the online view; True when a new
        snapshot was taken.

        Skips the Spark job when the table's commit version is unchanged
        (the snapshot is already current) unless ``force``.
        """
        current = self._fg.table.latest_version()
        if not force and self.version == current:
            return False
        key = self._fg.key_col
        view = self._fg.online_view(strict_event_time=self._strict)
        if self.n_shards > 1:
            view = view.where(self._shard_filter(key))
        rows = view.collect()
        self._records = {r[key]: r.asDict() for r in rows}
        self.version = current
        return True

    def __len__(self) -> int:
        return len(self._records)

    def owns(self, key_value) -> bool:
        """Does this shard serve ``key_value``? (Routing sanity check.)"""
        return self.shard_of(key_value, self.n_shards) == self.shard

    def exists(self, key_value) -> bool:
        return key_value in self._records

    def get_record(self, key_value) -> dict | None:
        """Latest record for one key — no Spark job; dict semantics match
        ``FeatureGroup.get_latest`` as of the snapshot version."""
        rec = self._records.get(key_value)
        return dict(rec) if rec is not None else None

    def get_records(self, key_values: Iterable) -> dict[Any, dict | None]:
        """Batch form: key -> record (or None) for request-sized key sets."""
        return {k: self.get_record(k) for k in key_values}
