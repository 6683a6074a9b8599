"""Feature groups: the reference's store API re-expressed set-oriented.

Reference surface (/root/reference/core/feature_store_manager.py):
    create_feature_group    :72-106   → FeatureStore.create / FeatureGroup (one
                                        unpartitioned commit-logged table;
                                        files prune by per-file stats)
    ingest_features         :108-119  → FeatureGroup.ingest (one commit, not
                                        per-row PutRecord with max_workers=1)
    build_training_dataset  :121-153  → FeatureGroup.training_dataset (spark.sql)
    customer_features_exist :155-172  → FeatureGroup.exists
    get_latest_features     :184-204  → FeatureGroup.get_latest / online_view
    add_customer_features   :206-238  → FeatureGroup.upsert (new key: avg := new)
    update_customer_features:240-282  → FeatureGroup.upsert (stored key,
                                        (old+new)/2 rule preserved — §2.13 Q4)

Everything crossing the reference's store boundary was stringly typed
(:225-230, :269-274); here columns keep native Spark types end-to-end
(SURVEY.md §1.2).

"Latest" semantics (SURVEY.md §2.13 Q1/Q5): the online view ranks history by
arrival order (_commit_version) in parity mode — last write wins, matching
the reference's put-overwrites behavior — or by event time in strict mode;
both use the feature-group key + event-time declared at creation, with a
deterministic tiebreak.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_test_spark.operators.latest import latest_per_key_agg
from feature_store_test_spark.store.table import VersionedParquetTable


@dataclass
class FeatureGroup:
    """A named, typed feature table with a record key and event-time column."""

    spark: SparkSession
    name: str
    schema: T.StructType
    key_col: str
    event_time_col: str
    table: VersionedParquetTable

    # value column -> is it an incremental average maintained by the
    # reference's (old+new)/2 rule on update?
    @property
    def feature_cols(self) -> list[str]:
        return [
            f.name
            for f in self.schema.fields
            if f.name not in (self.key_col, self.event_time_col)
        ]

    # -- ingestion ----------------------------------------------------------
    def ingest(self, df: DataFrame) -> int:
        """Batch ingest: ONE atomic commit to the offline history.

        Replaces the reference's serial per-row PutRecord loop
        (max_workers=1, :108-119) with an executor-parallel parquet write.
        Each file of the commit is sorted by key, so its row groups
        (``table.ROW_GROUP_ROWS`` rows each) hold disjoint key ranges and a
        point read decodes about one of them. The sort adds no job, and
        where ``df`` is already in key order within its partitions (an
        aggregate grouped by the key, as ``engineer_features``) the planner
        drops it.
        """
        return self.table.append(
            df.select(*self.schema.fieldNames()).sortWithinPartitions(self.key_col)
        )

    # -- offline store ------------------------------------------------------
    def offline_history(self, as_of_version: int | None = None) -> DataFrame:
        """Every version of every record (append-only history)."""
        return self.table.read(as_of_version)

    def training_dataset(self, columns: list[str] | None = None) -> DataFrame:
        """The reference's Athena training query on Spark SQL (§3.2):
        full history, projected and ordered — Q3 semantics preserved
        (no dedup; docstring-vs-behavior quirk resolved in favor of code).
        """
        cols = columns or [self.key_col, *self.feature_cols]
        view = f"__fg_{self.name}_history"
        self.offline_history().createOrReplaceTempView(view)
        col_list = ", ".join(cols)
        return self.spark.sql(
            f"SELECT {col_list} FROM {view} "
            f"ORDER BY {self.key_col}, {self.event_time_col} DESC"
        )

    # -- online store -------------------------------------------------------
    def _max_of(self, strict_event_time: bool) -> list[str]:
        """The "latest" order: the row with the largest tuple of these
        columns wins. Parity: arrival (``_commit_version``), then event
        time; strict: event time, then arrival."""
        order = ["_commit_version", self.event_time_col]
        return order[::-1] if strict_event_time else order

    def online_view(self, strict_event_time: bool = False) -> DataFrame:
        """Latest record per key, via ``latest_per_key_agg``: a partial
        ``max_by`` per partition, so one candidate row per key per
        partition crosses the shuffle (see operators/latest.py).

        parity mode (default): last-ARRIVAL wins (commit sequence, then
        event time) — reproduces the reference's put-overwrites behavior
        including its retry-out-of-order quirk (§2.13 Q5).
        strict mode: last-EVENT-TIME wins regardless of arrival.
        """
        max_of = self._max_of(strict_event_time)
        hist = self.offline_history()
        return latest_per_key_agg(hist, self.key_col, max_of).drop("_commit_version")

    def exists(self, key_value) -> bool:
        """Does the key have a stored record? The driver-side read of
        ``get_latest``: no Spark job."""
        return self.get_latest(key_value) is not None

    def get_latest(self, key_value) -> dict | None:
        """Point read of the latest record (get_latest_features :184-204),
        equal to ``online_view().where(key == key_value)`` collected as a
        dict, or None for an absent key.

        No Spark job: ``table._read_rows`` reads the snapshot in this
        process with pyarrow, filtered to the key, and picks its latest row
        in parity order (``_max_of``). The commit log names each file and
        its key bounds, so only the stats-pruned files are opened (after
        ``compact(cluster_by=[key])``, ~1 file), and in each only the row
        groups whose footer key range holds the key are decoded. An ingest
        commit is key-sorted in row groups of ``table.ROW_GROUP_ROWS`` rows,
        so that is about one row group per commit.
        """
        if key_value is None:
            return None  # key = NULL holds for no row
        table, key = self.table, self.key_col
        rows = table._read_rows(
            table._visible_commits(None), key, self._max_of(False), [(key, "=", key_value)]
        )
        return rows[0] if rows else None

    # -- upsert (the feature-store core) ------------------------------------
    def upsert(self, updates: DataFrame, value_col_map: dict[str, str]) -> int | None:
        """The reference's update rule as one ``merge`` clause (§2.10 U1/U2).

        ``updates``: one row per key — columns: key, event_time, and one NEW
        observation column per entry of ``value_col_map``.
        ``value_col_map``: {new_observation_col -> (latest_col, avg_col)
        prefix}, e.g. {"purchase_value": "purchase_value"} maintains
        latest_purchase_value and avg_purchase_value.

        latest := new; avg := new where there is no stored average (a new
        key: add_customer_features :206-238), else (old_avg + new) / 2 —
        the reference's exponential-decay rule preserved exactly (§2.13 Q4,
        reference core/feature_store_manager.py:258-264). Other
        feature columns take the update's value when ``updates`` carries
        the column, else keep the stored one.

        The same clause serves WHEN MATCHED and WHEN NOT MATCHED (on a new
        key every ``t.`` column is NULL). Like ``merge``, an empty
        ``updates`` commits nothing and returns None; otherwise the
        committed version.
        """
        rule = {self.event_time_col: F.col(f"s.{self.event_time_col}")}
        for obs_col, prefix in value_col_map.items():
            new, avg = F.col(f"s.{obs_col}"), F.col(f"t.avg_{prefix}")
            rule[f"latest_{prefix}"] = new
            rule[f"avg_{prefix}"] = F.when(avg.isNull(), new).otherwise((avg + new) / 2.0)
        for c in self.feature_cols:
            if c not in rule:
                rule[c] = F.col(f"t.{c}")
                if c in updates.columns:
                    rule[c] = F.coalesce(F.col(f"s.{c}"), rule[c])
        return self.merge(updates, when_matched=rule, when_not_matched=rule)

    def merge(
        self,
        source: DataFrame,
        when_matched: dict[str, F.Column] | None = None,
        when_not_matched: dict[str, F.Column] | None = None,
    ) -> int | None:
        """General ``MERGE INTO`` (Delta parity), realized append-only.

        ``source`` must carry the key column and one row per key. Update /
        insert clauses are dicts {target_column -> Column expression};
        expressions may reference the target's current latest state as
        ``t.<col>`` and the source as ``s.<col>``:

        - ``when_matched``: applied where the key exists; unspecified
          feature columns carry the stored value through. ``None`` means
          WHEN MATCHED is absent — matched source rows change nothing.
        - ``when_not_matched``: applied where the key is new; unspecified
          columns default to the source column of the same name, else
          NULL. ``None`` means inserts are skipped.

        This writes ONLY the new version rows — the online view derives
        the result; no table rewrite, and the full history stays
        queryable. DELETE is deliberately absent: an append-only history
        cannot un-happen a version (Delta implements it as a rewrite);
        retention is vacuum's job and key retirement is a modeling concern
        (tombstone column).

        Returns the committed version, or None if nothing changed.
        """
        # one row per key is a hard precondition: two source rows for the
        # same key would both fold against the SAME stored state (the chain
        # needs sequential application — that's the streaming pipeline's
        # per-key fold, not this batch merge)
        dup = (
            source.groupBy(self.key_col).count().where(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "merge requires one source row per key; pre-fold multi-event "
                "batches into one row per key (see "
                "streaming.InferencePipeline._fold_batch)"
            )
        t = self.online_view().alias("t")
        s = source.alias("s")
        joined = s.join(t, on=self.key_col, how="left")
        matched = F.col(f"t.{self.event_time_col}").isNotNull()
        if when_matched is None:
            joined = joined.where(~matched)
        if when_not_matched is None:
            joined = joined.where(matched)

        out_cols = []
        for f in self.schema.fields:
            c = f.name
            if c == self.key_col:
                out_cols.append(F.col(f"s.{self.key_col}").alias(c))
                continue
            m_expr = (when_matched or {}).get(c)
            if m_expr is None:
                m_expr = F.col(f"t.{c}")
            i_expr = (when_not_matched or {}).get(c)
            if i_expr is None:
                i_expr = (
                    F.col(f"s.{c}")
                    if c in source.columns
                    else F.lit(None).cast(f.dataType)
                )
            out_cols.append(F.when(matched, m_expr).otherwise(i_expr).alias(c))
        new_rows = joined.select(*out_cols)
        if new_rows.limit(1).count() == 0:
            return None
        return self.ingest(new_rows)


class FeatureStore:
    """Feature-group registry (replaces the reference's hardcoded name
    literals — §2.13 Q6 — with a single catalog rooted at base_path)."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        self._groups: dict[str, FeatureGroup] = {}

    def create(
        self,
        name: str,
        schema: T.StructType,
        key_col: str,
        event_time_col: str,
    ) -> FeatureGroup:
        """A feature group stored as one ``VersionedParquetTable`` under
        ``base_path/name``. The table has one file layout, unpartitioned:
        reads prune files by the per-file min/max stats in the commit log,
        and ``table.compact(cluster_by=[key_col])`` makes a point read's
        stats select ~1 file."""
        if key_col not in schema.fieldNames() or event_time_col not in schema.fieldNames():
            raise ValueError("key/event-time column must be part of the schema")
        table = VersionedParquetTable(self.spark, os.path.join(self.base_path, name), schema)
        fg = FeatureGroup(
            spark=self.spark,
            name=name,
            schema=schema,
            key_col=key_col,
            event_time_col=event_time_col,
            table=table,
        )
        self._groups[name] = fg
        return fg

    def get(self, name: str) -> FeatureGroup:
        return self._groups[name]
