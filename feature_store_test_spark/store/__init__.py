"""Versioned feature-table storage.

Offline store = append-only commit-logged parquet history (every ingest is a
new immutable version — the reference's SageMaker offline store,
/root/reference/core/feature_store_manager.py:96-102, minus AWS).
Online store = latest-per-key view DERIVED from the history: in Spark by a
``max_by`` aggregation (``FeatureGroup.online_view``), in this process by
``ServingSession``, which serves point reads and seeds the streaming
pipeline — upserts are appends of computed rows, never in-place mutation.
"""

from feature_store_test_spark.store.feature_group import FeatureGroup, FeatureStore
from feature_store_test_spark.store.serving import ServingSession
from feature_store_test_spark.store.table import VersionedParquetTable

__all__ = [
    "FeatureGroup",
    "FeatureStore",
    "ServingSession",
    "VersionedParquetTable",
]
