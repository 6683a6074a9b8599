"""Empty-table net: every registered query either runs (returning an
empty/zero-row result) or raises an INTENTIONAL ValueError naming the
training step that cannot fit on an empty corpus.

At 100 TB an empty post-filter input is routine; an engine must not die
on it with a NoneType subscript or a numpy shape error from three
frames below the API. The four trained-ANN queries are the only ones
with a legitimate reason to refuse — and they must refuse CLEARLY.
"""

from __future__ import annotations

import pytest

from feature_store_test_spark.data import SCHEMAS
from feature_store_test_spark.registry import all_queries, release_caches

TRAINING_REFUSES = {
    "q68_ivf_trained_ann",
    "q91_pca_ann_topk",
    "q103_pq_ann_topk",
    "q104_ivfpq_ann_topk",
}


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("empty_sf"))
    for name, schema in SCHEMAS.items():
        spark.createDataFrame([], schema).write.parquet(f"{sf}/{name}.parquet")
    return sf


def test_every_query_handles_empty_tables(spark, empty_sf):
    failures = []
    for name, spec in all_queries().items():
        try:
            spec.fn(spark, empty_sf).count()
            if name in TRAINING_REFUSES:
                failures.append((name, "expected a training ValueError"))
        except ValueError as e:
            if name not in TRAINING_REFUSES:
                failures.append((name, f"ValueError: {e}"))
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"{type(e).__name__}: {str(e)[:120]}"))
        finally:
            try:
                release_caches()
            except Exception:  # noqa: BLE001
                pass
    assert not failures, failures


def test_local_rows_df_zero_rows_is_an_empty_local_scan(spark):
    from feature_store_test_spark.data import local_rows_df

    df = local_rows_df(spark, [], "a long, b string, c array<string>")
    qe = df._jdf.queryExecution()
    assert "LogicalRDD" not in qe.analyzed().toString()
    assert qe.executedPlan().toString().startswith("LocalTableScan <empty>")
    assert df.schema.simpleString() == "struct<a:bigint,b:string,c:array<string>>"
    assert df.count() == 0
