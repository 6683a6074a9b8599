"""Latest-per-key (the online-store "current view" primitive).

Replaces the reference's per-key get_record point reads
(/root/reference/core/feature_store_manager.py:165-168, :184-204) and the
nondeterministic pandas ``groupby().agg('last')``
(/root/reference/core/utils.py:205 — SURVEY.md §2.13 Q1): "latest" here is
always defined by an explicit total order (event time + unique tiebreak),
never by physical row order.

Scale: both forms plan as one hash shuffle on the key with a sort on each
side of it, and both ship one row per key per input partition (Spark 4.1
``explain()``). The window form gets a partial ``WindowGroupLimit`` below
the exchange; the ``max_by`` form plans as a ``SortAggregate``, because its
struct buffer is not a type ``HashAggregate`` can hold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: str | list[str],
    order_by: list[str | Column],
) -> DataFrame:
    """Keep exactly one row per key: the first under ``order_by`` DESC-style spec.

    ``order_by`` should be a total order (include a unique tiebreak column)
    or the result is nondeterministic by definition.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_key_agg(
    df: DataFrame,
    keys: str | list[str],
    max_of: list[str | Column],
) -> DataFrame:
    """Latest-per-key as an AGGREGATION: max_by(whole row, order tuple).

    Same result as the ranking-window form when ``max_of`` is a total
    order (largest tuple = latest), and the same shuffle (module
    docstring). The store's online view uses this form. The window form
    has no engine caller left: the streaming fold emits each key's final
    state itself, and the tests check that against ``latest_per_key``.
    It stays because ``perfbench/tracer.py`` patches it by name.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    order_cols = [F.col(c) if isinstance(c, str) else c for c in max_of]
    row = F.struct(*[F.col(c).alias(c) for c in df.columns])
    out = df.groupBy(*keys).agg(
        F.max_by(row, F.struct(*order_cols)).alias("__row")
    )
    return out.select("__row.*")
