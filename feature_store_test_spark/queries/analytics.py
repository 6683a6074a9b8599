"""Event / product analytics: the OLAP shapes a feature-store's event log
feeds in practice — time-series resampling with gap fill, new-vs-returning
decomposition, and cohort retention. All pure relational plans (no UDFs):
one or two shuffles each, everything JVM-side, oracle-checked.

* q92 — daily resample with zero-filled gaps (sequence + explode: the
  scale-safe gap fill — each user generates only its own date range).
* q93 — daily new vs returning users with a running cumulative (first-touch
  attribution via a per-user min, then a day-ordered frame window).
* q94 — weekly cohort retention triangle (cohort = first ISO week; offset
  in whole weeks; distinct users per cell).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_store_test_spark.data import load_table
from feature_store_test_spark.functions import dec_sum, dec_ticks
from feature_store_test_spark.registry import register


# ---------------------------------------------------------------------------
# Q92 — gap-filled daily resample: users emit one row per calendar day
# between their first and last event, zero where no events occurred.
# Scale: the date scaffold is generated per user (sequence over that
# user's own span — no global calendar cross-join), then one left join on
# (user, day). Both sides are partitioned by user_id; decimal sums keep
# the daily totals exact.
# ---------------------------------------------------------------------------
@register(
    "q92_daily_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value,
             COUNT(*) AS n_events
      FROM events WHERE user_id < 10
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    spans AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
    ),
    scaffold AS (
      SELECT user_id, d0 + CAST(i AS INT) AS day
      FROM spans, unnest(generate_series(0, d1 - d0)) AS g(i)
    )
    SELECT s.user_id, s.day,
           COALESCE(d.day_value, 0.0) AS day_value,
           COALESCE(d.n_events, 0) AS n_events
    FROM scaffold s LEFT JOIN daily d
      ON d.user_id = s.user_id AND d.day = s.day
    ORDER BY s.user_id, s.day
    """,
    doc="per-user daily resample with zero-filled calendar gaps",
    tags=("analytics", "timeseries", "gapfill", "join"),
)
def q92_daily_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).where(F.col("user_id") < 10)
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        dec_sum("value", 2, "day_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    scaffold = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.datediff("d1", "d0")),
                    lambda i: F.date_add(F.col("d0"), i),
                )
            ).alias("day"),
        )
    )
    return (
        scaffold.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .orderBy("user_id", "day")
    )


# ---------------------------------------------------------------------------
# Q93 — new vs returning: per day, active users, first-touch new users, and
# the running cumulative of distinct users ever seen. "New" is a per-user
# MIN (one shuffle on user), the cumulative is a day-ordered frame window
# over the small daily series — never a distinct-over-window on raw events.
# ---------------------------------------------------------------------------
@register(
    "q93_new_vs_returning",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ),
    active AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS n_active
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    news AS (
      SELECT first_day AS day, COUNT(*) AS n_new FROM firsts GROUP BY first_day
    )
    SELECT a.day, a.n_active,
           COALESCE(n.n_new, 0) AS n_new,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY a.day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM active a LEFT JOIN news n ON a.day = n.day
    ORDER BY a.day
    """,
    doc="daily active / first-touch new / cumulative distinct users",
    tags=("analytics", "window", "attribution"),
)
def q93_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    day = F.col("ts").cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    active = ev.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("n_active")
    )
    news = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        active.join(news, "day", "left")
        .select("day", "n_active", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .withColumn("cum_users", F.sum("n_new").over(w).cast("bigint"))
        .repartition(1).sortWithinPartitions("day")
    )


# ---------------------------------------------------------------------------
# Q94 — weekly cohort retention triangle: cohort = the user's first ISO
# week; each (cohort, week-offset) cell counts the cohort's users active
# that many whole weeks later. Two shuffles (per-user min; cell distinct) —
# the classic retention query, with the broadcastable per-user cohort map.
# Both engines truncate weeks to ISO Monday, so cells align exactly.
# ---------------------------------------------------------------------------
@register(
    "q94_cohort_retention",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, MIN(date_trunc('week', CAST(ts AS DATE))) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
           CAST((date_trunc('week', CAST(e.ts AS DATE)) - c.cohort_week) // 7 AS INT)
             AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN cohorts c ON e.user_id = c.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="weekly cohort retention: first-week cohorts x whole-week offsets",
    tags=("analytics", "retention", "agg", "join"),
)
def q94_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    week = F.date_trunc("week", F.col("ts").cast("date")).cast("date")
    cohorts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    return (
        ev.select("user_id", week.alias("event_week"))
        .join(F.broadcast(cohorts), "user_id")
        .select(
            "cohort_week",
            (F.datediff("event_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .repartition(1).sortWithinPartitions("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Q96 — heavy hitters: users holding >= 0.5% of all events. Exact version
# of the frequent-items problem (the approximate path at 100 TB is a
# count-min / space-saving sketch; df.stat.freqItems gives the superset
# guarantee — tests/test_operators.py asserts it contains this exact set).
# Scale: one map-side-combinable count per user; the grand total is a
# single scalar crossed in via broadcast — no second shuffle. The
# threshold compare stays in integer arithmetic (n*200 >= total) so both
# engines agree bit-for-bit with no ratio rounding.
# ---------------------------------------------------------------------------
@register(
    "q96_heavy_hitters",
    oracle="""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    ), tot AS (SELECT SUM(n_events) AS total FROM counts)
    SELECT user_id, n_events
    FROM counts, tot
    WHERE n_events * 200 >= total
    ORDER BY n_events DESC, user_id
    """,
    doc="exact frequent-items: users with >= 0.5% share of all events",
    tags=("analytics", "agg", "heavy-hitters"),
)
def q96_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = counts.agg(F.sum("n_events").alias("total"))
    return (
        counts.join(F.broadcast(total))
        .where(F.col("n_events") * 200 >= F.col("total"))
        .select("user_id", "n_events")
        .repartition(1).sortWithinPartitions(F.col("n_events").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# Q97 — equi-width histogram of order totals: fixed $25k bins over
# o_totalprice. The bin id is pure integer math on the decimal price
# (floor division — no float, no boundary ambiguity), so the whole plan is
# one map-side-combinable aggregate that scales linearly; no global sort,
# no window. This is the scan-friendly histogram shape (vs ntile, which
# needs a global ordering) — the one you'd run on 100 TB.
# ---------------------------------------------------------------------------
@register(
    "q97_price_histogram",
    oracle="""
    SELECT CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) / 25000) AS INT) AS bin,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bin_total
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
    doc="equi-width $25k histogram of order totals (integer bin math)",
    tags=("analytics", "agg", "histogram"),
)
def q97_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    price = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        o.groupBy(F.floor(price / 25000).cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", out="bin_total"),
        )
        .repartition(1).sortWithinPartitions("bin")
    )


# ---------------------------------------------------------------------------
# Q98 — modal event type per user (the per-group mode). Two-level
# aggregate: count per (user, type), then keep the row ranked first by
# (count desc, type asc) — the deterministic tie-break both engines share.
# Scale: both steps shuffle on user_id (co-partitioned, AQE coalesces);
# the ranking window runs inside each user's partition, never globally.
# DuckDB's arg_max breaks ties arbitrarily, so BOTH sides use the
# row_number form (memory: no struct-ordered max_by in DuckDB 1.0).
# ---------------------------------------------------------------------------
@register(
    "q98_modal_event_type",
    oracle="""
    SELECT user_id, event_type AS modal_type, COUNT(*) AS n
    FROM events
    GROUP BY user_id, event_type
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type
    ) = 1
    ORDER BY user_id
    """,
    doc="per-group mode: most frequent event_type per user, deterministic ties",
    tags=("analytics", "agg", "window", "mode"),
)
def q98_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Q99 — spend deciles: rank users into 10 equal buckets by lifetime spend
# and report each decile's size and total. ntile needs a TOTAL order, so
# the window sorts by (spend desc, user_id) — the unique tiebreak keeps
# the bucketing deterministic in any engine. Scale: the global window runs
# AFTER the per-user aggregate, so its input is |users|, not |events|; at
# billion-user cardinality swap the exact rank for q90's GK-sketch cutoffs
# or a repartitionByRange + per-partition-offset two-pass — the decile
# SEMANTICS stay identical. Spend stays decimal until the final cast.
# ---------------------------------------------------------------------------
@register(
    "q99_spend_deciles",
    oracle="""
    WITH spend AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,6))) AS spend
      FROM events GROUP BY user_id
    ), d AS (
      SELECT user_id, spend,
             NTILE(10) OVER (ORDER BY spend DESC, user_id) AS decile
      FROM spend
    )
    SELECT decile, COUNT(*) AS n_users, CAST(SUM(spend) AS DOUBLE) AS decile_spend
    FROM d GROUP BY decile ORDER BY decile
    """,
    doc="decile analysis of per-user lifetime spend (deterministic ntile)",
    tags=("analytics", "window", "ntile", "agg"),
)
def q99_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    spend = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("spend")
    )
    w = Window.orderBy(F.col("spend").desc(), "user_id")
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("spend").cast("double").alias("decile_spend"),
        )
        .repartition(1).sortWithinPartitions("decile")
    )


# ---------------------------------------------------------------------------
# Q100 — event-type transition matrix: for each user's time-ordered event
# sequence, count (previous type -> current type) transitions — the
# first-order Markov view of behavior (what follows what). lag() runs
# inside each user's partition (never global); ordering ties on equal
# timestamps break by event_id so both engines walk identical sequences.
# One shuffle on user_id for the window, one map-side-combinable count.
# ---------------------------------------------------------------------------
@register(
    "q100_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="first-order Markov transition counts over per-user event sequences",
    tags=("analytics", "window", "sequence", "agg"),
)
def q100_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9 bench flagged a +18% r8->r9 move on the driver box with this
    # builder UNTOUCHED; round-10 re-measure (ab.py, min-of-6): 0.286
    # in one window on the same HEAD that read 0.302 an hour earlier —
    # host noise, not a regression (single-job, floor-dominated).
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .repartition(1).sortWithinPartitions("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# Q105 — referential-integrity audit: orphan counts for every declared
# foreign key, in one pass per relationship (left-anti join → count).
# The operational data-quality sweep a warehouse runs after every load;
# on TPC-H-shaped data all counts are zero — the AUDIT is the capability,
# and a nonzero row is the alert. Scale: each check is an anti join that
# broadcasts the parent's key column when small (customer/part/supplier)
# and sort-merges lineitem→orders; counts are map-side partial. The four
# checks are independent — Spark runs their stages concurrently under one
# action (the union).
# ---------------------------------------------------------------------------
def _q105_ck_hint(sf_dir: str) -> str:
    """q105's orders⋈customer join hint: the in-job SHUFFLE_HASH below 8 MB
    of orders, the customer broadcast above (see q105)."""
    from feature_store_test_spark.data import _table_bytes

    if _table_bytes(f"{sf_dir}/orders.parquet") < 8 * 1024 * 1024:
        return "SHUFFLE_HASH(c)"
    return "BROADCAST(c)"


@register(
    "q105_referential_audit",
    oracle="""
    SELECT 'lineitem.orderkey' AS fk, COUNT(*) AS n_orphans FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem.partkey', COUNT(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem.suppkey', COUNT(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    UNION ALL
    SELECT 'orders.custkey', COUNT(*) FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    ORDER BY fk
    """,
    doc="orphan counts per declared foreign key (anti-join audit sweep)",
    tags=("analytics", "data-quality", "anti-join", "agg"),
)
def q105_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused single-pass form (round-5 rewrite of the 4-branch anti-join
    # sweep, which scanned lineitem 3x), expressed since round 10 as ONE
    # spark.sql string over the memoized temp views — identical physical
    # plan to the previous Column-API chain (verified side by side: same
    # joins, same exchanges, same 4 scheduler jobs, execution A/B a wash
    # at min 0.573 vs 0.584), but constructed in a single parse+analysis
    # round-trip instead of ~20 eagerly-analyzed API calls: plan
    # construction 0.177s -> 0.049s min-of-8 interleaved (this builder
    # was the top line of BENCH_SELF.plan_construction two rounds
    # running). Plan shape, unchanged:
    # - lineitem is scanned ONCE: two broadcast left joins (part,
    #   supplier key columns) in the scan pipeline, whose null counts
    #   PRE-AGGREGATE per orderkey BEFORE the shuffle (round 9: the
    #   orders SHJ shuffles 150k pre-agg rows instead of 600k raw lines;
    #   interleaved A/B min 0.777 -> 0.606) — also the skewed-100-TB
    #   shape: multi-GB order groups combine map-side.
    # - SHUFFLE_HASH on orders: both sides still shuffle on the key
    #   (orders is a fact — never broadcast); the probe streams against a
    #   per-partition hash instead of sorting both sides.
    # - a LEFT join + COUNT(parent IS NULL) equals the oracle's NOT
    #   EXISTS count because parent keys are primary keys (unique), and
    #   chained joins each match at most one parent row.
    # - COALESCE: SUM over an EMPTY per_order (empty lineitem) is NULL
    #   where the oracle's NOT-EXISTS counts are 0 (code-review r9).
    # - bloom_prefilter deliberately NOT used: FK match rate is ~100%
    #   (orphans are the exception), so every probe row passes the filter
    #   and still shuffles — pure added cost; it pays in q135's
    #   mostly-miss shape instead.
    # Rejected A/Bs (don't re-run): orders-first join order ~2x slower
    # (r6, 0.48 -> 0.91); fused union+tagged agg ~15% slower (r7);
    # combined (kind, key) parent broadcast a wash with kind-literals
    # pushed into the build sides (r7); round 10 re-litigated the
    # combined build as a PARITY-coded keyspace (k*3+tag — no literal to
    # push, one BroadcastExchange + 2 ReusedExchange, 4 jobs -> 2) and it
    # was still SLOWER (min 0.749 -> 0.929: 600k probes against one 37k-
    # entry hash table cost more than three cache-resident small tables).
    # Round 11 re-A/B'd the ck branch per the r10 verdict (item 6):
    # SHUFFLE_HASH(c) is a time WASH at sf0.1 (min +0.02, med −0.03,
    # n=10/n=14 interleaved) and sheds the broadcast-build scheduler job
    # (4 -> 3) — but at the 10x replica the broadcast measured BETTER
    # (x10 min 1.03 vs 1.20: there the orders shuffle is real bytes while
    # the 150k-row customer dim broadcasts for pennies). The hint is
    # therefore SIZE-GATED like the other cost-based plan splits: small
    # orders (floor-bound regime, < 8 MB) take the in-job SHJ, larger
    # corpora keep the dim broadcast — which is also the 100 TB plan.
    from feature_store_test_spark.data import register_temp_views

    register_temp_views(spark, sf_dir)
    ck_hint = _q105_ck_hint(sf_dir)
    return spark.sql(
        f"""
        WITH per_order AS (
          SELECT /*+ BROADCAST(p), BROADCAST(s) */ l_orderkey,
                 COUNT(*) AS n_rows,
                 COUNT_IF(p.p_partkey IS NULL) AS n_pk0,
                 COUNT_IF(s.s_suppkey IS NULL) AS n_sk0
          FROM lineitem
          LEFT JOIN part p ON l_partkey = p_partkey
          LEFT JOIN supplier s ON l_suppkey = s_suppkey
          GROUP BY l_orderkey
        ),
        agg AS (
          SELECT /*+ SHUFFLE_HASH(o) */
                 COALESCE(SUM(CASE WHEN o.o_orderkey IS NULL
                                   THEN n_rows ELSE 0 END), 0) AS n_ok,
                 COALESCE(SUM(n_pk0), 0) AS n_pk,
                 COALESCE(SUM(n_sk0), 0) AS n_sk
          FROM per_order LEFT JOIN orders o ON l_orderkey = o.o_orderkey
        ),
        ckagg AS (
          SELECT /*+ {ck_hint} */
                 COUNT_IF(c.c_custkey IS NULL) AS n_ck
          FROM orders LEFT JOIN customer c ON o_custkey = c_custkey
        )
        SELECT fk, n_orphans FROM (
          SELECT /*+ REPARTITION(1) */ kv.fk AS fk, kv.n_orphans AS n_orphans
          FROM (
            SELECT explode(array(
              named_struct('fk', 'lineitem.orderkey', 'n_orphans', n_ok),
              named_struct('fk', 'lineitem.partkey',  'n_orphans', n_pk),
              named_struct('fk', 'lineitem.suppkey',  'n_orphans', n_sk))) AS kv
            FROM agg
            UNION ALL
            SELECT named_struct('fk', 'orders.custkey', 'n_orphans', n_ck)
            FROM ckagg
          )
        ) SORT BY fk
        """
    )


# ---------------------------------------------------------------------------
# Q106 — rank-family window breadth over customer spend: percent_rank,
# cume_dist, and the per-nation top spender via first_value. All three
# are rank ratios (exact-integer numerators/denominators divided in IEEE
# doubles — bit-identical cross-engine, no rounding discipline needed).
# The window partitions by nation (25 partitions of ~|customers|/25 rows
# — never a global sort); ties break on the unique custkey.
# ---------------------------------------------------------------------------
@register(
    "q106_spend_rank_profile",
    oracle="""
    WITH spend AS (
      SELECT c_nationkey, c_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY 1, 2
    )
    SELECT c_nationkey, c_custkey,
           CAST(spend AS DOUBLE) AS spend,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           FIRST_VALUE(c_custkey) OVER w AS nation_top_spender
    FROM spend
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey)
    """,
    doc="percent_rank / cume_dist / first_value spend profile per nation",
    tags=("analytics", "window", "rank", "agg", "join"),
)
def q106_spend_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    spend = (
        # shuffle_hash, not broadcast (round 9): the custkey shuffle this
        # join adds is REUSED by the groupBy (hash(o_custkey) satisfies
        # the (c_nationkey, c_custkey) clustering — custkey is a member
        # of the grouping set), so the whole agg pipelines on one
        # exchange and the broadcast-build scheduler job disappears.
        # Interleaved A/B: 2 jobs -> 1, min 0.376 -> 0.285 (the r6
        # broadcast decision predated the pure-execution protocol).
        c.hint("shuffle_hash")
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.col("spend").desc(), "c_custkey")
    return (
        spend.select(
            "c_nationkey",
            "c_custkey",
            F.col("spend").cast("double").alias("spend"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.first("c_custkey").over(w).alias("nation_top_spender"),
        )
        # no trailing orderBy: presentation-only over per-customer output
        # that grows with the data — a global range sort costs a sampling
        # job + range exchange; unordered is the honest distributed
        # contract (q88 precedent), the harness sorts rows itself.
    )


# ---------------------------------------------------------------------------
# Q109 — per-group top-k retrieval with share-of-group: the serving-side
# "show each customer their 3 biggest orders and what fraction of their
# lifetime spend each one is". Scale: ONE hash shuffle on the group key
# feeds both the ranking window and the (decimal-exact) group-total window
# — Catalyst reuses the partitioning, so top-k-per-group at 100 TB costs
# the same shuffle as any grouped agg; no global sort, no driver top-k.
# ---------------------------------------------------------------------------
@register(
    "q109_group_topk_share",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk,
           ROUND(o_totalprice / cust_total, 6) AS spend_share
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_total
      FROM orders
    )
    WHERE rnk <= 3
    """,
    doc="top-3 orders per customer with exact share of lifetime spend",
    tags=("window", "topk", "serving"),
)
def q109_group_topk_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    wp = Window.partitionBy("o_custkey")
    w = wp.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    total = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(wp).cast("double")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rnk"),
            total.alias("cust_total"),
        )
        .where(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "rnk",
            F.round(F.col("o_totalprice") / F.col("cust_total"), 6).alias("spend_share"),
        )
    )


# ---------------------------------------------------------------------------
# Q113 — forward as-of with tolerance (conversion attribution): for every
# click event, the NEXT purchase by the same user within 7 days, plus the
# conversion lag. Same merge-scan as the backward as-of (q15) with the
# time order reversed — one hash shuffle on user_id, no range cross-join;
# the tolerance is a post-hoc null, not a second join. Lags are exact
# integer microseconds, so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------
@register(
    "q113_conversion_asof",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, 1 AS ord, event_id AS click_id,
             NULL::BIGINT AS purchase_id, 1 AS is_left
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, 0 AS ord, NULL, event_id, 0
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT *,
             last_value(purchase_id IGNORE NULLS) OVER w AS matched_pid,
             last_value(CASE WHEN is_left = 0 THEN ts END IGNORE NULLS)
               OVER w AS matched_pts
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, ord
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT click_id, user_id, ts AS click_ts,
           CASE WHEN matched_pts IS NOT NULL
                 AND epoch_us(matched_pts) - epoch_us(ts) <= 604800000000
                THEN matched_pid END AS purchase_id,
           CASE WHEN matched_pts IS NOT NULL
                 AND epoch_us(matched_pts) - epoch_us(ts) <= 604800000000
                THEN epoch_us(matched_pts) - epoch_us(ts) END AS lag_us
    FROM m WHERE is_left = 1
    """,
    doc="next purchase within 7 days of each click (forward as-of + tolerance)",
    tags=("asof", "window", "attribution"),
)
def q113_conversion_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="click_ts",
        right_time="p_ts",
        right_values=["purchase_id", "p_ts"],
        direction="forward",
        tolerance_seconds=7 * 86400,
    )
    return joined.select(
        "click_id",
        "user_id",
        "click_ts",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


# ---------------------------------------------------------------------------
# Q114 — full-outer reconciliation: daily click activity vs daily purchase
# activity, keeping days that appear on only one side (the audit shape for
# comparing two event feeds / pipeline stages). FULL OUTER is the one join
# type no other declared query exercises. Scale: both sides pre-aggregate
# to one row per day BEFORE the join — the full-outer join runs on two
# tiny keyed aggregates, never on raw events.
# ---------------------------------------------------------------------------
@register(
    "q114_full_outer_reconciliation",
    oracle="""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_clicks,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT COALESCE(c.day, p.day) AS day,
           COALESCE(n_clicks, 0) AS n_clicks,
           COALESCE(n_purchases, 0) AS n_purchases,
           COALESCE(click_value, 0.0) AS click_value,
           COALESCE(purchase_value, 0.0) AS purchase_value
    FROM c FULL JOIN p ON c.day = p.day
    """,
    doc="daily click vs purchase reconciliation via FULL OUTER join",
    tags=("join", "full-outer", "agg", "audit"),
)
def q114_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    day = F.to_date("ts").alias("day")

    def side(event_type: str, n_name: str, v_name: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == event_type)
            .groupBy(day)
            .agg(
                F.count(F.lit(1)).alias(n_name),
                dec_sum("value", 2, v_name),
            )
        )

    c = side("click", "n_clicks", "click_value")
    p = side("purchase", "n_purchases", "purchase_value")
    return (
        c.join(p, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("click_value", F.lit(0.0)).alias("click_value"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q137 — SCD2 (slowly-changing-dimension type 2) interval materialization:
# compress each user's event stream into validity intervals of their
# event_type "state" — a row per change point with [valid_from, valid_to)
# and an is_current flag. The classic warehouse history-table build, as
# two window passes over the same (user_id; ts, event_id) partition
# order: detect change points with LAG, close intervals with LEAD. Both
# windows share one shuffle (same partitioning + ordering), so the whole
# query is scan -> one exchange -> two in-partition window evaluations.
# The (ts, event_id) composite order makes equal-timestamp events
# deterministic in both engines.
# ---------------------------------------------------------------------------
@register(
    "q137_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             LAG(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_id, ts, event_type
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM changes
    """,
    doc="SCD2 history build: change-point detection + validity intervals via LAG/LEAD",
    tags=("window", "scd", "events"),
)
def q137_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Q140 — Pareto frontier (skyline): the non-dominated orders per priority
# class on (minimize o_totalprice, maximize total quantity). The textbook
# skyline operator is quadratic (every point against every point); on a
# 2-D skyline one sort is enough: after ordering by price, a point is
# dominated iff a strictly-cheaper point ships at least as much (A >= qty)
# or a no-more-expensive point ships strictly more (B > qty). Both
# running maxima come from RANGE frames over the SAME sort, so the whole
# skyline costs one shuffle — linear at any scale, no pairwise stage.
# Ticks (exact integer cents) are the RANGE key: value-based frames need a
# numeric key, and the 1-tick-preceding bound is exactly "strictly
# cheaper". The oracle is the semantic definition itself (NOT EXISTS
# dominance), so the linear plan is checked against the quadratic truth.
# ---------------------------------------------------------------------------
@register(
    "q140_pareto_orders",
    oracle="""
    WITH q AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2, 3
    )
    SELECT o_orderpriority, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, total_qty
    FROM q i
    WHERE NOT EXISTS (
      SELECT 1 FROM q j
      WHERE j.o_orderpriority = i.o_orderpriority
        AND j.o_totalprice <= i.o_totalprice
        AND j.total_qty >= i.total_qty
        AND (j.o_totalprice < i.o_totalprice OR j.total_qty > i.total_qty)
    )
    """,
    doc="2-D Pareto skyline per priority (cheapest orders shipping the most) via one sorted window",
    tags=("window", "skyline", "join"),
)
def q140_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-phase skyline CASCADE (round 11, r10 verdict item 3): the
    # declared window key (o_orderpriority, 5 values) capped the whole
    # skyline at 5-way parallelism — 4.6x wall growth for 10x data.
    # Phase 1 splits each priority into fixed-width PRICE-TICK buckets
    # (__b = __ticks div 2e6; the tick DOMAIN is bounded by order size,
    # not corpus size, so ~30 buckets x 5 priorities at any SF) and runs
    # the same two RANGE frames per (priority, bucket): rows dominated
    # WITHIN their bucket are dropped. 2-D dominance is transitive, so
    # the locally-non-dominated rows are a DOMINATING SET — any globally
    # dominated row is dominated by some phase-1 survivor — and phase 2
    # re-runs the ORIGINAL 5-partition window on the (few) survivors
    # only. Exact same output; the data-sized sort now runs at bucket
    # width and the declared-key window sorts a skyline-sized frame.
    # Rejected intermediate (A/B'd): managed_cache + per-bucket running-
    # max join-back — won x1 (0.28 vs 0.43) but LOST x10 (2.46 vs 1.87,
    # the 1.5M-row cache write/read); this cascade needs no cache and no
    # join. Keyed spread on lineitem per q78's rationale (the qty agg is
    # orderkey-keyed).
    from feature_store_test_spark.data import load_table_spread

    orders = load_table(spark, "orders", sf_dir)
    li = load_table_spread(spark, "lineitem", sf_dir, key="l_orderkey")
    qty = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty")
    )
    q = (
        orders.join(qty, orders["o_orderkey"] == qty["l_orderkey"]).select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            "total_qty",
            dec_ticks(F.col("o_totalprice"), 2).alias("__ticks"),
        ).withColumn("__b", F.expr("__ticks div 2000000"))
    )
    qty_c = F.col("total_qty")

    def dominated(partition_cols: list[str]) -> F.Column:
        w_strict = (
            Window.partitionBy(*partition_cols)
            .orderBy("__ticks")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_incl = (
            Window.partitionBy(*partition_cols)
            .orderBy("__ticks")
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        return (
            F.coalesce(F.max(qty_c).over(w_strict), F.lit(-1)) >= qty_c
        ) | (F.max(qty_c).over(w_incl) > qty_c)

    survivors = q.withColumn(
        "__dom1", dominated(["o_orderpriority", "__b"])
    ).where(~F.col("__dom1"))
    return (
        survivors.withColumn("__dom2", dominated(["o_orderpriority"]))
        .where(~F.col("__dom2"))
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "total_qty")
    )


# ---------------------------------------------------------------------------
# Q141 — exact statistical outliers per group, transcendental-free: flag
# events whose value sits more than k standard deviations from its
# event-type mean, WITHOUT ever computing a mean, a variance, or a sqrt.
# (x - S/n)^2 > k^2 * (nQ - S^2)/n^2  <=>  (n*x - S)^2 > k^2 * (n*Q - S^2)
# over integer ticks — every quantity an integer, so Spark DECIMAL(38,0)
# and DuckDB HUGEINT agree bit-for-bit and the cross-engine float
# discipline (see functions.py) is trivially satisfied. Plan: one bounded
# group-stats aggregation (|event types| rows), broadcast back over the
# scan — a single shuffle of group-count size, linear at any corpus.
# ---------------------------------------------------------------------------
@register(
    "q141_group_outliers",
    oracle="""
    WITH t AS (
      SELECT event_id, event_type, value,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*)::HUGEINT AS n,
             SUM(x) AS sx, SUM(x * x) AS qx
      FROM t GROUP BY event_type
    )
    SELECT event_type, event_id, value,
           CASE WHEN n * x > sx THEN 'high' ELSE 'low' END AS side
    FROM t JOIN s USING (event_type)
    WHERE (n * x - sx) * (n * x - sx) > 9 * (n * qx - sx * sx)
    """,
    doc="exact k-sigma outliers per event type via integer cross-multiply (no sqrt, no division)",
    tags=("agg", "outliers", "events"),
)
def q141_group_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    t = ev.select(
        "event_id",
        "event_type",
        "value",
        dec_ticks(F.col("value"), 2).cast("decimal(20,0)").alias("x"),
    )
    stats = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("qx"),
    )
    joined = t.join(F.broadcast(stats), "event_type")
    n, x, sx, qx = (F.col(c) for c in ("n", "x", "sx", "qx"))
    d = n * x - sx
    return (
        joined.where(d * d > F.lit(9) * (n * qx - sx * sx))
        .select(
            "event_type",
            "event_id",
            "value",
            F.when(n * x > sx, F.lit("high")).otherwise(F.lit("low")).alias("side"),
        )
    )


# ---------------------------------------------------------------------------
# Q142 — per-group trend features (OLS slope / intercept / r²) with exact
# cross-engine bits and zero transcendentals: the per-entity trend feature a
# feature store materializes from an event stream. Two-layer discipline:
# (1) all six sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate
# as EXACT integers (seconds-offset × value ticks; DECIMAL(38,0) in Spark,
# HUGEINT in DuckDB) — summation-order-free, so partial aggregation at any
# parallelism gives the same bits; (2) the closed-form OLS formula then
# runs in DOUBLE over those identical integers with the identical
# association order on both engines — IEEE arithmetic is deterministic, so
# slope/intercept/r² match bit-for-bit without any rounding discipline.
# Degenerate groups (zero x- or y-variance) are filtered on the EXACT
# integer variance numerators, never on a float. One group-sized shuffle.
# ---------------------------------------------------------------------------
_TREND_EPOCH_S = 1704067200  # 2024-01-01 00:00:00 UTC: centers x to avoid
#                              (Σx)² overflowing 38 digits at the 100x point

_OLS_COV = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
_OLS_VARX = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
_OLS_VARY = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
_OLS_SLOPE = f"({_OLS_COV} / {_OLS_VARX})"
_OLS_SELECT = (
    f"{_OLS_SLOPE} AS slope",
    f"((CAST(sy AS DOUBLE) - {_OLS_SLOPE} * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS intercept",
    f"(({_OLS_COV} * {_OLS_COV}) / ({_OLS_VARX} * {_OLS_VARY})) AS r2",
)


@register(
    "q142_group_trend",
    oracle=f"""
    WITH t AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 1000000 - {_TREND_EPOCH_S} AS HUGEINT) AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*)::HUGEINT AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM t GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           {_OLS_SELECT[0]}, {_OLS_SELECT[1]}, {_OLS_SELECT[2]}
    FROM s
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    doc="per-event-type OLS trend (slope/intercept/r2): exact integer moments, IEEE-identical closed form",
    tags=("agg", "ml", "trend"),
)
def q142_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    t = ev.select(
        F.col("event_type"),
        F.expr(
            f"CAST(unix_micros(ts) DIV 1000000 - {_TREND_EPOCH_S} AS DECIMAL(20,0))"
        ).alias("x"),
        dec_ticks(F.col("value"), 2).cast("decimal(20,0)").alias("y"),
    )
    s = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return s.where("n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0").selectExpr(
        "event_type", "CAST(n AS BIGINT) AS n", *_OLS_SELECT
    )


# ---------------------------------------------------------------------------
# Q143 — winsorized robust statistics per group: clamp each value to its
# group's [P1, P99] band. The feature-engineering staple for heavy-tailed
# metrics (a single whale order no longer owns the mean). Exactness chain:
# Spark's exact `percentile` interpolates bit-identically to DuckDB's
# `quantile_cont` (parity established by q90b and re-verified on these
# bands), and the band membership test compares identical doubles. The
# output is the winsorized DECOMPOSITION — interior decimal-exact sum +
# clamp counts + the band doubles (win_sum = interior_sum + n_lo·lo +
# n_hi·hi) — rather than a pre-folded winsorized sum: an interpolated
# boundary can land exactly on a cent-rounding tie, where repr-rounding
# (DuckDB cast) and binary rounding disagree — the precise case the repo's
# "never round a value that can terminate at the boundary" rule forbids
# (measured: one such boundary at sf0.1 skewed a folded sum by 0.01 per
# clamped row). Interior values are raw money-grid data, dec_sum-safe.
# Plan: one group-stats aggregation (exact percentile — fine while a
# group's values fit an executor; the documented scale swap is
# approx_percentile with the same downstream shape), broadcast the
# |groups|-row band table back over the scan, one bounded final agg.
# ---------------------------------------------------------------------------
@register(
    "q143_winsorized_stats",
    oracle="""
    WITH bands AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type
    ),
    tagged AS (
      SELECT e.event_type, e.value, b.lo, b.hi,
             CAST(e.value < b.lo AS INT) AS is_lo,
             CAST(e.value > b.hi AS INT) AS is_hi
      FROM events e JOIN bands b USING (event_type)
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(is_lo) AS BIGINT) AS n_clamped_lo,
           CAST(SUM(is_hi) AS BIGINT) AS n_clamped_hi,
           MIN(lo) AS lo, MIN(hi) AS hi,
           CAST(SUM(CASE WHEN is_lo = 0 AND is_hi = 0
                         THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             AS interior_sum
    FROM tagged GROUP BY event_type
    """,
    doc="per-group winsorized decomposition: exact [P1,P99] bands, clamp counts, interior decimal sum",
    tags=("agg", "robust", "percentile"),
)
def q143_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    bands = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    tagged = ev.join(F.broadcast(bands), "event_type").selectExpr(
        "event_type",
        "value",
        "lo",
        "hi",
        "CAST(value < lo AS INT) AS is_lo",
        "CAST(value > hi AS INT) AS is_hi",
    )
    return tagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_lo").cast("bigint").alias("n_clamped_lo"),
        F.sum("is_hi").cast("bigint").alias("n_clamped_hi"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
        dec_sum(
            F.when((F.col("is_lo") == 0) & (F.col("is_hi") == 0), F.col("value")),
            2,
            "interior_sum",
        ),
    )


# ---------------------------------------------------------------------------
# Q145 — exponentially time-decayed spend per user (half-life = 1 day):
# the classic feature-store "decayed counter", EXACT across engines by a
# power-of-two trick. decayed = Σ value·2^(−age_days) is float-hostile
# (mixed exponents make the sum order-dependent) — but scaling by 2^W
# turns every term into an INTEGER: ticks·2^(W−k) for k ∈ [0, W] is a
# bit-shift, integers sum exactly in DECIMAL(38,0)/HUGEINT at any
# parallelism, and the final single division by (2^W · 100) is one IEEE
# op over identical values. The decay window [0, W] days is the declared
# semantics (older events fall out of the feature — what a production
# decayed counter does anyway). One user-keyed shuffle, map-side partial
# aggregation; the weight is a shift, not a pow() call.
# ---------------------------------------------------------------------------
_DECAY_ANCHOR = "2024-01-31"  # fixture event horizon; half-life 1 day
_DECAY_W = 30


@register(
    "q145_decayed_spend",
    oracle=f"""
    WITH aged AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS ticks,
             datediff('day', CAST(ts AS DATE), DATE '{_DECAY_ANCHOR}') AS k
      FROM events
    )
    SELECT user_id, COUNT(*) AS n_in_window,
           CAST(SUM(ticks * (CAST(1 AS HUGEINT) << ({_DECAY_W} - k))) AS DOUBLE)
             / {float(2 ** _DECAY_W * 100)!r} AS decayed_spend
    FROM aged
    WHERE k BETWEEN 0 AND {_DECAY_W}
    GROUP BY user_id
    """,
    doc="half-life-1-day decayed spend per user: exact power-of-two integer scaling, no pow()",
    tags=("agg", "feature", "decay"),
)
def q145_decayed_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    aged = ev.select(
        "user_id",
        dec_ticks(F.col("value"), 2).alias("ticks"),
        F.datediff(F.lit(_DECAY_ANCHOR).cast("date"), F.col("ts").cast("date")).alias(
            "k"
        ),
    ).where(F.col("k").between(0, _DECAY_W))
    scaled = aged.select(
        "user_id",
        # shiftleft needs a column shift amount -> SQL form (the PySpark
        # wrapper only takes a literal numBits)
        F.expr(f"CAST(ticks * shiftleft(CAST(1 AS BIGINT), {_DECAY_W} - k) AS DECIMAL(38,0))").alias(
            "term"
        ),
    )
    return scaled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_in_window"),
        (F.sum("term").cast("double") / F.lit(float(2**_DECAY_W * 100))).alias(
            "decayed_spend"
        ),
    )
