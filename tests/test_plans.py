"""Physical-plan regression tests: the scale properties the engine claims
(pushdown, broadcasts, no Python in relational paths) must survive edits.
"""

from __future__ import annotations

import pytest

from feature_store_test_spark.registry import all_queries


def plan_of(spark, sf_dir, name) -> str:
    df = all_queries()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_and_projection_reach_the_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched wide columns never leave the reader
    assert "l_orderkey" not in plan.split("ReadSchema")[-1]
    assert "l_partkey" not in plan.split("ReadSchema")[-1]


def test_q04_dimension_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q04_join_broadcast_dims")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q06_semi_and_q07_anti_join_operators(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "q06_semi_join")
    assert "LeftAnti" in plan_of(spark, sf_dir, "q07_anti_join")


def test_relational_queries_have_no_python_eval(spark, sf_dir):
    """Python must appear only at the declared UDF seams (q32/q33), never in
    the relational/dedup/text hot paths."""
    for name in [
        "q01_pricing_summary",
        "q05_local_supplier_volume",
        "q08_latest_event_per_user",
        "q15_asof_join",
        "q16_engineer_features",
        "q21_minhash_near_dups",
        "q23_text_stats",
        "q28_cosine_topk",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "Python" not in plan, f"{name} runs Python in its plan"


def test_udf_queries_do_use_arrow_python(spark, sf_dir):
    assert "ArrowEvalPython" in plan_of(spark, sf_dir, "q33_pandas_udf_score")
    assert "MapInPandas" in plan_of(spark, sf_dir, "q32_frame_sample")


def test_q87_window_and_report_agg_share_one_exchange(spark, sf_dir):
    """Token-budget sampling: the running-sum window partitions by source
    and the report agg groups by source — the plan must reuse that
    partitioning (exactly one Exchange), not shuffle twice."""
    plan = plan_of(spark, sf_dir, "q87_token_budget_sample")
    body = plan.split("AdaptiveSparkPlan")[-1]
    # final orderBy adds a rangepartitioning exchange; count only hash ones
    assert body.count("Exchange hashpartitioning") == 1, plan


def test_q89_funnel_stays_jvm_side(spark, sf_dir):
    """Sequence assembly (array_sort + transform over collect_list) must be
    JVM expressions, never Python."""
    plan = plan_of(spark, sf_dir, "q89_funnel_stages")
    assert "Python" not in plan


def test_q88_is_single_python_stage(spark, sf_dir):
    """The stub encoder is ONE MapInPandas stage; the norm/argmax fold over
    its output array runs JVM-side."""
    plan = plan_of(spark, sf_dir, "q88_media_features")
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_q03_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q03_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_online_view_is_partial_aggregation(spark, tmp_path):
    """The online view must be an aggregate (map-side partial max_by), not
    a ranking window requiring a full shuffle+sort of history."""
    from tests.test_store import FG_SCHEMA, make_fg, row

    fg = make_fg(spark, tmp_path)
    fg.ingest(spark.createDataFrame([row(1, 1, 1.0, 1.0, 1.0, 1.0)], FG_SCHEMA))
    plan = fg.online_view()._jdf.queryExecution().executedPlan().toString()
    assert "max_by" in plan
    assert "Window" not in plan


def test_q96_broadcasts_the_scalar_total(spark, sf_dir):
    """The grand total joins in as a broadcast (a 1-row side must never
    trigger a shuffle join), and the per-user count is partially
    aggregated map-side."""
    plan = plan_of(spark, sf_dir, "q96_heavy_hitters")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_q97_histogram_is_one_partial_aggregate_no_sort_shuffle(spark, sf_dir):
    """Equi-width histogram: integer bin math keyed aggregation —
    map-side combine, a single exchange, no window, no Python."""
    plan = plan_of(spark, sf_dir, "q97_price_histogram")
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan
    assert "Python" not in plan


def test_q98_mode_window_runs_inside_user_partitions(spark, sf_dir):
    """Per-group mode: the ranking window partitions by user_id — no
    global (empty-partition) window, which would serialize on one task."""
    plan = plan_of(spark, sf_dir, "q98_modal_event_type")
    assert "Window" in plan
    assert "partitionspec" not in plan.lower().replace("partition by", "")  # sanity
    assert "Python" not in plan


def test_q99_decile_window_runs_after_the_aggregate(spark, sf_dir):
    """ntile's global window must consume the per-user AGGREGATE (|users|
    rows), not the raw event scan — the aggregate appears below the window
    in the plan, and the raw value column never reaches the window."""
    plan = plan_of(spark, sf_dir, "q99_spend_deciles")
    assert "Window" in plan and plan.count("HashAggregate") >= 3
    # the window orders by the aggregated spend column, not raw value
    assert "spend" in plan.split("Window", 1)[1].split("\n")[0]
    assert "Python" not in plan


def test_q100_transition_window_partitions_by_user(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q100_event_transitions")
    assert "Window" in plan and "Python" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q101_single_scan_no_join(spark, sf_dir):
    """df rides as a window over term on the one token stream — no join
    at all (the former broadcast-vocabulary form re-ran the whole
    explode+tf pipeline on its build side: two corpus scans), and the
    ranking window partitions by doc_id. No Python anywhere."""
    plan = plan_of(spark, sf_dir, "q101_distinctive_terms")
    assert "Join" not in plan
    assert plan.count("Scan ") == 1
    assert "Window" in plan and "Python" not in plan


def test_q102_eval_grams_broadcast_and_no_python(spark, sf_dir):
    """Decontamination: the eval gram set must reach the corpus join as a
    broadcast — shuffling the exploded corpus grams for an equi-join
    against a KB-scale benchmark set would be the classic 100 TB mistake."""
    plan = plan_of(spark, sf_dir, "q102_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_q105_small_parents_broadcast_anti_joins(spark, sf_dir):
    """The FK audit's LINEITEM-side dimension checks run as broadcast
    LEFT joins feeding null-counts (never a shuffle of lineitem against a
    dimension table); the orders probe is the one real shuffle and must
    scan lineitem exactly once (round-5 fused single-pass form). The
    orders⋈customer branch is deliberately SHUFFLE_HASH since round 11
    (a broadcast build is its own scheduler job; the branch shuffles
    orders' two key columns, not lineitem — time-wash, 4 jobs -> 3)."""
    from feature_store_test_spark.queries.analytics import _q105_ck_hint

    plan = plan_of(spark, sf_dir, "q105_referential_audit")
    # the ck branch's join follows q105's own orders-size gate: in-job
    # SHUFFLE_HASH on small orders, the customer broadcast above it
    ck_shj = _q105_ck_hint(sf_dir) == "SHUFFLE_HASH(c)"
    assert plan.count("BroadcastHashJoin") >= (2 if ck_shj else 3)
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("ShuffledHashJoin") >= (2 if ck_shj else 1)  # orders probe (+ ck)
    assert "Python" not in plan


def test_q110_fused_single_scan_no_join(spark, sf_dir):
    """Round-5 fused incremental dedup: the batch-vs-corpus anti join is
    folded into ONE fingerprint-keyed aggregation over ONE documents scan
    (conditional aggregates carry the corpus-membership test) — no join
    operator and no second scan may reappear."""
    plan = plan_of(spark, sf_dir, "q110_incremental_dedup")
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan
    assert "Python" not in plan


def test_q76_scans_lineitem_once(spark, sf_dir):
    """Q18-shape decorrelation: the qualifying sum IS the output sum, so
    lineitem must appear exactly once in the plan (no second shuffle +
    re-aggregation through a semi join)."""
    plan = plan_of(spark, sf_dir, "q76_large_orders")
    assert plan.count("lineitem.parquet") == 1, plan


def test_q78_existentials_are_pipelined_aggs(spark, sf_dir):
    """Q21-shape EXISTS/NOT EXISTS must run as a SECOND hash aggregation
    on the orderkey partitioning the join already produced (round 6) —
    no semi/anti self-joins, lineitem read once, NO window and NO sort
    anywhere except the bounded final report sort, and no exchange
    between the flag aggregation and the per-order count aggregation
    (both are satisfied by the join's hash partitioning)."""
    plan = plan_of(spark, sf_dir, "q78_lonely_late_supplier")
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert plan.count("lineitem.parquet") == 1
    assert "Window" not in plan
    # hash exchanges: lineitem + orders (the SHJ's two sides), the two
    # tiny sides of the post-agg supplier shuffle-hash join (round 9:
    # replaced the broadcast build and its dedicated scheduler job), and
    # the final per-supplier-name aggregation — NOT six: nothing
    # re-shuffles between the flag aggregation and the per-order count
    # aggregation (both satisfied by the join's hash partitioning)
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("Exchange hashpartitioning") == 5, plan
    assert "BroadcastExchange" not in body, plan


def test_q109_windows_share_one_exchange(spark, sf_dir):
    """Ranking window and group-total window both partition by o_custkey —
    the plan must reuse that single hash exchange."""
    plan = plan_of(spark, sf_dir, "q109_group_topk_share")
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("Exchange hashpartitioning") == 1, plan


def test_q113_forward_asof_single_shuffle_no_python(spark, sf_dir):
    """Forward as-of = union + one window over user_id; there must be no
    join operator at all (merge-scan, not range join) and no Python."""
    plan = plan_of(spark, sf_dir, "q113_conversion_asof")
    assert "Join" not in plan.replace("AdaptiveSparkPlan", "")
    assert "Window" in plan and "Python" not in plan


def test_q114_full_outer_joins_pre_aggregated_sides(spark, sf_dir):
    """Reconciliation joins two per-day aggregates: the full-outer join's
    inputs must already be HashAggregates, never raw event scans."""
    plan = plan_of(spark, sf_dir, "q114_full_outer_reconciliation")
    assert "FullOuter" in plan
    # aggregation happens below the join: 2 partial+2 final aggregates
    assert plan.count("HashAggregate") >= 4


def test_q119_is_pure_scan_side(spark, sf_dir):
    """Repetition signals: both signals are per-row array math (sorted-run
    fold for the unigram mode, shifted zip for bigrams) — the plan must
    have NO exchange and no Python at all."""
    plan = plan_of(spark, sf_dir, "q119_repetition_signals")
    assert "Python" not in plan
    # the only allowed exchange is load_table_spread's round-robin DOP
    # recovery over single-row-group local fixtures
    assert "Exchange hashpartitioning" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_q120_vocabulary_is_broadcast(spark, sf_dir):
    """Corpus-frequency scoring: the vocabulary joins back onto the token
    stream as a BROADCAST build side (never a sort-merge shuffle of the
    tokens), and the scalar total rides a broadcast nested loop."""
    plan = plan_of(spark, sf_dir, "q120_corpus_freq_quality")
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
