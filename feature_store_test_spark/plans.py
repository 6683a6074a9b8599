"""PLANS.md generator: captured physical plans for the headline queries.

Run:  python -m feature_store_test_spark.plans

Regenerates PLANS.md at the repo root from the CURRENT headline list
(harness.HEADLINE), in the harness session under harness.BASE_PROFILE, so
the documented plans can never drift from the benchmarked queries or the
session that measures them. Read the file for: ``PushedFilters``/
``ReadSchema`` on scans (pushdown + pruning), ``BroadcastHashJoin`` on
dimension joins, one Exchange per keyed operator, and Python appearing
only at declared UDF seams.
"""

from __future__ import annotations

import os

from feature_store_test_spark.harness import (
    BASE_PROFILE,
    HEADLINE,
    harness_session,
    profile_desc,
    set_profile,
)
from feature_store_test_spark.registry import all_queries

HEADER_TEMPLATE = """# PLANS — captured physical plans (sf0.1, harness BASE profile)

Generated by `python -m feature_store_test_spark.plans` (df.explain('formatted')
over each harness.HEADLINE query at sf0.1, in `harness.harness_session()`
under harness.BASE_PROFILE — {base_desc} — with constraint propagation and
dynamic partition pruning off, as in every measured session), so these are
EXACTLY the plans the headline numbers measure (the profile prose is
formatted from the tuple itself, so it cannot drift). AQE off means the
FULL static physical plan is visible; the 10x/cluster profile re-enables AQE
(and the SMJ default — SHJ's per-partition build must fit executor memory
at 100 TB) on the same logical plans. What to look for:
`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),
`BroadcastHashJoin` ONLY on dimension sides (facts must never be a
broadcast build side), single Exchange per keyed operator, and Python
appearing ONLY in declared UDF queries.
"""


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = harness_session("fsts-plans")
    set_profile(spark, BASE_PROFILE)
    specs = all_queries()
    # headline set + the non-headline operators whose plan shape carries
    # a specific scale claim worth pinning in the artifact
    extra = [
        "q39b_simhash_groups",   # bounded fingerprint-pair contract
        "q122_image_codec",      # Arrow codec stage: 1 exchange, 2 python
        "q123_cosine_topk_gemm", # GEMM scan + global re-rank
        "q125_video_codec",      # video decode through the same shape
        "q126_span_dedup",       # span window + reassembly: 3 exchanges
        "q38_lsh_ann_topk",      # LSH bucket equi-join (r4: hash-checked)
        "q84_dedup_components",  # star edges via per-fingerprint hub (r5)
        "q121_semantic_dedup",   # collapsed rep-graph components (r5)
        "q83_salted_join",       # hot-key-scoped salting (empty hot set -> plain join)
        "q127_pii_redaction",    # zero-shuffle regex scan
        "q129_cross_source_contamination",  # fingerprint-only shuffle
        "q132_grid_skew_join",   # composite-skew two-sided grid join
        "q133_bigram_lm_quality",  # vocab-bounded LM model broadcast joins
        "q134_bm25_search",      # one-row stats broadcast + TakeOrdered top-k
        "q135_bloom_semi_join",  # map-side bitmap probe ahead of exact shuffle
        "q136_trade_pagerank",   # aggregate-then-iterate graph centrality
        "q138_heavy_hitters",    # fixed-size CMS + bounded exact rerank
        "q139_fuzzy_name_match", # distinct-collapse + length-band blocked levenshtein
        "q140_pareto_orders",    # linear 2-D skyline: two RANGE frames, one sort
        "q141_group_outliers",   # bounded group stats broadcast over the scan
        "q142_group_trend",      # exact-moment OLS: one group-sized shuffle
        "q143_winsorized_stats", # percentile bands broadcast; bounded final agg
        "q144_maxsim_retrieval", # no-explode MaxSim lattice; broadcast query set
        "q145_decayed_spend",    # bit-shift decay weights; one user-keyed shuffle
        "q146_k_anonymity_audit",# one QI-tuple hash agg + HAVING
        "q147_entity_resolution",# fuzzy edges -> min-label propagation
        "q148_table_profile",    # one-scan multi-distinct profile (Expand)
        "q149_normalized_dedup", # canonicalized fingerprints, digest-only agg
        "q151_bpe_token_counts", # explode words ⋈ broadcast trained segmentation
        "q152_max_span_dedup",   # sliding digest anchors + island-merge windows
        "q153_html_extract",     # fused block-strip regexp chain, spread scan
        "q154_fuzzy_decontamination",  # shared LSH pass, mixed-membership slice
        "q155_doc_chunking",     # slice/explode chunk windows: zero shuffles
        "q156_mlm_corruption",   # md5-positional masking, all array lambdas
        "q157_trigram_langid",   # trigram profiles: bounded agg + broadcast score
        "q158_perceptual_near_dups",  # aHash collapse + banded LSH + Hamming verify
    ]
    names = list(HEADLINE) + [n for n in extra if n in specs]
    sections = [HEADER_TEMPLATE.format(base_desc=profile_desc(BASE_PROFILE))]
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        sections.append(
            f"\n## {name}\n\n{specs[name].doc}\n\n```\n{plan.rstrip()}\n```\n"
        )
    out = os.path.join(repo_root, "PLANS.md")
    with open(out, "w") as f:
        f.write("".join(sections))
    print(f"wrote {out}: {len(names)} plans at {sf_dir}")


if __name__ == "__main__":
    main()
