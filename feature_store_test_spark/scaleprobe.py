"""10x scale-up probe: how does each headline query's wall time grow when
the data grows 10x?

Builds a 10x replica of sf0.1 under /tmp (each table unioned 10 times with
key-space offsets so joins keep their fan-in: 10x the orders of 10x the
customers, not 10 duplicate copies of the same keys), then measures each
probed query with ``harness.run_query`` at 1x (BASE_PROFILE) and at 10x
(SCALE_PROFILE), the sweep's own loop, and reports the growth ratio.

A ratio near 1x means the query is still overhead-dominated at ~6M-row
lineitem; near 10x means perfectly linear data-bound work; far above 10x
flags a plan that would collapse at cluster scale (quadratic candidate
growth, broadcast overflow, skew). Run:

    python -m feature_store_test_spark.scaleprobe
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_test_spark.data import SCHEMAS, load_table

BASE_SF = "/root/testdata/sf0.1"
# Replication factor is env-tunable for one-off deeper probes
# (SPARK_GRAFT_SCALE_COPIES=100 measured ~1.5 GB on disk); bench.py's
# per-round scale point stays at the default 10x.
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
OUT_DIR = f"/tmp/scale{COPIES}x"

# key columns shifted per copy so the key spaces stay disjoint
KEY_OFFSETS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # region/nation are dimensions: replicating them would change join
    # semantics (every fact row would match 10 copies) — keep 1x.
    "region": [],
    "nation": [],
}

PROBED = [
    "q01_pricing_summary",
    "q05_local_supplier_volume",
    "q08_latest_event_per_user",
    "q15_asof_join",
    "q16_engineer_features",
    "q21_minhash_near_dups",
    "q28_cosine_topk",
    "q76_large_orders",
    "q78_lonely_late_supplier",
    "q87_token_budget_sample",
    "q101_distinctive_terms",
    "q102_decontamination",
    "q109_group_topk_share",
    "q110_incremental_dedup",
    "q113_conversion_asof",
    "q114_full_outer_reconciliation",
    "q115_leakage_safe_split",
    "q116_weighted_sample",
    "q117_curation_funnel",
    # LLM-pipeline family (round 5): the 100 TB claims that matter most
    # are dedup/retrieval/curation — probe their collapse/blocking paths
    # at the replica's ~90% dup rate, where the cost-based exact-collapse
    # and banded/blocked candidate joins actually engage.
    "q39b_simhash_groups",
    "q121_semantic_dedup",
    "q126_span_dedup",
    "q129_cross_source_contamination",
    "q131_feature_hash_near_dups",
    "q134_bm25_search",
    "q147_entity_resolution",
    # round 7: the two newest dedup/tokenize family members (VERDICT r6
    # item 6 asked for q149; q152 is the suffix-window span dedup)
    "q149_normalized_dedup",
    "q152_max_span_dedup",
    # round 8 (r7 verdict item 5): the families the probe was missing —
    # codec/python-stage task sizing (q88 — byte-sized task counts are
    # exactly what 100x stresses), the BPE broadcast-join encode (q151),
    # retrieval's ColBERT MaxSim lattice (q144; q134 BM25 was already
    # probed), and the new HTML-extraction regexp chain (q153)
    "q88_media_features",
    "q151_bpe_token_counts",
    "q144_maxsim_retrieval",
    "q153_html_extract",
    # round 9 (r8 verdict item 2 + item 3): q154 shares q21's signature
    # pass (cheap); q155/q156 are zero-shuffle array codegen (expected
    # flat); q157 is the new trigram langid (bounded profile agg +
    # broadcast scoring)
    "q154_fuzzy_decontamination",
    "q155_doc_chunking",
    "q156_mlm_corruption",
    "q157_trigram_langid",
    # round 10 (r9 verdict item 3): perceptual image near-dup — the
    # decode+hash mapInPandas stage is byte-sized like q88, and the
    # banded candidate join runs over exact-collapsed DISTINCT hashes
    "q158_perceptual_near_dups",
]


def _replicate(spark: SparkSession, name: str) -> None:
    out = f"{OUT_DIR}/{name}.parquet"
    # _SUCCESS marker, not bare existence: a replica interrupted mid-write
    # leaves a partial directory that would otherwise be silently treated
    # as complete and skew every 10x timing
    if os.path.exists(f"{out}/_SUCCESS"):
        return
    base = load_table(spark, name, BASE_SF)
    keys = KEY_OFFSETS[name]
    if not keys:
        base.write.mode("overwrite").parquet(out)
        return
    maxes = base.agg(*[(F.max(k) + 1).alias(k) for k in keys]).collect()[0]
    copies = [
        base.select(
            *[
                (F.col(c) + F.lit(i * maxes[c]).cast("long")).alias(c)
                if c in keys
                else F.col(c)
                for c in base.columns
            ]
        )
        for i in range(COPIES)
    ]
    out_df: DataFrame = copies[0]
    for c in copies[1:]:
        out_df = out_df.unionByName(c)
    out_df.write.mode("overwrite").parquet(out)


def ensure_replica(spark: SparkSession) -> str:
    """Build (or reuse) the 10x replica; returns its directory.

    Shared by this probe and bench.py's scale point.
    """
    for name in SCHEMAS:
        _replicate(spark, name)
    return OUT_DIR


def main() -> None:
    from feature_store_test_spark.harness import harness_session
    from feature_store_test_spark.sweep import measure

    spark = harness_session("fsts-scaleprobe")
    ensure_replica(spark)
    key = f"x{COPIES}"
    report = measure(spark, PROBED, BASE_SF, OUT_DIR, key)
    for name, times in report.items():
        print(json.dumps({name: times}))
    ok = [v for v in report.values() if key in v]
    total1 = sum(v["x1"] for v in ok)
    totaln = sum(v[key] for v in ok)
    print(
        json.dumps(
            {
                "total_x1_sec": round(total1, 2),
                f"total_{key}_sec": round(totaln, 2),
                "total_ratio": round(totaln / total1, 2),
            }
        )
    )
    if COPIES == 100:
        # persist the deep-probe block into SCALE_SWEEP.json so sweep
        # regenerations carry it (sweep.py reads _probe100 back)
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALE_SWEEP.json",
        )
        sweep = {}
        if os.path.exists(path):
            try:
                with open(path) as f:
                    sweep = json.load(f)
            except Exception:  # noqa: BLE001
                sweep = {}
        block = {
            "note": (
                f"{len(ok)}-query probe at 100x replica "
                "(SPARK_GRAFT_SCALE_COPIES=100); harness.run_query, x1 under "
                "BASE_PROFILE, x100 under SCALE_PROFILE. 100x data at "
                f"{round(totaln / total1, 2)}x wall "
                f"(x1 {round(total1, 2)}s -> x100 {round(totaln, 2)}s)."
            ),
            **report,
        }
        sweep["_probe100"] = block
        with open(path, "w") as f:
            json.dump(sweep, f, indent=1)


if __name__ == "__main__":
    main()
