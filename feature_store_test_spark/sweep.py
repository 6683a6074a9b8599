"""Full-registry scale sweep: EVERY registered query measured with
``harness.run_query`` at the base SF (default sf0.1, BASE_PROFILE) and on
the 10x scaleprobe replica (SCALE_PROFILE), written to SCALE_SWEEP.json.

This is the audit that catches scale pathologies the 30-query headline
bench never touches (round 2: q39's 749s band join, ANN retrain storms;
round 3: q83's data-sized salt fan-out). A ratio near 1x means the query
is still floor-dominated at ~6M-row lineitem; near 10x means linear
data-bound work; far above flags quadratic candidate growth / broadcast
overflow / skew — except where the OUTPUT itself grows superlinearly by
declared semantics (q39 exploded pairs, q50 head-fingerprint pairs),
which the ratio can't distinguish from a bad plan; read those rows with
their documented cost models.

Run:  python -m feature_store_test_spark.sweep
Env:  SPARK_GRAFT_SF_DIR (base dir), SPARK_GRAFT_SWEEP_SKIP_10X=1 (x1 only)
"""

from __future__ import annotations

import json
import os
import time

from feature_store_test_spark.harness import (
    BASE_PROFILE,
    SCALE_PROFILE,
    WARM_SF_DIR,
    harness_session,
    profile_desc,
    run_query,
    set_profile,
)
from feature_store_test_spark.registry import all_queries

PROTOCOL = (
    "harness.run_query: one timed fn() (construct_*), min of 2 executions "
    "of the prepared plan (x1/x10; cache-binding plans rebuilt per run) "
    "after an sf0.001 warm-up pass; x1 = base SF under BASE_PROFILE "
    f"({profile_desc(BASE_PROFILE)}), x10 = scaleprobe replica under "
    f"SCALE_PROFILE ({profile_desc(SCALE_PROFILE)})"
)


def measure(
    spark, names: list[str], base_dir: str, scale_dir: str | None, scale_key: str
) -> dict[str, dict]:
    """run_query every query at ``base_dir`` ("x1") and, if given, at
    ``scale_dir`` (``scale_key``); errors are recorded, never raised."""
    specs = all_queries()
    set_profile(spark, BASE_PROFILE)
    for name in names:
        try:
            run_query(spark, specs[name], WARM_SF_DIR, runs=1)
        except Exception:  # noqa: BLE001 — recorded in the timed pass
            pass
    spark.sparkContext._jvm.System.gc()
    time.sleep(2.0)
    out: dict[str, dict] = {}
    for name in names:
        try:
            r = run_query(spark, specs[name], base_dir)
            out[name] = {"x1": round(r["exec_s"], 3),
                         "construct_x1": round(r["construct_s"], 3)}
        except Exception as e:  # noqa: BLE001 — sweep must record, not die
            out[name] = {"err": str(e)[:200]}
    if scale_dir is None:
        return out
    spark.sparkContext._jvm.System.gc()
    time.sleep(2.0)
    set_profile(spark, SCALE_PROFILE)
    for name in names:
        if "err" in out[name]:
            continue
        if specs[name].scale_demo:
            # output-bound demo views (q39's exploded dup² pairs): their
            # x10 wall measures OUTPUT volume by declared semantics, not
            # plan quality — the bounded twin (q39b) carries the signal
            out[name]["skipped_10x"] = "output-bound demo view"
            continue
        try:
            r = run_query(spark, specs[name], scale_dir)
            out[name][scale_key] = round(r["exec_s"], 3)
            out[name][f"construct_{scale_key}"] = round(r["construct_s"], 3)
            out[name]["ratio"] = round(r["exec_s"] / max(out[name]["x1"], 1e-9), 2)
        except Exception as e:  # noqa: BLE001
            out[name]["err"] = str(e)[:200]
    set_profile(spark, BASE_PROFILE)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = harness_session("fsts-sweep")
    scale_dir = None
    if os.environ.get("SPARK_GRAFT_SWEEP_SKIP_10X", "0") != "1":
        from feature_store_test_spark.scaleprobe import ensure_replica

        scale_dir = ensure_replica(spark)
    out = measure(spark, list(all_queries()), sf_dir, scale_dir, "x10")

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_SWEEP.json",
    )
    x1_tot = sum(v.get("x1", 0.0) for v in out.values())
    x10_tot = sum(v.get("x10", 0.0) for v in out.values())
    result: dict[str, dict] = {
        "_totals": {
            "total_x1_sec": round(x1_tot, 2),
            "total_x10_sec": round(x10_tot, 2),
            "total_ratio": round(x10_tot / x1_tot, 2) if x1_tot else None,
            "n_queries": len(out),
            "protocol": PROTOCOL,
        }
    }
    # the 100x probe (SPARK_GRAFT_SCALE_COPIES=100 scaleprobe) is
    # measured out-of-band and carried across regenerations
    if os.path.exists(path):
        try:
            with open(path) as f:
                probe100 = json.load(f).get("_probe100")
            if probe100:
                result["_probe100"] = probe100
        except Exception:  # noqa: BLE001
            pass
    result.update(out)
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    flagged = {
        n: v
        for n, v in out.items()
        if "err" in v or v.get("ratio", 0) > 12
    }
    print(
        f"\n{len(out)} queries  x1 total {x1_tot:.1f}s  "
        f"x10 total {x10_tot:.1f}s  flagged {json.dumps(flagged)}"
    )


if __name__ == "__main__":
    main()
