"""Dump .explain('formatted') per query into plans/r11/<name>_<tag>.txt.

Usage:  python plans/r11/capture.py <tag> [qname ...]
With no names, captures every harness.HEADLINE query. Plans are captured
under harness.BASE_PROFILE at sf0.1 (the exact profile the headline numbers
measure), same discipline as feature_store_test_spark/plans.py.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)


def main() -> None:
    tag = sys.argv[1]
    from feature_store_test_spark.harness import BASE_PROFILE, HEADLINE, set_profile
    from feature_store_test_spark.registry import all_queries
    from feature_store_test_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="fsts-plans-r11")
    set_profile(spark, BASE_PROFILE)
    specs = all_queries()
    names = sys.argv[2:] or list(HEADLINE)
    out_dir = os.path.join(REPO, "plans", "r11")
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan.rstrip() + "\n")
        print("wrote", path)


if __name__ == "__main__":
    main()
