"""Engine CLI: ``python -m feature_store_test_spark <cmd> ...``.

Commands:
    list                      every registered query (name + one-liner)
    run <query> [sf_dir]      execute one registered query, print rows
    explain <query> [sf_dir]  print the formatted physical plan
    oracle <query>            print the query's DuckDB oracle SQL

Companion module entry points (same package, own mains):
    python -m feature_store_test_spark.demo        end-to-end workflow tour
    python -m feature_store_test_spark.sweep       full-registry x1/x10 sweep
    python -m feature_store_test_spark.scaleprobe  probed subset, x1/x10 replica
    python -m feature_store_test_spark.plans       regenerate PLANS.md

The sweep, the scale probe, PLANS.md and the root bench.py all measure
through feature_store_test_spark.harness: one session (harness_session),
one pair of profiles (BASE_PROFILE at sf0.1, SCALE_PROFILE at 10x) and
one timing function (run_query: construction, min-of-2 prepared-plan
execution, job count).
"""

from __future__ import annotations

import sys

DEFAULT_SF = "/root/testdata/sf0.001"
_MAX_SHOW = 50


def main(argv: list[str]) -> int:
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 0
    cmd, args = argv[0], argv[1:]

    from feature_store_test_spark.registry import all_queries

    specs = all_queries()

    if cmd == "list":
        for name, spec in sorted(specs.items()):
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name:34s} [{kind:9s}] {spec.doc}")
        print(f"\n{len(specs)} queries")
        return 0

    if cmd in ("run", "explain", "oracle"):
        if not args:
            print(f"usage: {cmd} <query> [sf_dir]", file=sys.stderr)
            return 2
        name = args[0]
        if name not in specs:
            import difflib

            hint = difflib.get_close_matches(name, specs, n=3)
            print(f"unknown query {name!r}; close: {hint}", file=sys.stderr)
            return 2
        if cmd == "oracle":
            sql = specs[name].oracle
            print(sql.strip() if sql else f"-- {name} is rows-only (no oracle)")
            return 0

        sf_dir = args[1] if len(args) > 1 else DEFAULT_SF
        from feature_store_test_spark.registry import release_caches
        from feature_store_test_spark.session import get_spark

        spark = get_spark(app_name=f"fsts-{cmd}")
        spark.sparkContext.setLogLevel("ERROR")
        df = specs[name].fn(spark, sf_dir)
        if cmd == "explain":
            df.explain("formatted")
        else:
            df.show(_MAX_SHOW, truncate=False)
            n = df.count()
            if n > _MAX_SHOW:
                print(f"... {n} rows total (showing {_MAX_SHOW})")
        release_caches()
        return 0

    print(f"unknown command {cmd!r}\n{__doc__}", file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
