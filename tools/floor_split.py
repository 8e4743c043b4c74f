"""sf0.001 floor decomposition (VERDICT r12 "What's wrong" #2).

Per headline query at a tiny SF, split the cold time into PLAN BUILD
(python DataFrame construction + Catalyst analysis of eagerly-analyzed
subtrees) vs EXECUTION (action → result rows on the driver), and count
the Spark jobs each query submits. Running this against two checkouts of
the engine (``--repo``) interleaved on one host attributes a floor drift
to specific queries — or to host variance if every delta is uniform.

Usage:
    python tools/floor_split.py [--repo PATH] [--sf DIR] [--reps N]

Prints one JSON line: {"queries": {name: {"build": s, "exec": s,
"jobs": n, "rows": n}}, "total_build": s, "total_exec": s,
"total_jobs": n}. Warm-up pass at a different SF first (same protocol
as bench.py) so JIT/codegen compilation is excluded.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    args = sys.argv[1:]

    def opt(name: str, default: str) -> str:
        return args[args.index(name) + 1] if name in args else default

    repo = os.path.abspath(opt("--repo", os.path.join(os.path.dirname(__file__), "..")))
    sf_dir = opt("--sf", "/root/testdata/sf0.001")
    reps = int(opt("--reps", "2"))
    sys.path.insert(0, repo)

    import bench  # the target checkout's roster

    from philotes_spark import registry
    from philotes_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="floor_split")
    sc = spark.sparkContext

    warm_dir = "/root/testdata/sf0.01"
    for q in bench.HEADLINE:
        try:
            len(registry.QUERIES[q](spark, warm_dir).toPandas())
        except Exception as e:
            print(f"# warm {q} failed: {e}", file=sys.stderr)
    registry.invalidate_query_cache(spark)

    out: dict[str, dict] = {}
    for name in bench.HEADLINE:
        fn = registry.QUERIES[name]
        best = {"build": float("inf"), "exec": float("inf"), "jobs": 0, "rows": 0}
        for rep in range(reps):
            registry.invalidate_query_cache(spark)
            group = f"fs-{name}-{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            rows = len(df.toPandas())
            t2 = time.perf_counter()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            if t2 - t0 < best["build"] + best["exec"]:
                best = {
                    "build": round(t1 - t0, 3),
                    "exec": round(t2 - t1, 3),
                    "jobs": jobs,
                    "rows": rows,
                }
        out[name] = best
        print(f"# {name}: build={best['build']} exec={best['exec']} "
              f"jobs={best['jobs']}", file=sys.stderr)

    print(json.dumps({
        "repo": repo,
        "sf": sf_dir,
        "queries": out,
        "total_build": round(sum(q["build"] for q in out.values()), 3),
        "total_exec": round(sum(q["exec"] for q in out.values()), 3),
        "total_jobs": sum(q["jobs"] for q in out.values()),
    }))


if __name__ == "__main__":
    main()
