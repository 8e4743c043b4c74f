#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload lake_queries --seed 1 --seconds 16 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (and the spans go to ``.perfbench_work/traces/``). The
line before it, prefixed ``#``, gives the same run under the per-workload
names (queries_per_min, commit_p50_s, read_p50_s, error_rate, ...).
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="scale factor of the lake tables under perfbench/data "
                        "(0.1, the default, or 0.001)")
    p.add_argument("--cdc-base", type=int, default=20_000,
                   help="live keys in the cdc_merge base table")
    p.add_argument("--cdc-batch", type=int, default=1000,
                   help="events per cdc_merge micro-batch")
    p.add_argument("--corrupt", action="store_true",
                   help="test hook: halve every query result and drop a row of "
                        "the first cdc_merge probe, so the checks must fail")
    p.add_argument("--with-known-defects", action="store_true",
                   help="also run the roster's queries that are known to fail "
                        "their check (harness.KNOWN_DEFECTS)")
    args = p.parse_args(argv)

    for need in ("philotes_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from the "
                  "repository root", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    import harness

    try:
        run = harness.Run(
            ROOT, args.workload, args.seed, args.seconds, bool(args.trace),
            args.sf, cdc_base=args.cdc_base, cdc_batch=args.cdc_batch,
            corrupt=args.corrupt, with_known_defects=args.with_known_defects,
        )
        result = harness.execute(run)
    except harness.SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for f in run.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    if args.trace:
        print(f"perfbench: spans written to {run.trace_path}", file=sys.stderr)
    print("# " + json.dumps(harness.summary(run, result)))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
