#!/usr/bin/env python3
"""Run one workload under several seeds and report each end-to-end
metric's median and spread (inter-quartile range as a share of the
median, from ``statistics.quantiles(values, n=4)``).

    python3 perfbench/spread.py --workload lake_queries --seeds 1-10

Run it from the repository root. Each run's result line is appended to
``.perfbench_work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-5")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    log = os.path.join(".perfbench_work", "spread.jsonl")
    os.makedirs(".perfbench_work", exist_ok=True)
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        summary = json.loads(lines[-2][2:]) if lines[-2].startswith("# ") else {}
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                 "wall_s": walls[-1], "summary": summary,
                                 **result}) + "\n")
        print(f"seed {seed}: {walls[-1]:.1f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}", flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        line = f"{k:28s} median {med:12.4f}"
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            line += f"  spread {(q3 - q1) / med:.3f}"
            if bounds.get(k) is not None:
                line += f"  (bound {bounds[k]})"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
