#!/usr/bin/env python3
"""Run the benchmark over several seeds and judge its steadiness.

    python3 perfbench/spread.py --workload staged_graph --seeds 1-10 --save a.jsonl
    python3 perfbench/spread.py --compare a.jsonl b.jsonl

The first form runs ``run.py`` once per seed (``--seconds`` from
BENCHMARK.json) and prints, for each end-to-end metric, the median, the
quartiles and the spread: the inter-quartile distance as a share of the
median, beside the metric's bound. The second form compares two saved sets
metric by metric: how much worse the second median is than the first, as a
share of the first, beside the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(spec: dict, workload: str, seed_list: list[int], trace: int) -> list[dict]:
    results = []
    for seed in seed_list:
        cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        result["seed"] = seed
        results.append(result)
        print(f"seed {seed}: " + "  ".join(
            f"{k} {v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    return results


def values(results: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in results:
        for k, v in r["metrics"].items():
            out.setdefault(k, []).append(v["value"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    spec = load_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(values([json.loads(line) for line in f if line.strip()]))
        print(f"{'metric':16s} {'first':>10s} {'second':>10s} {'worse by':>9s} {'bound':>6s}")
        for name, bound in bounds.items():
            a, b = M.median(sets[0][name]), M.median(sets[1][name])
            print(f"{name:16s} {a:10.4f} {b:10.4f} {(b - a) / a:9.3f} {bound:6.2f}")
        return 0

    results = run_set(spec, args.workload, seeds(args.seeds), args.trace)
    if args.save:
        with open(args.save, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in results)
    print(f"{len(results)} runs, {sum(r['failed'] for r in results)} failed operations")
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
    for name, vals in values(results).items():
        q1, q2, q3 = M.quartiles(vals)
        bound = f"{bounds[name]:6.2f}" if name in bounds else ""
        print(f"{name:28s} {q2:12.4f} {q1:12.4f} {q3:12.4f} {M.relative_spread(vals):7.3f} {bound}")
    return 0 if results and all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
