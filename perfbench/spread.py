"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload tpch_star --seeds 1-10 [--seconds 15]

Runs ``run.py`` once per seed, one after another, and prints for each metric
its median and the distance between its first and third quartile as a share
of the median, next to the metric's bound from ``BENCHMARK.json``.  Raw
results are appended to ``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    """``"1-5"`` or ``"1,4,9"`` as a list of seeds."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    log = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        line = " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items())
        print(f"seed {seed}: {line}", flush=True)
    print(f"{'metric':16s} {'median':>10s} {'spread':>8s} {'bound/3':>8s}")
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
        third = bounds.get(name, float("nan")) / 3
        print(f"{name:16s} {statistics.median(vals):10.4g} {spread:8.3f} {third:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
