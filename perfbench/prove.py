"""Run the benchmark on several seeds and print each metric's spread.

    python3 perfbench/prove.py --workload query_panel --seeds 1 2 3 4 5

For every metric it prints the median over the runs and the distance
between the first and third quartile as a share of the median (the
spread ``BENCHMARK.json`` bounds), next to a third of the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def rel_spread(values: list[float]) -> float:
    """Distance between the first and third quartile, over the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            bench["command"] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ],
            cwd=ROOT, capture_output=True, text=True, timeout=180, check=True,
        ).stdout.strip().splitlines()
        result, detail = json.loads(out[-1]), json.loads(out[-2])["detail"]
        if not result["correct"]:
            print(f"seed {seed}: incorrect: {detail['failures']}")
            return 1
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: canary {[round(c, 4) for c in detail['canary_s']]} "
              f"steal {detail['steal_share']:.3f} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                         if k in bounds), flush=True)
    for k, vs in values.items():
        if len(vs) < 2 or statistics.median(vs) == 0:
            continue
        b = bounds.get(k)
        print(f"{k:48s} median {statistics.median(vs):12.4f} spread {rel_spread(vs):.4f}"
              + (f" (bound/3 {b / 3:.4f})" if b else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
