"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload connector --seeds 1-10

Runs the benchmark once per seed (sequentially, untraced) and prints,
per end-to-end metric, the median and the interquartile range as a share
of the median (``statistics.quantiles(values, n=4)``), next to the
metric's bound in BENCHMARK.json.  A benchmark is steady when every
spread except ``setup_s``'s stays well inside its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']}: median={med:.6g} {m['unit']} spread={(q3 - q1) / med:.3f} "
              f"bound={m['bound']} (n={len(v)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
