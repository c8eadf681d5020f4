"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload llm_curation --seeds 1-10 [--seconds 10]

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints
for every end-to-end metric its median, the spread (the distance between
the first and third quartile, as ``statistics.quantiles(values, n=4)``
gives them, over the median) and the metric's bound from BENCHMARK.json.
A spread above a third of the bound is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=None)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    runs = []
    for seed in seed_list(args.seeds):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.splitlines()
        record, result = json.loads(out[-2])["record"], json.loads(out[-1])
        runs.append(result)
        values = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: correct={result['correct']} steal={record['steal_pct_timed']} "
              f"passes={record['pass_samples']} {values}", flush=True)
    ok = True
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread < m["bound"] / 3 else "  <-- above a third of the bound"
        ok &= not flag
        print(f"{m['name']:>18}: median {med:.4f} {m['unit']}, spread {spread:.4f}, "
              f"bound {m['bound']}{flag}")
    print("all correct" if all(r["correct"] for r in runs) else "SOME RUNS INCORRECT")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
