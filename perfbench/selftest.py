"""Self-tests of the benchmark, at a tiny scale (about seven minutes).

    python3 perfbench/selftest.py

1. Every workload, untraced and traced, prints a result whose metrics
   are exactly the ones BENCHMARK.json declares, each with its unit, and
   whose outputs all match their oracles.
2. A run with one planted wrong output reports it: ``correct`` is
   false and ``failed`` counts it.
3. A directory holding only BENCHMARK.json and perfbench/ makes the
   benchmark exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = {"iterative_graph": "0.001", "llm_curation": "0.001", "patient_migration": "20000"}


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", SMALL[workload], *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for workload in SMALL:
        for trace in (0, 1):
            out = run(workload, trace)
            if out.returncode != 0:
                problems.append(f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
                continue
            result = json.loads(out.stdout.splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{workload} trace={trace}: metrics {got} != {declared[trace]}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{workload} trace={trace}: {result['failed']} failed")
            print(f"ok  {workload} trace={trace}", flush=True)

    for workload in ("iterative_graph", "patient_migration"):
        out = run(workload, 0, "--plant-wrong")
        result = json.loads(out.stdout.splitlines()[-1])
        if result["correct"] or result["failed"] != 1:
            problems.append(f"{workload}: planted wrong output not counted: {result}")
        else:
            print(f"ok  {workload} counts a planted wrong output", flush=True)

    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
        out = run("iterative_graph", 0, cwd=bare)
        if out.returncode == 0 or out.stdout.strip():
            problems.append(f"bare directory: exit {out.returncode}, stdout {out.stdout!r}")
        else:
            print("ok  a bare directory exits non-zero without a result", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
