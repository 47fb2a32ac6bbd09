"""Steadiness check: run each workload several times, each with its own
seed, and print per end-to-end metric the median, the quartiles and
the spread (q3 - q1) / median against the metric's bound.

    python3 perfbench/steady.py --runs 10 [--workload ingest] [--first-seed 1]

Runs are sequential, each a separate ``perfbench/run.py`` process with
BENCHMARK.json's ``run_seconds``.  Exits non-zero if a run fails, a run
is incorrect, the runs differ in ops attempted or failed, or a spread
exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import ROOT, bench_spec, quartiles  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    spec = bench_spec()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for wl in workloads:
        results = []
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.perf_counter()
            res = run_once(wl, seed, spec["run_seconds"], 0)
            results.append(res)
            print(f"{wl} seed {seed} ({time.perf_counter() - t0:.0f} s): "
                  + json.dumps(res), flush=True)
        counts = {(r["failed"], r["attempted"]) for r in results}
        correct = all(r["correct"] for r in results)
        print(f"\n{wl}: correct={correct} failed/attempted={sorted(counts)}")
        ok &= correct and len(counts) == 1
        print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med
            flag = "" if spread <= m["bound"] else "  OVER"
            ok &= not flag
            print(f"{m['name']:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{spread:>9.3f}{m['bound']:>8.2f}{flag}")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
