"""Stability receipt: repeated runs of the same tree, summarised per metric.

    python3 perfbench/receipt.py

For every workload in BENCHMARK.json, in its order, it makes SETS sets of
untraced runs, seeds 1..SEEDS in each, then one traced run, and writes
``perfbench/RECEIPT.json``. Per set and
metric it records the median, the quartiles (``statistics.quantiles(n=4)``)
and their distance as a share of the median; across sets, how far each
set's median moved from the first set's. Every run is a fresh process, as
when the benchmark is driven from outside.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS, SETS = 10, 2
OUT = os.path.join(ROOT, "perfbench", "RECEIPT.json")


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else {"correct": False, "metrics": {}}
    res.update(seed=seed, rc=p.returncode, wall_s=round(time.time() - t, 1))
    return res


def summarise(runs: list[dict], bench: dict) -> dict:
    out = {}
    for m in bench["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r["metrics"]]
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        out[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                          "bound": m["bound"], "n": len(v)}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    receipt = {"host": {"nproc": len(os.sched_getaffinity(0))}, "run_seconds": bench["run_seconds"],
               "workloads": {}}
    for name in [w["name"] for w in bench["workloads"]]:
        sets = []
        for k in range(SETS):
            runs = []
            for seed in range(1, SEEDS + 1):
                r = one_run(name, seed, bench["run_seconds"], 0)
                runs.append(r)
                print(name, "set", k, "seed", seed, "rc", r["rc"], "correct", r.get("correct"),
                      "failed", r.get("failed"), "wall", r["wall_s"],
                      {m: round(v["value"], 1) for m, v in r["metrics"].items()}, flush=True)
            sets.append({"runs": [{"seed": r["seed"], "correct": r.get("correct"), "failed": r.get("failed"),
                                   "wall_s": r["wall_s"],
                                   "metrics": {m: v["value"] for m, v in r["metrics"].items()}}
                                  for r in runs],
                         "summary": summarise(runs, bench)})
        first = sets[0]["summary"]
        drift = {m: [s["summary"][m]["median"] / first[m]["median"] - 1 for s in sets[1:] if m in s["summary"]]
                 for m in first}
        traced = one_run(name, 1, bench["run_seconds"], 1)
        receipt["workloads"][name] = {
            "sets": sets,
            "median_drift_vs_first_set": drift,
            "traced": {"correct": traced.get("correct"), "wall_s": traced["wall_s"],
                       "metrics": {m: v["value"] for m, v in traced["metrics"].items()}},
        }
        for m, s in first.items():
            print(f"{name:18s} {m:22s} median {s['median']:11.2f} spread "
                  + " ".join(f"{st['summary'][m]['spread']:.3f}" for st in sets)
                  + f" bound {s['bound']} drift " + " ".join(f"{d:+.3f}" for d in drift[m]), flush=True)
        print(name, "trace.overhead_frac", traced["metrics"].get("trace.overhead_frac", {}).get("value"), flush=True)
    with open(OUT, "w") as f:
        json.dump(receipt, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
