#!/usr/bin/env python3
"""Capture the benchmark: several seeds per workload untraced, one traced.

    python3 perfbench/capture.py <out.json> [--seeds 1,2,...] [--workloads a,b]

Run from the root of a checkout. For every end-to-end metric it records each
run's value, the median, the quartiles and the spread (inter-quartile
distance over the median) that the bounds in BENCHMARK.json are judged
against. The traced run adds the per-layer metrics and the tracing overhead:
traced `wall_s` minus the untraced median.
"""

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2][len("perfbench: "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seeds", default=",".join(str(s) for s in range(1, 11)))
    ap.add_argument("--workloads")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seeds = [int(s) for s in args.seeds.split(",")]
    out = {"host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                    "python": platform.python_version()},
           "run_seconds": bench["run_seconds"], "seeds": seeds, "workloads": {}}
    for w in names:
        runs = []
        for s in seeds:
            t0 = time.time()
            res, rep = run(w, s, bench["run_seconds"], 0)
            runs.append({"seed": s, "elapsed_s": time.time() - t0, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                         "op_tail": rep["op_tail"], "steal_ticks": rep["hygiene"]["steal_ticks"]})
            print(w, s, runs[-1]["metrics"], flush=True)
        summary = {}
        for m in bench["end_to_end"]:
            xs = [r["metrics"][m["name"]] for r in runs]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            summary[m["name"]] = {"median": statistics.median(xs), "q1": q1, "q3": q3,
                                  "spread": stats.spread(xs), "bound": m["bound"]}
        res, rep = run(w, seeds[0], bench["run_seconds"], 1)
        out["workloads"][w] = {
            "untraced": {"runs": runs, "summary": summary},
            "traced": {"seed": seeds[0], "correct": res["correct"],
                       "end_to_end": rep["end_to_end"], "per_layer": rep["per_layer"]},
            "tracing_overhead_wall_s": rep["end_to_end"]["wall_s"] - summary["wall_s"]["median"],
        }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
