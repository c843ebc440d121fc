#!/usr/bin/env python3
"""Run-to-run steadiness of the benchmark's end-to-end metrics.

    python3 bench/steadiness.py --workloads dupmix,increment --seeds 1-10 \
        --sets 2 --out bench/evidence/steadiness.json

Runs bench/run.py once per (set, workload, seed), in that order, each
run in its own process as the benchmark command, and reports for every
workload, set and end-to-end metric the median, the quartiles from
Python's statistics.quantiles(values, n=4), and the quartile spread as a
share of the median; across sets, how far the later set's median is
worse than the first's. Compared against each metric's bound in
BENCHMARK.json. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload, seed, seconds):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join("bench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    took = time.time() - t0
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    result = json.loads(last) if proc.returncode == 0 and last.startswith("{") else None
    if result is None:
        sys.stderr.write(proc.stderr[-3000:])
    detail = [json.loads(l[len("[bench] detail "):]) for l in proc.stderr.splitlines()
              if l.startswith("[bench] detail ")]
    return {"workload": workload, "seed": seed, "exit": proc.returncode,
            "run_s": round(took, 1), "result": result, "detail": detail[0] if detail else None}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def worse_by(first, second, better):
    if not first:
        return None
    return (second - first) / first if better == "lower" else (first - second) / first


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    runs = []
    for s in range(args.sets):
        for w in args.workloads.split(","):
            for seed in seeds_of(args.seeds):
                r = one_run(w, seed, spec["run_seconds"])
                r["set"] = s + 1
                runs.append(r)
                ok = r["result"] and r["result"]["correct"]
                print(f"set {s + 1} {w} seed {seed}: {r['run_s']} s, "
                      f"{'correct' if ok else 'FAILED'}", file=sys.stderr, flush=True)
    report = {"run_seconds": spec["run_seconds"], "runs": runs, "workloads": {}}
    for w in args.workloads.split(","):
        per = {}
        for name, m in metrics.items():
            sets = []
            for s in range(1, args.sets + 1):
                vals = [r["result"]["metrics"][name]["value"] for r in runs
                        if r["workload"] == w and r["set"] == s and r["result"]]
                if len(vals) >= 2:
                    sets.append(summary(vals))
            entry = {"bound": m["bound"], "better": m["better"], "sets": sets}
            if len(sets) >= 2:
                entry["second_median_worse_by"] = worse_by(sets[0]["median"], sets[-1]["median"],
                                                           m["better"])
            per[name] = entry
            spreads = ", ".join(f"{x['spread']:.4f}" for x in sets if x["spread"] is not None)
            print(f"{w:10s} {name:28s} bound {m['bound']:<5} spreads [{spreads}] "
                  f"medians {[round(x['median'], 4) for x in sets]}", file=sys.stderr)
        report["workloads"][w] = per
    run_s = [r["run_s"] for r in runs]
    report["run_s"] = {"max": max(run_s), "mean": statistics.mean(run_s)}
    print(f"run time: mean {statistics.mean(run_s):.1f} s, max {max(run_s):.1f} s", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
