#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

    python3 bench/selftest.py

Run from the root of a checkout. Checks that:
  - BENCHMARK.json keeps the benchmark contract's shape and name rules;
  - every workload, untraced and traced, is correct at a tiny size and
    prints exactly the metric names of BENCHMARK.json, each valid under
    the name rule;
  - planted faults are caught: a dropped restored row, and a swapped
    cluster label (batch and increment);
  - without the engine's sources beside it, the benchmark exits non-zero
    without printing a result.
Exits non-zero on the first failure.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")
TINY = 300


def fail(msg):
    print(f"selftest FAILED: {msg}", file=sys.stderr)
    sys.exit(1)


def check_spec(spec):
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        fail(f"BENCHMARK.json keys {sorted(spec)}")
    if not (1 <= len(spec["paths"]) <= 16 and all(PATH.match(p) and ".." not in p.split("/")
                                                   and not p.startswith("/") for p in spec["paths"])):
        fail("paths")
    if not (1 <= len(spec["command"]) <= 32 and all(len(c) <= 200 for c in spec["command"])):
        fail("command")
    if not (isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60):
        fail("run_seconds")
    if not 2 <= len(spec["workloads"]) <= 8:
        fail("number of workloads")
    names = []
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            fail(f"workload {w}")
        names.append(w["name"])
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            fail(f"end_to_end metric {m}")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            fail(f"per_layer metric {m}")
    if not 1 <= len(spec["end_to_end"]) <= 16 or not 1 <= len(spec["per_layer"]) <= 128:
        fail("number of metrics")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower" or \
            setup[0]["bound"] != max(m["bound"] for m in spec["end_to_end"]):
        fail("setup_s must be lower-is-better seconds with the largest bound")
    for m in spec["end_to_end"] + spec["per_layer"]:
        names.append(m["name"])
        if not NAME.match(m["name"]) or not UNIT.match(m["unit"]) or \
                m["better"] not in ("higher", "lower"):
            fail(f"metric {m}")
    if len(names) != len(set(names)):
        fail("a name is used twice")
    if len(json.dumps(spec)) > 64 * 1024:
        fail("BENCHMARK.json over 64 KiB")


def bench(workload, trace, plant=None, cwd=ROOT):
    cmd = [sys.executable, os.path.join("bench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--convs", str(TINY)]
    if plant:
        cmd += ["--plant", plant]
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=400)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        fail(f"{workload} trace={trace} plant={plant}: exit {proc.returncode}")
    line = proc.stdout.strip().splitlines()[-1]
    result = json.loads(line)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(result)}")
    return result, proc.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_spec(spec)
    print("BENCHMARK.json: ok", file=sys.stderr)

    # hubskew is runnable by hand but not in BENCHMARK.json; keep it working
    for w in [x["name"] for x in spec["workloads"]] + ["hubskew"]:
        for trace in (0, 1):
            result, _ = bench(w, trace)
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {n: v["unit"] for n, v in result["metrics"].items()}
            if got != want:
                fail(f"{w} trace={trace}: printed metrics differ: {sorted(set(got) ^ set(want))}")
            if not all(NAME.match(n) for n in got):
                fail(f"{w}: a printed name breaks the name rule")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                fail(f"{w} trace={trace}: not correct at size {TINY}: {result}")
            if not trace and any(v["value"] == 0 for v in result["metrics"].values()):
                fail(f"{w}: an end-to-end metric reads 0")
            print(f"{w} trace={trace}: ok", file=sys.stderr)

    planted = [("dupmix", "drop_restored_row", "restore_mismatches"),
               ("dupmix", "swap_label", "cluster_precision"),
               ("increment", "swap_label", "increment_equivalence")]
    for w, plant, check in planted:
        result, err = bench(w, 0, plant)
        if result["correct"] or result["failed"] < 1 or \
                f"check {check}: FAILED" not in err:
            fail(f"planted {plant} on {w} was not caught by {check}")
        print(f"planted {plant} on {w}: caught by {check}", file=sys.stderr)

    # only BENCHMARK.json and the benchmark's files: must fail, print nothing
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("target", "project/target", "__pycache__"))
        proc = subprocess.run(spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                              cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True, timeout=180)
        if proc.returncode == 0 or proc.stdout.strip():
            fail("a bare directory did not fail cleanly")
        print("bare directory: fails without a result", file=sys.stderr)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest: ok", file=sys.stderr)


if __name__ == "__main__":
    main()
