#!/usr/bin/env python3
"""Benchmark of the graft dedup engine: one run of one workload.

    python3 bench/run.py --workload <dupmix|hubskew|increment> --seed <n> \
        --seconds <s> --trace <0|1> [--convs <n>] [--plant <fault>] [--artifact <file>]

Run from the root of a checkout. The first run builds the engine from
source with its own sbt build and the harness in bench/ against it; the
build's classpath is cached under .bench_build/. Each run then starts
one JVM (local[nproc], the session from graft.Bench.buildSession), which
generates the workload's corpus from the seed, warms up, times passes of
the engine's public entry points, checks the outputs, and writes its
result. The last line printed is the result: {"correct", "attempted",
"failed", "metrics"}. With --trace 1 the metrics are the per-layer ones
of one traced pass instead of the end-to-end ones.

--convs and --plant are for the self-test (bench/selftest.py): a smaller
corpus, and a fault planted in the outputs that the checks must catch.
--artifact keeps the run's full result (checks, pass times, stage
windows) as JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dupmix", "hubskew", "increment")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's build and sources, the harness's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sbt_env():
    """Keep sbt offline: the build must resolve from local caches only."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    stamp = hashlib.sha256()
    for f in source_files():
        stamp.update(f.encode())
        with open(f, "rb") as fh:
            stamp.update(fh.read())
    digest = stamp.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not os.path.exists(lines[-1].split(os.pathsep)[0]):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.1f} s")
    return classpath


def heap_gb():
    """4 GB, or half the machine's memory where that is less (at least 2)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 4


def run_jvm(classpath, args, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap and the throughput collector: no heap resizing or
    # concurrent marking while a pass is timed
    heap = f"{heap_gb()}g"
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    if args.convs:
        cmd += ["--convs", str(args.convs)]
    if args.plant:
        cmd += ["--plant", args.plant]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    logfile = os.path.join(work, "jvm.log")
    with open(logfile, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    with open(logfile, errors="replace") as fh:
        lines = fh.read().splitlines()
    for l in lines:
        if l.startswith("[bench]"):
            print(l, file=sys.stderr)
    if code != 0 or not os.path.isfile(out):
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    with open(out) as fh:
        return json.load(fh)


def expected_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--convs", type=int)
    p.add_argument("--plant", choices=("drop_restored_row", "swap_label"))
    p.add_argument("--artifact")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources not found: run from the root of a full checkout")
    classpath = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(classpath, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for c in result["checks"]:
        log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    log("detail " + json.dumps(result["detail"], sort_keys=True))
    if args.artifact:
        with open(args.artifact, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
    names = set(result["metrics"])
    want = expected_names(args.trace)
    if names != want:
        raise SystemExit(f"metric names differ from BENCHMARK.json: {sorted(names ^ want)}")
    line = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
