"""Benchmark runner: build, generate the inputs, run one workload, report.

    python3 perfbench/run.py --workload incremental_kb --seed 1 --seconds 5 --trace 0 \
        --master 'local[4]' --shuffle-partitions 8 --driver-mem 4g

Run it from the repository root. The first run builds the program and the
benchmark with sbt (perfbench/build.sbt); later runs reuse the build until a
source file changes. Everything it writes goes under .bench_build/. The last
line of standard output is the result:

    {"correct": true, "attempted": 2, "failed": 0, "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json for --trace 0 and its per-layer
metrics for --trace 1. The exit code is 1 when a call or an output check
failed, and 2 when the run could not start.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

BUILD = ".bench_build"
WORKLOADS = ("incremental_kb", "query_mix")
# Environment variables the JVM reads its options from.
JVM_OPTION_VARS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "SBT_OPTS")
# The JVM's share of the 180 s a run may take; a traced incremental_kb run,
# the longest, takes about 100 s on a 4-core box.
JVM_TIMEOUT_S = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_checkout():
    for need in ("build.sbt", "src/main/scala/graft/Incremental.scala", "perfbench/build.sbt"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a checkout of the program")
    knobs = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    knobs += [k for k in JVM_OPTION_VARS if "-Dgraft." in os.environ.get(k, "")]
    if knobs:
        fail(f"program switches are set, unset them to measure the program as it is: {knobs}")


def source_key(driver_mem, roots=("build.sbt", "project/build.properties", "src/main",
                                  "perfbench/build.sbt", "perfbench/project/build.properties",
                                  "perfbench/src")):
    """Hash of every file the build depends on: a change rebuilds."""
    h = hashlib.sha256(driver_mem.encode())
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(key, driver_mem):
    """Compile with sbt unless the launch spec matches the sources; return
    (classpath, jvm options)."""
    launch, key_file = os.path.join(BUILD, "launch.txt"), os.path.join(BUILD, "launch.key")
    if not (os.path.exists(launch) and os.path.exists(key_file)
            and open(key_file).read() == key):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, SPARK_DRIVER_MEM=driver_mem)
        env.setdefault("COURSIER_MODE", "offline")
        if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                 "perfbench/writeLaunch"], cwd="perfbench", env=env,
                                stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL).returncode
        if rc != 0:
            fail(f"build failed, see {BUILD}/build.log", 1)
        with open(key_file, "w") as f:
            f.write(key)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def tail_percentile(xs):
    """Highest whole percentile with at least ten samples above it, or None."""
    n = len(xs)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def describe(name, xs, unit="s"):
    if not xs:
        return f"{name}: no samples"
    line = f"{name}: median {statistics.median(xs):.4f} {unit}, n={len(xs)}"
    tp = tail_percentile(xs)
    return line + (f", p{tp[0]} {tp[1]:.4f} {unit}" if tp else
                   ", no percentile has 10 samples beyond it")


def compare_expected(path, observed):
    """Outputs a seed must reproduce across runs, whatever the program's
    code: compare with the first run that saw each key, and remember new
    keys."""
    seen = json.load(open(path)) if os.path.exists(path) else {}
    diff = [f"{k}: {v} here, {seen[k]} before" for k, v in observed.items()
            if k in seen and seen[k] != v]
    seen.update({k: v for k, v in observed.items() if k not in seen})
    with open(path, "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    return [f"check failed: output differs from an earlier run of this seed: {d}" for d in diff]


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--master", required=True)
    ap.add_argument("--shuffle-partitions", type=int, required=True)
    ap.add_argument("--driver-mem", required=True)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the self-check")
    a = ap.parse_args()

    check_checkout()
    spec = json.load(open("BENCHMARK.json"))
    key = source_key(a.driver_mem)
    classpath, jvm_opts = build(key, a.driver_mem)

    # Inputs and the outputs they must give are keyed by the generator
    # alone, so runs of different program versions are checked against
    # each other.
    gen_key = source_key("", ("perfbench/gen.py",))[:12]
    data = os.path.join(BUILD, "data", gen_key, f"{a.scale}-seed{a.seed}")
    gen.generate(a.seed, data, ("kb",) if a.workload == "incremental_kb" else ("sf",),
                 tiny=a.scale == "tiny")
    tag = f"{a.workload}-{a.scale}-seed{a.seed}-trace{a.trace}"
    work = os.path.abspath(os.path.join(BUILD, "work", tag))
    out_dir = os.path.join(BUILD, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    local_dir = os.path.join(work, "spark-local")
    pins = {"master": a.master, "spark.sql.shuffle.partitions": a.shuffle_partitions,
            "SPARK_DRIVER_MEM": a.driver_mem, "spark.local.dir": local_dir,
            "run_seconds": a.seconds, "scale": a.scale}
    print("environment: " + json.dumps(pins))

    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={work}", "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", os.path.abspath(data), "--work", work,
           "--out", os.path.join(work, "result.json"), "--master", a.master,
           "--shuffle-partitions", str(a.shuffle_partitions), "--local-dir", local_dir]
    log_path = os.path.join(out_dir, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s, see {log_path}", 1)
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        fail(f"run failed (exit {rc}), see {log_path}", 1)
    r = json.load(open(os.path.join(work, "result.json")))
    if a.trace:
        shutil.copy(os.path.join(work, "trace.json"), os.path.join(out_dir, f"{tag}.trace.json"))
    shutil.rmtree(work, ignore_errors=True)

    expect = os.path.join(BUILD, "expect", gen_key)
    os.makedirs(expect, exist_ok=True)
    failures = r["failures"] + compare_expected(
        os.path.join(expect, f"{a.workload}-{a.scale}-seed{a.seed}.json"), r["observed"])
    ops, calls = r["op_s"], r["call_s"]
    print(describe("setup_s", [r["setup_s"]]))
    print(describe("op_s", ops))
    print(describe("call_s", calls))
    for f in failures:
        print(f)

    geomean = math.exp(statistics.fmean(math.log(c) for c in calls)) if calls else 0.0
    e2e = {"setup_s": r["setup_s"], "op_p50_s": statistics.median(ops) if ops else 0.0,
           "call_geomean_s": geomean, "peak_rss_mb": r["peak_rss_mb"]}
    if a.trace:
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        values.update(r["layers"])
        values["trace.op_p50_s"] = e2e["op_p50_s"]
        values["trace.call_geomean_s"] = geomean
        names = spec["per_layer"]
    else:
        values, names = e2e, spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": min(r["attempted"], len(failures)), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
