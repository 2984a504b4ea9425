"""Self-check of the benchmark at a tiny input size.

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json once untraced and once traced, with
--scale tiny, through the command BENCHMARK.json names. It asserts that each
run is correct, that it prints every metric of BENCHMARK.json with its unit,
and that the traced run wrote spans and stages for every layer the workload
touches. Exits 1 on the first failed assertion. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

# Layers each workload must show in its trace, as span or stage layers.
LAYERS = {
    "incremental_kb": {"incremental", "tables", "ner", "merge", "link", "cluster", "pipeline"},
    "query_mix": {"ops"},
}
SEED = 1


def fail(msg):
    print(f"selfcheck: FAIL: {msg}")
    sys.exit(1)


def main():
    spec = json.load(open("BENCHMARK.json"))
    for w in spec["workloads"]:
        name = w["name"]
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", name, "--seed", str(SEED), "--seconds", "1",
                                     "--trace", str(trace), "--scale", "tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True)
            if p.returncode != 0:
                fail(f"{name} trace={trace} exited {p.returncode}: {p.stderr.strip()}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if not r["correct"] or r["failed"]:
                fail(f"{name} trace={trace} reported a failure: {p.stdout}")
            want = spec["per_layer" if trace else "end_to_end"]
            if set(r["metrics"]) != {m["name"] for m in want}:
                fail(f"{name} trace={trace} metric names differ from BENCHMARK.json")
            for m in want:
                got = r["metrics"][m["name"]]
                if got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    fail(f"{name} trace={trace} {m['name']}: {got}")
                if not trace and got["value"] <= 0:
                    fail(f"{name} {m['name']} is not positive: {got}")
            if trace:
                path = os.path.join(".bench_build", "out",
                                    f"{name}-tiny-seed{SEED}-trace1.trace.json")
                spans = json.load(open(path))
                seen = {s["layer"] for s in spans} | {
                    st["layer"] for s in spans for st in s["stages"]}
                if not LAYERS[name] <= seen:
                    fail(f"{name}: no spans or stages for {sorted(LAYERS[name] - seen)}")
                zero = [m["name"] for m in want if m["name"].split(".")[0] in LAYERS[name]
                        and m["name"].endswith("wall_s") and r["metrics"][m["name"]]["value"] <= 0]
                if zero:
                    fail(f"{name}: layer wall times are zero: {zero}")
            print(f"selfcheck: ok {name} trace={trace}")
    print("selfcheck: all workloads ok")


if __name__ == "__main__":
    main()
