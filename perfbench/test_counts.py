"""Two traced runs with the same seed must report identical counts, so that
count-based claims made against this benchmark have a fixed base.

    python3 perfbench/test_counts.py [workload ...]

With no arguments it checks every workload in BENCHMARK.json. Exits 1 on
the first mismatch or failed run.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTS = ("coords", "features", "probes_missing_tile", "shuffle.records",
          "table.Checkpoint.manifest_rows")
SEED = 7


def traced(workload):
    r = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
                        "--trace", "1"], cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"FAIL {workload}: run exited {r.returncode}\n{r.stderr[-3000:]}")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        sys.exit(f"FAIL {workload}: traced run reported an incorrect output")
    return {k: result["metrics"][k]["value"] for k in COUNTS}


def main():
    workloads = sys.argv[1:]
    if not workloads:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            workloads = [w["name"] for w in json.load(f)["workloads"]]
    for w in workloads:
        first, second = traced(w), traced(w)
        if first != second:
            sys.exit(f"FAIL {w}: counts differ between same-seed runs\n{first}\n{second}")
        print(f"ok {w}: {first}")


if __name__ == "__main__":
    main()
