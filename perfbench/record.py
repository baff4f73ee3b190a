#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json once untraced and once traced with
one seed, print each run's report, and write the combined record as JSON:
per workload and mode, the report lines (with the load sentinel) and the
result (end-to-end metrics untraced, per-layer metrics traced), plus the
tracing overhead: the traced run's `trace.op_p50_s` minus the untraced
run's `op_p50_s`. Both runs use the same seed, so they time the same ops.

    python3 perfbench/record.py --seed 1 [--out .bench_build/perfbench/record.json]
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=REPO, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} --trace {trace} failed ({p.returncode})")
    for line in lines[:-1]:
        print(line)
    return {"report": lines[:-1], "result": json.loads(lines[-1])}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(REPO, ".bench_build", "perfbench", "record.json"))
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    record = {"seed": a.seed, "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in (x["name"] for x in bench["workloads"]):
        plain = run(w, a.seed, bench["run_seconds"], 0)
        traced = run(w, a.seed, bench["run_seconds"], 1)
        overhead = (traced["result"]["metrics"]["trace.op_p50_s"]["value"]
                    - plain["result"]["metrics"]["op_p50_s"]["value"])
        print(f"[record] {w}: tracing overhead {overhead:+.3f} s per op")
        record["workloads"][w] = {"untraced": plain, "traced": traced,
                                  "trace_overhead_s": overhead}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"[record] wrote {a.out}")


if __name__ == "__main__":
    main()
