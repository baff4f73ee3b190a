#!/usr/bin/env python3
"""Workload benchmark for graft.

Run from the repository root:

    python3 perfbench/run.py --workload mls_daily --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark's JVM side from source (once per source
state, under `.bench_build/`), generates the workload's inputs from the
seed, runs one JVM that sets the workload up and measures it for
`--seconds` of op time, checks every output, prints a report and, as its
last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` runs with the span
recorder and listeners on and reports the per-layer metrics.
See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = {
    # name: (generator, its size arguments); see README.md for the sizes.
    "mls_daily": (gen.mls_inputs, dict(base_rows=3000, daily_rows=100, days=12)),
    "event_replay": (gen.event_inputs, dict(n_events=20000, n_users=300)),
}

# A run must end within 180 s; the JVM gets what is left after Python's part.
JVM_TIMEOUT_S = 165

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, workload, seconds, trace, inp, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Everything the JVM writes stays under the run dir.
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.Main",
            "--workload", workload,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores()), "--input", inp, "--work", work,
            "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        # The JVM's working dir is the run dir: the gates' scratch dirs are
        # relative to it.
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError("benchmark JVM timed out")
        finally:
            if p.poll() is None:  # timed out, or this process is stopping
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"benchmark JVM exited {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run dir (inputs, tables, spans)")
    a = ap.parse_args(argv)
    t_start = time.time()

    classes = build.ensure_built()
    gen_fn, sizes = WORKLOADS[a.workload]
    work = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    try:
        t = time.time()
        gen_fn(inp, a.seed, **sizes)
        gen_s = time.time() - t
        t = time.time()
        res = run_jvm(classes, a.workload, a.seconds, a.trace, inp, work)
        print(f"[perfbench] jvm {time.time() - t:.1f} s", flush=True)
        gate_failures = []
        if a.workload == "event_replay":
            t = time.time()
            gate_failures = checks.check_gates(os.path.join(work, "check"), inp)
            print(f"[perfbench] oracle check {time.time() - t:.1f} s", flush=True)
        report = stats.summarize(res, gen_s, gate_failures)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    for line in stats.report_lines(a.workload, report, res):
        print(line)
    print(f"[perfbench] wall {time.time() - t_start:.1f} s", flush=True)
    metrics = report["per_layer"] if a.trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


def _stop(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the JVM's cleanup


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _stop)
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError) as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
