"""Metric definitions and the arithmetic behind them: percentiles, the
end-to-end metrics of an untraced run, the per-layer metrics of a traced
run, and the human-readable report."""

import math
import statistics

# name -> unit. Reported by every untraced run of every workload.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
}

# name -> unit. Reported by every traced run of every workload; a layer the
# workload does not touch reads 0. These are the per-layer metrics of
# BENCHMARK.json.
PER_LAYER = {
    # GraftSession / JVM
    "session.start_s": "s", "jvm.gc_s": "s", "jvm.rss_peak_mb": "MB",
    # Spark phases
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "scheduler.jobs": "count",
    "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.task_wait_s": "s", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.busy_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes", "driver.self_s": "s",
    # sources.TableIO
    "tableio.mirror_write_s": "s", "tableio.mirror_files": "count",
    "tableio.mirror_bytes_per_file": "bytes",
    # sources.ManagedTable, writes
    "managedtable.merge_s": "s", "managedtable.merge_bytes_written": "bytes",
    "managedtable.write_amp": "ratio", "managedtable.commits": "count",
    "managedtable.versions_retained": "count",
    "managedtable.bytes_on_disk": "bytes",
    "managedtable.bytes_per_live_byte": "ratio",
    # pipeline.mls
    "mls.job1_s": "s", "mls.job2_s": "s", "mls.job3_s": "s",
    "mls.frame_build_s": "s", "mls.rejected_rows": "count",
    "mls.outdated_rows": "count",
    # enrich
    "enrich.calls": "count", "enrich.rows_per_call": "ratio",
    "enrich.call_p50_ms": "ms", "enrich.call_s": "s",
    "enrich.failed_calls": "count",
    # streaming
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.query_planning_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.stream_typecounts_tws_s": "s",
    # self-time split of the op wall time (mls_daily): self.op_wall_s =
    # self.pipeline_mls_s + managedtable.merge_s + tableio.mirror_write_s +
    # self.mls_reject_write_s + driver.self_s
    "self.op_wall_s": "s", "self.pipeline_mls_s": "s",
    "self.mls_reject_write_s": "s",
    # the traced run itself
    "trace.op_p50_s": "s", "trace.spans": "count",
}

def percentile(xs, p):
    """The p-th percentile (0..100) of `xs`, interpolating linearly between
    closest ranks."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def samples_beyond(n, p):
    """How many of `n` ranked samples lie beyond the p-th percentile."""
    return math.floor(n * (100.0 - p) / 100.0 + 1e-9)


def tail_percentile(xs, p=95.0, min_beyond=10):
    """The p-th percentile, or None unless at least `min_beyond` samples lie
    beyond it — a tail percentile with fewer samples is not reported."""
    if samples_beyond(len(xs), p) < min_beyond:
        return None
    return percentile(xs, p)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(res, gen_s, gate_failures=()):
    """End-to-end and per-layer metrics of one run from the JVM's result."""
    # every op replays every gate, so a gate whose result is wrong makes
    # every op wrong
    wrong = len(res["ops"]) if gate_failures else 0
    lat = [] if wrong else res["op_s"]
    busy = sum(lat)
    rows = 0 if wrong else res["rows"]
    failed = res["failed"] + wrong
    e2e = {
        "setup_s": gen_s + res["jvm_boot_s"] + res["session_s"] + res["setup_fixture_s"],
        "op_p50_s": median(lat),
    }
    layers = dict(res.get("layers") or {})
    layers.setdefault("jvm.rss_peak_mb", res["rss_peak_mb"])
    layers.setdefault("managedtable.bytes_per_live_byte",
                      res.get("storage_bytes_per_live_byte") or 0.0)
    return {
        "attempted": res["attempted"],
        "failed": failed,
        "failures": list(res["failures"]) + [f"{g}: {p}" for g, p in gate_failures],
        "latencies": lat,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "ops_per_s": len(lat) / busy if busy else 0.0,
        "rows_per_s": rows / busy if busy else 0.0,
        "op_cpu_p50_s": 0.0 if wrong else median(res.get("op_cpu_s") or []),
        "per_layer": {k: {"value": float(layers.get(k, 0.0) or 0.0), "unit": u}
                      for k, u in PER_LAYER.items()},
    }


def report_lines(workload, rep, res):
    """Every end-to-end metric by name, unit and sample count, plus the load
    sentinel of the run."""
    e = {k: v["value"] for k, v in rep["end_to_end"].items()}
    lat = rep["latencies"]
    n = len(lat)
    p95 = tail_percentile(lat, 95)
    att = rep["attempted"]
    out = [f"[perfbench] workload={workload} ops={n} attempted={att} failed={rep['failed']}"]
    rows = [
        ("setup_s", e["setup_s"], "s", "one set-up"),
        ("rows_per_s", rep["rows_per_s"], "rows/s", f"n={n} ops"),
        ("ops_per_s", rep["ops_per_s"], "1/s", f"n={n} ops"),
        ("op_p50_s", e["op_p50_s"], "s", f"n={n}"),
        ("op_cpu_p50_s", rep["op_cpu_p50_s"], "s", f"n={n}, process CPU time per op"),
        ("op_p95_s", p95, "s",
         f"n={n}" if p95 is not None else f"n={n}: fewer than 10 samples beyond p95, not reported"),
        ("error_rate", rep["failed"] / att if att else 0.0, "ratio", f"{rep['failed']}/{att} ops"),
        ("storage_bytes_per_live_byte", res.get("storage_bytes_per_live_byte"), "ratio", "at run end"),
        ("rss_peak_mb", res["rss_peak_mb"], "MB", "VmHWM of the JVM"),
    ]
    for name, v, unit, note in rows:
        val = "n/a" if v is None else f"{v:.6g}"
        out.append(f"  {name:<30} {val:>14} {unit:<7} ({note})")
    if 0 < n <= 20:
        out.append("  op latencies (s): " + " ".join(f"{t:.3f}" for t in lat))
    out.append(f"  sentinel: calibration {res['sentinel_calibration_s']:.3f} s, "
               f"load1 {res['sentinel_load1_start']:.2f} -> {res['sentinel_load1_end']:.2f}, "
               f"steal ticks {res['sentinel_steal_ticks']:.0f}")
    for f in rep["failures"][:10]:
        out.append(f"  FAILED {f}")
    return out
