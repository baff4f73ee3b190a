"""Tests of the benchmark's own code: generator determinism, the percentile
rule, and the metric names against BENCHMARK.json.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""

import glob
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def digest(root):
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def load_benchmark():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


class GeneratorDeterminism(unittest.TestCase):
    CASES = [
        (gen.mls_inputs, dict(base_rows=60, daily_rows=20, days=3)),
        (gen.event_inputs, dict(n_events=200, n_users=10)),
    ]

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for fn, kw in self.CASES:
                with self.subTest(generator=fn.__name__):
                    a, b, c = (os.path.join(tmp, fn.__name__ + s) for s in "abc")
                    fn(a, 7, **kw)
                    fn(b, 7, **kw)
                    fn(c, 8, **kw)
                    self.assertEqual(digest(a), digest(b))
                    self.assertNotEqual(digest(a), digest(c))

    def test_mls_expectations_follow_the_batches(self):
        with tempfile.TemporaryDirectory() as tmp:
            meta = gen.mls_inputs(tmp, 3, base_rows=100, daily_rows=20, days=2)
            d0, d1, d2 = meta["days"]
            self.assertEqual(d0["curated_rows"], 100)
            self.assertEqual(d1["rows"], 20)
            # 35% of a daily batch are new keys; rejected rows never land
            self.assertEqual(d1["curated_rows"], 100 + 7)
            self.assertEqual(d1["rejected"], 2)
            self.assertGreater(d2["hist_rows"], d1["hist_rows"])


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(200, 95), 10)
        self.assertEqual(stats.samples_beyond(199, 95), 9)
        self.assertIsNone(stats.tail_percentile(list(range(199)), 95))
        self.assertIsNotNone(stats.tail_percentile(list(range(200)), 95))
        self.assertIsNone(stats.tail_percentile(list(range(999)), 99))
        self.assertIsNotNone(stats.tail_percentile(list(range(1000)), 99))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 95), 95)
        self.assertAlmostEqual(stats.percentile([0, 10], 25), 2.5)


class MetricNames(unittest.TestCase):
    def fake_result(self, layers=None):
        return {"ops": ["day"] * 3, "op_s": [1.0, 2.0, 3.0], "rows": 30,
                "attempted": 3, "failed": 0, "failures": [],
                "jvm_boot_s": 1.0, "session_s": 2.0, "setup_fixture_s": 4.0,
                "rss_peak_mb": 100.0, "layers": layers or {}}

    def test_benchmark_json_shape(self):
        b = load_benchmark()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [dict(setup[0], unit="s", better="lower")])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertEqual(max(m["bound"] for m in b["end_to_end"]), setup[0]["bound"])
        for w in b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_emitted_names_are_declared(self):
        b = load_benchmark()
        e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in b["per_layer"]}
        rep = stats.summarize(self.fake_result(), 0.5)
        got = {k: v["unit"] for k, v in rep["end_to_end"].items()}
        self.assertEqual(got, e2e)
        got = {k: v["unit"] for k, v in rep["per_layer"].items()}
        self.assertEqual(got, layer)
        for v in list(rep["end_to_end"].values()) + list(rep["per_layer"].values()):
            self.assertIsInstance(v["value"], float)

    def test_driver_metric_names_are_known(self):
        # every per-layer name the JVM side writes literally is reported
        known = set(stats.PER_LAYER)
        for src in glob.glob(os.path.join(BENCH, "scala", "*.scala")):
            with open(src) as f:
                for name in re.findall(r'"([a-z]+\.[a-z0-9_]+)" ->', f.read()):
                    self.assertRegex(name, NAME)
                    self.assertIn(name, known, f"{name} in {os.path.basename(src)}")

    def test_wrong_result_counts_as_failed_not_fast(self):
        rep = stats.summarize(self.fake_result(), 0.5,
                              gate_failures=[("q_x", "rows 1 vs 2")])
        self.assertEqual(rep["failed"], 3)
        self.assertEqual(rep["end_to_end"]["op_p50_s"]["value"], 0.0)


if __name__ == "__main__":
    unittest.main()
