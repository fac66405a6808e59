"""Tests of the benchmark's own logic: output checks, failure counting,
span self times and the agreement of the committed definitions.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))
import metrics  # noqa: E402

WL = {"name": "w", "keys": ["a", "b"], "write_keys": ["b"]}
CFG = {"row_count_only": []}


def key_run(pass_name, key, ok=True, wall=1.0):
    return {"pass": pass_name, "key": key, "ok": ok, "error": None if ok else "boom",
            "wall_s": wall, "phases": {"build": 0.4, "exhaust": 0.6},
            "aggs": {"exhaust": {"shuffle_read_b": 2_000_000, "jobs": 1}},
            "rdds": 0, "classes": 0,
            "mat_builds": 0}


def pass_rec(name, start_ms):
    return {"pass": name, "start_ms": start_ms, "end_ms": start_ms + 3000,
            "wall_s": 3.0, "load_avg": 0.1, "classes": 0, "compile_s": 0.0,
            "mat_builds": 0}


def raw_run(checks, ok_b=True, unlabelled=()):
    keys = [key_run("check", "a"), key_run("check", "b", ok=ok_b),
            key_run("s0", "a"), key_run("s0", "b"),
            key_run("p0", "a"), key_run("p0", "b", wall=2.0),
            key_run("p1", "a"), key_run("p1", "b", wall=2.0)]
    setup = dict(pass_rec("s0", 10_000), setup_s=3.0, session_s=1.0, classes=10,
                 compile_s=0.5, mat_builds=1, mat_build_s=0.2, mat_b=1000)
    return {"seed": 1, "nproc": 4, "master": "local[4]", "trace": False,
            "check": pass_rec("check", 15_000), "setups": [setup], "warm": [],
            "passes": [pass_rec("p0", 20_000), pass_rec("p1", 30_000)],
            "keys": keys, "checks": checks, "tmp_left_b": 5_000_000,
            "unlabelled": list(unlabelled), "spans": []}


class OutputCheckTest(unittest.TestCase):
    def test_matching_checksums_pass(self):
        raw = raw_run({"a": {"checksum": "3:17"}, "b": {"checksum": "2:5"}})
        rep = metrics.report(raw, WL, CFG, {"a": "3:17", "b": "2:5"})
        self.assertTrue(rep["correct"])
        self.assertEqual((rep["attempted"], rep["failed"]), (8, 0))
        self.assertEqual(rep["end_to_end"]["ok_frac"]["median"], 1.0)

    def test_wrong_expected_checksum_is_a_failure(self):
        raw = raw_run({"a": {"checksum": "3:17"}, "b": {"checksum": "2:5"}})
        rep = metrics.report(raw, WL, CFG, {"a": "3:17", "b": "2:6"})
        self.assertFalse(rep["correct"])
        self.assertEqual(rep["checks"]["b"], "mismatch")
        self.assertEqual(rep["failed"], 1)
        self.assertAlmostEqual(rep["end_to_end"]["ok_frac"]["median"], 7 / 8)

    def test_missing_expected_checksum_is_not_a_pass(self):
        raw = raw_run({"a": {"checksum": "3:17"}, "b": {"checksum": "2:5"}})
        rep = metrics.report(raw, WL, CFG, {"a": "3:17"})
        self.assertFalse(rep["correct"])
        self.assertEqual(rep["checks"]["b"], "no-expected")

    def test_exception_counts_once(self):
        raw = raw_run({"a": {"checksum": "3:17"}, "b": {"error": "boom"}}, ok_b=False)
        rep = metrics.report(raw, WL, CFG, {"a": "3:17", "b": "2:5"})
        self.assertFalse(rep["correct"])
        self.assertEqual(rep["failed"], 1)


class EndToEndTest(unittest.TestCase):
    def test_values(self):
        raw = raw_run({"a": {"checksum": "1:1"}, "b": {"checksum": "1:1"}})
        e2e = metrics.report(raw, WL, CFG, {"a": "1:1", "b": "1:1"})["end_to_end"]
        self.assertEqual(list(e2e), list(metrics.END_TO_END))
        self.assertEqual(e2e["write_s"]["median"], 2.0)
        self.assertEqual(e2e["shuffle_read_mb"]["median"], 4.0)
        self.assertEqual(e2e["tmp_left_mb"]["median"], 5.0)
        self.assertAlmostEqual(e2e["query_p50_s"]["median"], 1.5)
        self.assertEqual(e2e["query_p50_s"]["n"], 2)
        self.assertAlmostEqual(e2e["query_p90_s"]["median"], metrics.hd_quantile([1.0, 2.0], 0.9))

    def test_untagged_work_is_charged_to_its_pass(self):
        job = {"jobs": 1, "tasks": 4, "shuffle_read_b": 3_000_000}
        raw = raw_run({"a": {"checksum": "1:1"}, "b": {"checksum": "1:1"}},
                      unlabelled=[{"label": "unlabelled|21000|job 7", "time_ms": 21_000,
                                   "aggs": job},
                                  {"label": "unlabelled|9000|job 3", "time_ms": 9_000,
                                   "aggs": job}])
        rep = metrics.report(raw, WL, CFG, {"a": "1:1", "b": "1:1"})
        self.assertEqual([p["unlabelled_jobs"] for p in rep["passes"]], [1, 0])
        self.assertEqual([p["steady"] for p in rep["passes"]], [False, True])
        self.assertEqual(rep["unlabelled_jobs"], {"p0": 1, "None": 1})
        passes = metrics.per_pass(raw, ["p0", "p1"])
        self.assertEqual([p["sum"]("shuffle_read_b") / 1e6 for p in passes], [7.0, 4.0])
        self.assertEqual([p["sum"]("jobs", {"exhaust"}) for p in passes], [2, 2])


class QuantileTest(unittest.TestCase):
    def test_beta_cdf(self):
        # I_0.4(2, 3) = P(at least 2 of 4 Bernoulli(0.4) trials succeed)
        self.assertAlmostEqual(metrics.beta_cdf(2, 3, 0.4), 0.5248)
        self.assertAlmostEqual(metrics.beta_cdf(0.6, 6.4, 0.3) + metrics.beta_cdf(6.4, 0.6, 0.7), 1.0)

    def test_harrell_davis(self):
        self.assertAlmostEqual(metrics.hd_quantile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertAlmostEqual(metrics.hd_quantile([5.0], 0.9), 5.0)
        p90 = metrics.hd_quantile([1.0, 2.0, 3.0, 4.0, 10.0], 0.9)
        self.assertTrue(4.0 < p90 < 10.0)
        # weights sum to one: a constant shift moves the estimate by as much
        self.assertAlmostEqual(metrics.hd_quantile([2.0, 3.0, 4.0, 5.0, 11.0], 0.9), p90 + 1)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "key", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "kind": "phase", "start_ms": 0, "end_ms": 60},
            {"id": 3, "parent": 1, "kind": "phase", "start_ms": 50, "end_ms": 97},
            {"id": 4, "parent": 2, "kind": "job", "start_ms": 10, "end_ms": 20},
        ]
        self_ms = metrics.span_self_times(spans)
        self.assertEqual(self_ms[1], 3)
        self.assertEqual(self_ms[2], 50)
        self.assertAlmostEqual(metrics.key_coverage(spans)[0], 0.97)

    def test_time_outside_jobs_and_overlap_per_pass(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "pass", "name": "p0", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "kind": "key", "name": "k", "start_ms": 0, "end_ms": 100},
            {"id": 3, "parent": 2, "kind": "phase", "name": "exhaust", "start_ms": 0, "end_ms": 100},
            {"id": 4, "parent": 3, "kind": "job", "name": "job 1", "start_ms": 10, "end_ms": 50},
            {"id": 5, "parent": 3, "kind": "job", "name": "job 2", "start_ms": 30, "end_ms": 70},
        ]
        self.assertEqual(metrics.job_time_per_pass(spans, ["p0"]), [[100, 60, 80]])

    def test_labelled_job_share(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "pass", "name": "p0", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "kind": "key", "name": "k", "start_ms": 0, "end_ms": 100},
            {"id": 3, "parent": 2, "kind": "phase", "name": "exhaust", "start_ms": 0, "end_ms": 100},
            {"id": 4, "parent": 3, "kind": "job", "name": "job 1", "start_ms": 10, "end_ms": 40},
            {"id": 5, "parent": 1, "kind": "job", "name": "job 2", "start_ms": 50, "end_ms": 60},
        ]
        self.assertAlmostEqual(metrics.labelled_job_frac(spans, ["p0"]), 0.75)
        self.assertEqual(metrics.labelled_job_frac(spans, ["p1"]), 1.0)


class DefinitionsTest(unittest.TestCase):
    def test_benchmark_json_matches_metrics(self):
        path = BENCH.parent / "BENCHMARK.json"
        if not path.exists():
            self.skipTest("no BENCHMARK.json beside the benchmark")
        b = json.loads(path.read_text())
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)
        cfg = json.loads((BENCH / "workloads.json").read_text())
        self.assertEqual([w["name"] for w in b["workloads"]], list(cfg["workloads"]))

    def test_workloads_are_well_formed(self):
        cfg = json.loads((BENCH / "workloads.json").read_text())
        for name, wl in cfg["workloads"].items():
            self.assertEqual(wl["name"], name)
            self.assertEqual(len(wl["keys"]), len(set(wl["keys"])), name)
            self.assertTrue(wl["write_keys"], name)
            self.assertLessEqual(set(wl["write_keys"]), set(wl["keys"]), name)
            expected = json.loads((BENCH / "expected" / f"{name}.json").read_text())
            self.assertEqual(set(expected), set(wl["keys"]), name)
        for layer in cfg["layers"]:
            for m in layer["metrics"]:
                self.assertIn(m, metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
