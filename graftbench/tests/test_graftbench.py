"""The benchmark's own tests (no Spark needed):

    python3 -m unittest discover -s graftbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
sys.path.insert(0, PKG)

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def tree_bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    CASES = {
        "registry": lambda d, s: gen.registry_tables(d, s, 0.001),
        "elt_full": lambda d, s: gen.elt_full_landing(d, s, 0.001),
        "elt_incremental": lambda d, s: gen.elt_incremental_landing(
            d, s, base_rows=500, batches=3, batch_rows=50, customers=100),
    }

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for name, make in self.CASES.items():
            with self.subTest(name), tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                make(a, 7)
                make(b, 7)
                make(c, 8)
                ta, tb, tc = tree_bytes(a), tree_bytes(b), tree_bytes(c)
                self.assertTrue(ta)
                self.assertEqual(ta, tb)
                self.assertEqual(set(ta), set(tc))
                self.assertNotEqual(ta, tc)

    def test_incremental_batches_hold_stale_rows_below_the_cursor(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            info = gen.elt_incremental_landing(t, 3, base_rows=200, batches=2,
                                               batch_rows=40, customers=20)
            b0 = pq.read_table(os.path.join(t, "batches", "batch-000.parquet"))
            b1 = pq.read_table(os.path.join(t, "batches", "batch-001.parquet"))
            self.assertEqual(b0.num_rows, 40)
            self.assertEqual(b1.num_rows, 40 + info["stale_rows"])
            watermark = max(b0.column("o_updated_at").to_pylist())
            ts = b1.column("o_updated_at").to_pylist()
            self.assertEqual(sum(x <= watermark for x in ts), info["stale_rows"])
            self.assertTrue(0.25 <= info["update_share"] <= 0.5)


def span(i, parent, start, end, name="x", trace="w/traced/0/0"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name,
            "trace": trace, "failed": False, "cache_left": 0, "conf_changed": 0}


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        s = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
             span(3, 1, 15, 20), span(4, 0, 90, 130)]
        t = spans.self_times(s)
        # children of 0 cover [10,60] and [90,100] (clipped): 60 of 100
        self.assertEqual(t[0], 40)
        self.assertEqual(t[1], 25)
        self.assertEqual(t[2], 30)
        self.assertEqual(t[3], 5)
        self.assertEqual(t[4], 40)

    def test_jobs_follow_their_span_or_fall_back_to_time(self):
        s = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 50, 90)]
        listener = {"jobs": [
            {"job": 0, "time": 20, "span": 1, "stages": [0, 1]},
            {"job": 1, "time": 60, "span": 1, "stages": [1, 2]},   # stale property
            {"job": 2, "time": 95, "span": None, "stages": [3]},
            {"job": 3, "time": 500, "span": None, "stages": [4]}], "stages": []}
        jobs, stages = spans.attribute(s, listener)
        self.assertEqual(jobs, {0: 1, 1: 2, 2: 0})
        self.assertEqual(stages, {0: 1, 1: 1, 2: 2, 3: 0})

    def test_batches_are_units_on_elt_incremental_and_passes_elsewhere(self):
        spans_ = [span(0, -1, 0, 1000, trace="w/untraced/0/0"),
                  span(1, -1, 1000, 4000, trace="w/untraced/0/1"),
                  span(2, -1, 4000, 6000, trace="w/untraced/1/0"),
                  span(3, -1, 6000, 8000, trace="w/untraced/1/1")]
        recs = [{"trace": s["trace"], "ok": True, "mode": "untraced"} for s in spans_]
        for workload, p50 in [("elt_incremental", 2.0), ("analytics_mix", 4.0)]:
            record = {"workload": workload, "spans": spans_, "units": recs,
                      "setup_s": 1.0, "warmup_s": 2.0, "peak_rss_kb": 1024}
            e2e, _ = spans.end_to_end(record, [0.5, 0.25, 1.0])
            self.assertEqual(e2e["pipeline_s"], 4.0)
            self.assertEqual(e2e["batch_p50_s"], p50)
            self.assertAlmostEqual(e2e["query_geomean_s"], (1.5 * 2.5) ** 0.5)
            self.assertEqual(e2e["setup_s"], 3.5)

    def test_overhead_pairs_each_position_within_a_pair_of_passes(self):
        # passes 0-3, two units each; in every pair of passes each
        # position ran once traced (+0.1 s) and once untraced, in either order
        plain, traced, recs = [], [], []
        for p in range(4):
            for i in range(2):
                mode = "traced" if (p + (p // 2) * 2 + i) % 2 else "untraced"
                trace = f"w/{mode}/{p}/{i}"
                base = 1000.0 * (i + 1) + 100.0 * p   # slower units, drifting passes
                side = traced if mode == "traced" else plain
                side.append(span(len(side), -1, 0, base + (100.0 if side is traced else 0),
                                 trace=trace))
                recs.append({"trace": trace, "ok": True, "mode": mode})
        record = {"spans": plain, "traced_spans": traced, "units": recs}
        # per (pair, position): traced - untraced = 0.1 +/- 0.1 s of drift
        self.assertAlmostEqual(spans.overhead(record), 0.1)

    def test_tail_is_the_highest_percentile_with_ten_beyond(self):
        self.assertEqual(spans.tail(list(range(10))), (None, None))
        self.assertEqual(spans.tail(list(range(20))), (50.0, 9))
        self.assertEqual(spans.tail(list(range(40, 0, -1))), (75.0, 30))


class NamesTest(unittest.TestCase):
    def test_output_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(PKG), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual([m["name"] for m in spec["per_layer"]], spans.per_layer_names())
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         {n: spans.per_layer_unit(n) for n in spans.per_layer_names()})
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        faster = [x * 0.8 for x in base]
        self.assertEqual(compare.verdict(base, faster, True, 0.1)[0], "improved")
        self.assertEqual(compare.verdict(base, [x * 1.3 for x in base], True, 0.1)[0], "worse")
        self.assertEqual(compare.verdict(base, list(base), True, 0.1)[0], "unchanged")
        noisy = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(compare.verdict(base, noisy, True, 0.1)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
