"""Unit tests of the benchmark's statistics and span arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import metrics as M  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def span(id, parent, kind, start, end, op=-1, name=None):
    return {"id": id, "parent": parent, "op": op, "kind": kind, "start": start,
            "end": end, "name": name or f"{kind}{id}"}


class TailRule(unittest.TestCase):
    def test_ten_samples_stay_beyond_the_tail(self):
        xs = list(range(1, 31))
        v, pct = M.tail(xs)
        self.assertEqual(v, 20)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 100 * 19 / 29)

    def test_order_does_not_matter(self):
        self.assertEqual(M.tail([5, 1, 4, 2, 3] * 4), M.tail(sorted([5, 1, 4, 2, 3] * 4)))

    def test_eleven_samples_give_the_minimum(self):
        self.assertEqual(M.tail(list(range(11))), (0, 0.0))

    def test_too_few_samples_give_the_median(self):
        self.assertEqual(M.tail([1, 2, 3, 100]), (2.5, 50.0))

    def test_a_hundred_samples_give_p89(self):
        v, pct = M.tail(list(range(100)))
        self.assertEqual(v, 89)
        self.assertAlmostEqual(pct, 89.8989, places=3)


class GeoMean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(M.geomean([1, 100]), 10)
        self.assertAlmostEqual(M.geomean([2, 2, 2]), 2)
        self.assertAlmostEqual(M.geomean([0.5, 8]), 2)

    def test_scale_invariant_ratio(self):
        a, b = [1.0, 3.0, 9.0], [2.0, 6.0, 18.0]
        self.assertAlmostEqual(M.geomean(b) / M.geomean(a), 2)

    def test_rejects_non_positive(self):
        for xs in ([], [1, 0], [-1, 2]):
            with self.assertRaises(ValueError):
                M.geomean(xs)


class Spans(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(M.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(M.union_ms([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(M.union_ms([]), 0)

    def test_self_time_of_nested_spans(self):
        spans = [span(1, -1, "op", 0, 100),
                 span(2, 1, "build", 10, 40),
                 span(3, 1, "exec", 30, 60),      # overlaps build
                 span(4, 2, "job", 15, 20),
                 span(5, 3, "job", 50, 70)]       # runs past its parent
        st = M.self_times(spans)
        self.assertEqual(st["op"], 100 - 50)
        self.assertEqual(st["build"], 30 - 5)
        self.assertEqual(st["exec"], 30 - 10)
        self.assertEqual(st["job"], 5 + 20)

    def test_self_times_add_up_to_the_root(self):
        spans = [span(1, -1, "op", 0, 100), span(2, 1, "build", 0, 30),
                 span(3, 1, "exec", 30, 100), span(4, 3, "job", 40, 90)]
        self.assertEqual(sum(M.self_times(spans).values()), 100)

    def test_coverage_by_op_kind(self):
        spans = [span(1, -1, "query", 0, 100, op=1),
                 span(2, 1, "build", 0, 20, op=1),
                 span(3, 1, "plan", 20, 30, op=1),
                 span(4, 1, "exec", 35, 95, op=1),
                 span(5, 4, "job", 40, 90, op=1)]
        self.assertEqual(M.coverage(spans), [("query1", "query", 0.9)])

    def test_listener_spans_find_the_deepest_driver_span(self):
        spans = [span(1, -1, "round", 0, 200),
                 span(2, 1, "query", 0, 100, op=2),
                 span(3, 2, "exec", 50, 100, op=2),
                 span(4, 2, "job", 60, 90, op=2),
                 span(5, -1, "catalyst", 10, 20),
                 span(6, -1, "catalyst", 150, 160)]
        got = {s["id"]: (s["parent"], s["op"]) for s in M.resolve_parents(spans)}
        self.assertEqual(got[4], (3, 2))
        self.assertEqual(got[5], (2, 2))
        self.assertEqual(got[6], (1, -1))


class Rates(unittest.TestCase):
    def test_error_rate(self):
        self.assertEqual(M.error_rate(38, 0), 0)
        self.assertEqual(M.error_rate(10, 1), 0.1)
        self.assertEqual(M.error_rate(0, 0), 1.0)

    def test_spread(self):
        self.assertAlmostEqual(M.spread([10, 10, 10, 10]), 0)
        q1, _, q3 = [9.25, 10.5, 11.75]
        self.assertAlmostEqual(M.spread([9, 10, 11, 12]), (q3 - q1) / 10.5)


class EndToEnd(unittest.TestCase):
    def result(self):
        ops = [{"name": "a", "kind": "query", "ms": 100.0, "op": -1},
               {"name": "b", "kind": "query", "ms": 400.0, "op": -1}]
        rnd = {"traced": False, "wall_ms": 900.0, "work_ms": 500.0, "ops": ops}
        return {"rounds": [rnd, dict(rnd, work_ms=700.0)], "setup_s": 4.0,
                "setup_phases": {"session": 2.0}, "heap_peak_mb": 512.0,
                "attempted": 4, "failed": 1}

    def test_metrics_and_units(self):
        m, info = run.end_to_end(self.result(), datagen_s=1.0)
        self.assertEqual({k: u for k, (_, u) in m.items()},
                         {"round_s": "s", "op_geomean_ms": "ms", "setup_s": "s",
                          "heap_peak_mb": "MB"})
        self.assertAlmostEqual(m["round_s"][0], 0.6)
        self.assertAlmostEqual(m["op_geomean_ms"][0], 200)
        self.assertEqual(m["setup_s"][0], 5.0)
        self.assertEqual(info["rounds"], 2)

    def test_every_declared_metric_is_produced(self):
        m, _ = run.end_to_end(self.result(), datagen_s=1.0)
        self.assertEqual(set(m), {x["name"] for x in BENCH["end_to_end"]})
        for x in BENCH["end_to_end"]:
            self.assertEqual(m[x["name"]][1], x["unit"])
            self.assertTrue(0 < x["bound"] <= 0.25)


class PerLayer(unittest.TestCase):
    def result(self):
        def rnd(traced, work):
            return {"traced": traced, "wall_ms": work + 10, "work_ms": work,
                    "gc_ms": 5, "jit_ms": 7, "ops": []}
        spans = [span(1, -1, "round", 0, 100),
                 span(2, 1, "query", 0, 100, op=2),
                 span(3, 2, "build", 0, 20, op=2),
                 span(4, 2, "plan", 20, 30, op=2),
                 span(5, 2, "exec", 30, 100, op=2),
                 span(6, 2, "job", 40, 90, op=2),
                 span(7, -1, "catalyst", 20, 28)]
        probes = {x["name"]: 1.0 for x in BENCH["per_layer"]
                  if x["name"].startswith(("sink.", "kernel."))}
        exec_ = {"2": {"jobs": 1, "stages": 2, "tasks": 8, "task_run_ms": 160,
                       "shuffle_read_bytes": 10, "shuffle_write_bytes": 10, "spill_bytes": 0}}
        return {"rounds": [rnd(False, 100), rnd(True, 110), rnd(True, 110), rnd(False, 100)],
                "slots": 4, "exec": exec_, "probes": probes, "spans": spans}

    def test_every_declared_metric_is_produced(self):
        res = self.result()
        m, cov = run.per_layer(res, M.resolve_parents(res["spans"]))
        self.assertEqual(set(m), {x["name"] for x in BENCH["per_layer"]})
        for x in BENCH["per_layer"]:
            self.assertEqual(m[x["name"]][1], x["unit"], x["name"])
        self.assertAlmostEqual(m["trace.overhead_pct"][0], 10.0)
        self.assertAlmostEqual(m["trace.coverage_pct"][0], 100.0)
        self.assertAlmostEqual(m["spark.driver_gap_ms"][0], 50 / 2)
        self.assertAlmostEqual(m["spark.core_util"][0], 160 / (2 * 120 * 4))


if __name__ == "__main__":
    unittest.main()
