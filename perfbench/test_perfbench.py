"""Tests of the benchmark's own code (no JVM needed):

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def read(path):
    with open(path, "rb") as fh:
        return fh.read()


class GeneratorTest(unittest.TestCase):
    def write(self, seed):
        d = tempfile.mkdtemp()
        return [read(p) for p in gen.Street(seed).write(d)]

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.write(3), self.write(3))

    def test_other_seed_other_bytes(self):
        a, b = self.write(3), self.write(4)
        self.assertNotEqual(a[0], b[0])
        self.assertNotEqual(a[1], b[1])

    def test_network_shape(self):
        s = gen.Street(5)
        self.assertEqual(s.nodes, gen.GRID_W * gen.GRID_H)
        self.assertEqual(len({(u, v) for u, v, _, _ in s.features}), len(s.features))
        ids = {v for v in s.vertex.values()}
        self.assertEqual(len(ids), s.nodes)  # no two intersections share a node id
        reimported = {(u, v) for u, v, _, _ in s.reimport}
        self.assertTrue(reimported <= {(u, v) for u, v, _, _ in s.features})

    def test_ops_and_updates(self):
        s = gen.Street(7)
        self.assertEqual(gen.interactive_ops(s, 7, 5), gen.interactive_ops(s, 7, 5))
        self.assertNotEqual(gen.interactive_ops(s, 7, 5), gen.interactive_ops(s, 8, 5))
        self.assertEqual(s.update_batch(7), s.update_batch(7))
        self.assertNotEqual(s.update_batch(7), s.update_batch(8))

    def test_every_block_has_the_same_mix(self):
        ops = gen.interactive_ops(gen.Street(1), 1, 3)
        per_block = len(ops) // 3
        kinds = [sorted(o[0] for o in ops[i * per_block:(i + 1) * per_block]) for i in range(3)]
        self.assertEqual(kinds[0], kinds[1])
        self.assertEqual(kinds[1], kinds[2])
        for a, b in zip(ops, ops[1:]):
            if a[0] == "shortest_path":
                self.assertEqual(b[0], "astar")
                self.assertEqual(a[1:], b[1:])

    def test_registry_sample(self):
        expected = run.read_expected()
        a = gen.registry_sample(1, expected)
        self.assertEqual(a, gen.registry_sample(1, expected))
        self.assertNotEqual(a, gen.registry_sample(2, expected))
        self.assertEqual(sorted(a), sorted(gen.registry_sample(2, expected)))
        self.assertEqual(sorted(q[1] for q in a), sorted(gen.FAMILIES))
        for q in a:
            self.assertEqual(gen.family(q[0]), q[1])


class PercentileTest(unittest.TestCase):
    def test_tail_level_leaves_ten_beyond(self):
        for n in (11, 12, 50, 99, 100, 101, 250, 1000, 5000):
            xs = list(range(n))
            level = metrics.tail_level(n)
            beyond = sum(1 for x in xs if x > metrics.percentile(xs, level))
            self.assertGreaterEqual(beyond, 10, n)
            if level < 99:
                higher = sum(1 for x in xs if x > metrics.percentile(xs, level + 1))
                self.assertLess(higher, 10, n)

    def test_levels(self):
        self.assertIsNone(metrics.tail_level(10))
        self.assertEqual(metrics.tail_level(100), 90)
        self.assertEqual(metrics.tail_level(5000), 99)


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_and_overlap(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 1, 70, 80), span(5, 2, 12, 14)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)  # children cover [10,50] and [70,80]
        self.assertEqual(st[2], 20 - 2)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 2)

    def test_leaf(self):
        self.assertEqual(metrics.self_times([span(1, 0, 5, 9)]), {1: 4})


def unit(ok, s=0.1, traced=False, group="graph.has_node"):
    return {"kind": "k", "group": group, "s": s, "ok": ok, "traced": traced,
            "err": "" if ok else "wrong output", "parts": {}, "note": ""}


def result(units, workload="street_interactive"):
    return {"workload": workload, "cores": 4, "setup_s": [1.0, 1.2, 1.1],
            "live_heap_mb": [300.0, 320.0], "loop_s": 2.0, "units": units,
            "extra": {}, "spans": [], "counts": {}}


class FailureTest(unittest.TestCase):
    def test_failed_op_counts(self):
        r = result([unit(True) for _ in range(9)] + [unit(False)])
        out = metrics.summarize(r, traced=False)
        self.assertEqual(out["final"]["attempted"], 10)
        self.assertEqual(out["final"]["failed"], 1)
        self.assertFalse(out["final"]["correct"])
        self.assertAlmostEqual(out["figures"]["fail_frac"][0], 0.1)

    def test_all_ok(self):
        out = metrics.summarize(result([unit(True) for _ in range(5)]), traced=False)
        self.assertTrue(out["final"]["correct"])
        self.assertEqual(out["figures"]["fail_frac"][0], 0.0)
        self.assertEqual(set(out["final"]["metrics"]), set(metrics.END_TO_END))

    def test_traced_run_reports_every_layer(self):
        units = [unit(True, 0.1), unit(True, 0.11, traced=True)]
        out = metrics.summarize(result(units), traced=True)
        self.assertEqual(set(out["final"]["metrics"]), {l["name"] for l in metrics.LAYERS})

    def test_registry_query_time_is_its_median(self):
        units = [dict(unit(True, s), kind=k, group="registry.geo")
                 for k, s in (("a", 1.0), ("b", 3.0), ("a", 2.0), ("b", 5.0), ("a", 9.0))]
        m = metrics.end_to_end(result(units, "registry_mix"))
        self.assertAlmostEqual(m["gmean_ms"], 1000 * (2.0 * 4.0) ** 0.5)
        self.assertAlmostEqual(m["work_per_s"], 2 / 6.0)


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        self.assertEqual(compare.verdict(base, [x * 1.02 for x in base], "lower", 0.1), "ok")
        self.assertEqual(compare.verdict(base, [x * 1.3 for x in base], "lower", 0.1),
                         "REGRESSION")
        self.assertEqual(compare.verdict(base, [x * 1.3 for x in base], "higher", 0.1), "ok")
        wide = [50, 150, 80, 120, 100, 60, 140, 100, 90, 110]
        self.assertEqual(compare.verdict(base, wide, "lower", 0.1), "unresolved")


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual([{k: l[k] for k in ("name", "unit", "better")}
                          for l in metrics.LAYERS], spec["per_layer"])
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))

    def test_every_layer_is_computed(self):
        names = set(metrics.per_layer(result([])))
        self.assertEqual(names, {l["name"] for l in metrics.LAYERS})


if __name__ == "__main__":
    unittest.main()
