"""Self-tests for the benchmark's own logic (no JVM, no build).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import check, metrics, workloads  # noqa: E402


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90, 100))

    def test_twenty_samples_give_p50(self):
        p, v, n = metrics.tail([float(x) for x in range(20, 0, -1)])
        self.assertEqual((p, v, n), (50, 10.0, 20))

    def test_ten_beyond_always_holds(self):
        for n in range(11, 60):
            vals = list(range(n))
            p, v, _ = metrics.tail(vals)
            self.assertGreaterEqual(sum(x > v for x in vals), 10)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                nxt = metrics.nearest_rank(sorted(vals), p + 1)
                self.assertTrue(sum(x > nxt for x in vals) < 10 or nxt == v)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100, 3.0, 3))


class SelfTime(unittest.TestCase):
    def span(self, name, a, b, parent="op"):
        s = {"op": 1, "name": name, "start_ns": a, "end_ns": b}
        if name != "op":
            s["parent"] = parent
        return s

    def test_root_self_time_excludes_children(self):
        st = metrics.self_times([self.span("op", 0, 100), self.span("cypher.parse", 10, 30),
                                 self.span("exec", 30, 60)])
        root = next(s for s in st if s["name"] == "op")
        self.assertAlmostEqual(root["self_s"], 50e-9)
        self.assertAlmostEqual(root["wall_s"], 100e-9)

    def test_overlapping_children_count_once(self):
        st = metrics.self_times([self.span("op", 0, 100), self.span("a", 0, 50),
                                 self.span("b", 40, 70)])
        root = next(s for s in st if s["name"] == "op")
        self.assertAlmostEqual(root["self_s"], 30e-9)

    def test_children_clip_to_parent(self):
        st = metrics.self_times([self.span("op", 10, 20), self.span("a", 0, 15)])
        root = next(s for s in st if s["name"] == "op")
        self.assertAlmostEqual(root["self_s"], 5e-9)


class Normalization(unittest.TestCase):
    def test_int_equals_float_and_order_is_free(self):
        ok, why = check.same_result(["n", "name"], [[2, "b"], [1, "a"]],
                                    ["name", "n"], [["a", 1.0], ["b", 2.0000000001]])
        self.assertTrue(ok, why)

    def test_value_difference_is_caught(self):
        ok, _ = check.same_result(["n"], [[1]], ["n"], [[2]])
        self.assertFalse(ok)

    def test_row_count_and_columns_are_caught(self):
        self.assertFalse(check.same_result(["n"], [[1], [1]], ["n"], [[1]])[0])
        self.assertFalse(check.same_result(["n"], [[1]], ["m"], [[1]])[0])

    def test_nulls_lists_and_booleans(self):
        ok, why = check.same_result(["l", "v", "b"], [[["x", "y"], None, True]],
                                    ["b", "v", "l"], [[True, None, ("x", "y")]])
        self.assertTrue(ok, why)
        self.assertFalse(check.same_result(["b"], [[True]], ["b"], [[1]])[0])

    def test_positional_rows(self):
        self.assertTrue(check.same_rows([[1, 2.5]], [[1.0, 2.5]])[0])
        self.assertTrue(check.same_rows([], [])[0])


class FakeFacts:
    customers_with_orders = list(range(0, 300, 2))
    acctbal = {k: float(k) for k in range(300)}
    nations = ["NATION_%d" % i for i in range(25)]
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    priorities = {k: {"1-URGENT", "5-LOW"} for k in range(300)}
    n_customers = 300


def strip(p):
    return [[(o["template"], o.get("cypher"), o.get("params"), o.get("args"))
             for o in rnd] for rnd in p["rounds"]]


class SeededPlans(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in workloads.WORKLOADS:
            a = workloads.plan(w, 7, FakeFacts(), 2)
            b = workloads.plan(w, 7, FakeFacts(), 2)
            self.assertEqual(a, b, w)

    def test_other_seed_other_parameters(self):
        for w in workloads.WORKLOADS:
            a = workloads.plan(w, 7, FakeFacts(), 2)
            b = workloads.plan(w, 8, FakeFacts(), 2)
            self.assertNotEqual(strip(a), strip(b), w)

    def test_every_round_holds_the_same_template_mix(self):
        for w in workloads.WORKLOADS:
            p = workloads.plan(w, 3, FakeFacts(), 3)
            mixes = [sorted(o["template"] for o in rnd) for rnd in p["rounds"]]
            self.assertTrue(all(m == mixes[0] for m in mixes), w)

    def test_every_operation_has_an_expectation(self):
        for w in workloads.WORKLOADS:
            p = workloads.plan(w, 5, FakeFacts(), 2)
            for o in (o for rnd in p["rounds"] for o in rnd):
                self.assertTrue("oracle" in o or o.get("expect") is not None,
                                (w, o["template"]))

    def test_warm_up_round_is_separate(self):
        for w in workloads.WORKLOADS:
            p = workloads.plan(w, 4, FakeFacts(), 2)
            ids = {o["id"] for rnd in p["rounds"] for o in rnd}
            self.assertEqual(len(p["rounds"]), 2)
            self.assertFalse(ids & {o["id"] for o in p["warm"]}, w)

    def test_write_model_tracks_creates_and_deletes(self):
        p = workloads.plan("graph_write", 1, FakeFacts(), 3)
        commits = [o for rnd in [p["warm"]] + p["rounds"] for o in rnd
                   if o["kind"] == "commit"]
        # each round, the warm-up one included, creates two customers
        # and deletes one
        self.assertEqual([c["expect"][0][0] for c in commits], [301, 302, 303, 304])
        # one VIP flag is set per round and the previous one removed
        self.assertEqual([c["expect"][0][1] for c in commits], [0, 1, 1, 1])


if __name__ == "__main__":
    unittest.main()
