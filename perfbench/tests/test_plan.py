"""Fast checks of the request generator and the metric contract.

    python3 -m unittest discover -s perfbench/tests
"""
import collections
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def flat(rounds):
    return [op for r in rounds for op in r]


class PlanTest(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in run.WORKLOADS + run.EXTRA_WORKLOADS:
            self.assertEqual(run.plan(w, 7), run.plan(w, 7), w)

    def test_other_seed_reorders_the_same_entries(self):
        for w in run.WORKLOADS + run.EXTRA_WORKLOADS:
            a, b = run.plan(w, 7), run.plan(w, 8)
            self.assertNotEqual(flat(a), flat(b), w)
            self.assertEqual(collections.Counter(flat(a)),
                             collections.Counter(flat(b)), w)

    def test_rounds_of_entry_workloads_hold_one_multiset(self):
        for w in ("dashboard", "curation"):
            rounds = run.plan(w, 3)
            first = collections.Counter(rounds[0])
            self.assertTrue(all(collections.Counter(r) == first for r in rounds), w)

    def test_dashboard_loads_the_page_once_per_view(self):
        counts = collections.Counter(run.plan("dashboard", 1)[0])
        self.assertEqual(set(counts), set(run.DASHBOARD))
        for n in run.PAGE_LOAD:
            self.assertEqual(counts[n], run.VIEWS, n)
        on_demand = [counts[n] for n in run.ON_DEMAND]
        self.assertEqual(on_demand, sorted(on_demand, reverse=True))
        self.assertLess(on_demand[0], run.VIEWS)
        self.assertEqual(on_demand[-1], 1)

    def test_curation_chains_keep_their_order(self):
        for seed in range(20):
            for r in run.plan("curation", seed):
                for chain in run.CURATION_CHAINS:
                    self.assertEqual([n for n in r if n in chain], chain)

    def test_incident_round_takes_one_day_from_each_third(self):
        for r in run.plan("incident", 5):
            self.assertEqual(sorted(run.INCIDENT_DAYS.index(d) // 10 for d in r),
                             [0, 1, 2])


class TailTest(unittest.TestCase):
    def test_ten_samples_above(self):
        lat = list(range(1, 41))
        pct, v = run.tail(lat)
        self.assertEqual(v, 30)
        self.assertEqual(sum(x > v for x in lat), 10)
        self.assertEqual(pct, 75.0)

    def test_few_samples_fall_back_to_median(self):
        self.assertEqual(run.tail([3, 1, 2]), (50.0, 2))


class ContractTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_benchmark_json_matches_the_harness(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         run.PER_LAYER)

    def test_every_drawable_operation_has_a_digest(self):
        with open(run.DIGESTS) as f:
            digests = json.load(f)
        for sf in ("sf0.1", "sf0.001"):
            for w in run.WORKLOADS + run.EXTRA_WORKLOADS:
                for op in set(flat(run.plan(w, 0))):
                    self.assertIn("%s:%s" % (w, op), digests[sf])


if __name__ == "__main__":
    unittest.main()
