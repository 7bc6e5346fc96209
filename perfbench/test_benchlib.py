"""The benchmark's own tests: percentile rule, seed permutation, stream
split, fingerprint canonicalisation, the driver-gap union, and that the
doc names every metric BENCHMARK.json declares.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import sys
import unittest
from pathlib import Path

import numpy as np
import pandas as pd

import benchlib

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import canon  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile(xs, 100), 100)

    def test_small_samples_take_an_observed_value(self):
        xs = [0.3, 0.1, 0.2]
        self.assertEqual(benchlib.percentile(xs, 50), 0.2)
        self.assertEqual(benchlib.percentile(xs, 90), 0.3)
        self.assertEqual(benchlib.percentile([7.0], 90), 7.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3, 9, 8, 7, 6, 10]
        self.assertEqual(benchlib.percentile(xs, 90), 9)


class WarmPasses(unittest.TestCase):
    def test_fewest_passes_covering_the_seconds(self):
        self.assertEqual(benchlib.warm_passes(4.3, 8, False), 2)
        self.assertEqual(benchlib.warm_passes(3.6, 8, False), 3)
        self.assertEqual(benchlib.warm_passes(15.0, 8, False), 1)

    def test_traced_runs_alternate_and_end_untraced(self):
        self.assertEqual(benchlib.warm_passes(15.0, 8, True), 3)
        self.assertEqual(benchlib.warm_passes(4.3, 8, True), 3)
        self.assertEqual(benchlib.warm_passes(2.0, 8, True), 5)


class SeedPermutation(unittest.TestCase):
    def test_same_seed_same_orders(self):
        self.assertEqual(benchlib.pass_orders(8, 3, 5), benchlib.pass_orders(8, 3, 5))

    def test_each_pass_is_a_permutation(self):
        for order in benchlib.pass_orders(8, 3, 20):
            self.assertEqual(sorted(order), list(range(8)))

    def test_seed_and_pass_change_the_order(self):
        a, b = benchlib.pass_orders(8, 1, 2), benchlib.pass_orders(8, 2, 2)
        self.assertNotEqual(a, b)
        self.assertNotEqual(a[0], a[1])


class StreamSplit(unittest.TestCase):
    def events(self, n=200):
        return pd.DataFrame({"event_id": np.arange(n), "ts": pd.date_range("2024-01-01", periods=n,
                                                                            freq="min"),
                             "user_id": np.arange(n) % 7, "value": np.ones(n)})

    def test_every_event_once_plus_each_seventh_redelivered(self):
        ev = self.events()
        files = benchlib.split_stream(ev, 5, 3)
        ids = pd.concat(files)["event_id"]
        self.assertEqual(set(ids), set(ev["event_id"]))
        self.assertEqual(len(ids), len(ev) + int((ev["event_id"] % 7 == 0).sum()))

    def test_files_keep_event_time_order_and_copies_arrive_no_earlier(self):
        files = benchlib.split_stream(self.events(), 9, 4)
        first = {}
        for i, f in enumerate(files):
            for e in f["event_id"]:
                first.setdefault(e, i)
        own = [f[[first[e] == i for e in f["event_id"]]] for i, f in enumerate(files)]
        for a, b in zip(own, own[1:]):
            self.assertLess(a["ts"].max(), b["ts"].min())

    def test_seeded(self):
        ev = self.events()
        same = [f.equals(g) for f, g in zip(benchlib.split_stream(ev, 1, 3),
                                             benchlib.split_stream(ev, 1, 3))]
        self.assertTrue(all(same))
        sizes1 = [len(f) for f in benchlib.split_stream(ev, 1, 3)]
        sizes2 = [len(f) for f in benchlib.split_stream(ev, 2, 3)]
        self.assertNotEqual(sizes1, sizes2)


class FingerprintCanonicalisation(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({"k": [3, 1, 2], "v": [0.1 + 0.2, -0.0, 1.5],
                             "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"])})

    def test_row_and_column_order_do_not_matter(self):
        df = self.frame()
        shuffled = df.iloc[[2, 0, 1]][["v", "t", "k"]]
        self.assertEqual(benchlib.fingerprint(df, canon), benchlib.fingerprint(shuffled, canon))

    def test_float_noise_and_signed_zero_are_absorbed(self):
        df, noisy = self.frame(), self.frame()
        noisy["v"] = [0.3, 0.0, 1.5 + 1e-12]
        self.assertEqual(benchlib.fingerprint(df, canon), benchlib.fingerprint(noisy, canon))

    def test_int_width_and_time_unit_do_not_matter(self):
        df, other = self.frame(), self.frame()
        other["k"] = other["k"].astype("int32")
        other["t"] = other["t"].astype("datetime64[ns]")
        self.assertEqual(benchlib.fingerprint(df, canon), benchlib.fingerprint(other, canon))

    def test_a_changed_value_changes_the_fingerprint(self):
        df, wrong = self.frame(), self.frame()
        wrong.loc[0, "k"] = 4
        self.assertNotEqual(benchlib.fingerprint(df, canon), benchlib.fingerprint(wrong, canon))


class GapUnion(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # two concurrent adaptive-execution jobs: summing gives 140 ms of
        # job time inside a 100 ms query and a negative gap; the union
        # gives 80 ms, and with the 5 ms build the gap is 15 ms
        jobs = [(10.0, 80.0), (20.0, 90.0)]
        self.assertEqual(benchlib.union_len(jobs), 80.0)
        a = benchlib.account(0.0, 100.0, (0.0, 5.0), [], jobs)
        self.assertEqual(a["jobs_union_ms"], 80.0)
        self.assertEqual(a["driver_gap_ms"], 15.0)
        self.assertEqual(a["build_self_ms"], 5.0)

    def test_parts_sum_to_wall_and_are_never_negative(self):
        a = benchlib.account(0.0, 100.0, (0.0, 30.0), [(5.0, 12.0), (40.0, 45.0)],
                             [(10.0, 60.0), (50.0, 70.0), (65.0, 66.0)])
        parts = [a["build_self_ms"], a["plans_self_ms"], a["jobs_union_ms"], a["driver_gap_ms"]]
        self.assertTrue(all(p >= 0 for p in parts))
        self.assertAlmostEqual(sum(parts), a["wall_ms"])
        self.assertEqual(a["jobs_union_ms"], 60.0)
        self.assertEqual(a["plans_self_ms"], 5.0)   # 5..10 (40..45 is inside a job)
        self.assertEqual(a["build_self_ms"], 5.0)   # 0..5 (5..30 is planning or a job)
        self.assertEqual(a["driver_gap_ms"], 30.0)  # 70..100

    def test_spans_outside_the_query_are_clipped(self):
        a = benchlib.account(100.0, 200.0, (100.0, 110.0), [], [(90.0, 150.0)])
        self.assertEqual(a["jobs_union_ms"], 50.0)
        self.assertEqual(a["driver_gap_ms"], 50.0)


class MetricNames(unittest.TestCase):
    def test_readme_names_every_declared_metric(self):
        # BENCHMARK.json is the one list of names and units (run.py reports
        # exactly it); the doc explains each name and must not fall behind
        here = Path(__file__).resolve().parent
        spec = json.loads((here.parent / "BENCHMARK.json").read_text())
        readme = (here / "README.md").read_text()
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
        self.assertEqual([n for n in names if f"`{n}`" not in readme], [])


if __name__ == "__main__":
    unittest.main()
