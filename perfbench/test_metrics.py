"""Tests of the benchmark's own arithmetic and metric names.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))


def span(t0, t1, wall=None):
    return {"name": "x", "t0_ms": t0, "t1_ms": t1,
            "wall_s": (t1 - t0) / 1e3 if wall is None else wall}


def job(s, e):
    return {"span": "x", "start_ms": s, "end_ms": e}


class DriverTime(unittest.TestCase):
    def test_no_jobs_is_all_driver(self):
        self.assertAlmostEqual(M.driver_s(span(0, 2000), []), 2.0)

    def test_overlapping_jobs_count_once(self):
        jobs = [job(100, 600), job(400, 900)]
        self.assertAlmostEqual(M.driver_s(span(0, 1000), jobs), 0.2)

    def test_nested_jobs_count_once(self):
        jobs = [job(100, 900), job(200, 300), job(500, 800)]
        self.assertAlmostEqual(M.driver_s(span(0, 1000), jobs), 0.2)

    def test_disjoint_jobs_add(self):
        jobs = [job(0, 100), job(500, 700)]
        self.assertAlmostEqual(M.driver_s(span(0, 1000), jobs), 0.7)

    def test_jobs_clipped_to_span(self):
        jobs = [job(-500, 200), job(900, 5000)]
        self.assertAlmostEqual(M.driver_s(span(0, 1000), jobs), 0.7)

    def test_unfinished_job_runs_to_span_end(self):
        self.assertAlmostEqual(M.driver_s(span(0, 1000), [job(400, -1)]), 0.4)

    def test_never_negative(self):
        # wall from the monotonic clock may undershoot the ms job stamps
        self.assertEqual(M.driver_s(span(0, 1000, wall=0.99),
                                    [job(0, 1000)]), 0.0)

    def test_union(self):
        self.assertEqual(M.union_ms([(5, 7), (1, 3), (2, 4), (6, 6)]), 5)
        self.assertEqual(M.union_ms([]), 0)


class Ratios(unittest.TestCase):
    def test_scan_amplification(self):
        # four full scans of the 600,000-row fact table
        self.assertEqual(M.scan_amplification(2_400_000, 600_000), 4.0)

    def test_failed_frac_one_failed_check(self):
        self.assertAlmostEqual(M.failed_frac(10, 1), 0.1)
        self.assertEqual(M.failed_frac(10, 0), 0.0)

    def test_share(self):
        self.assertEqual(M.share(1.0, 4.0), 0.25)
        self.assertEqual(M.share(1.0, 0.0), 0.0)


class Names(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_every_name_is_well_formed(self):
        names = [n for n, _ in M.END_TO_END + M.per_layer_names()]
        names += [w for w in M.WORKLOADS]
        for n in names:
            self.assertRegex(n, M.NAME_RE)

    def test_counts(self):
        self.assertEqual(len(M.END_TO_END), len(self.bench["end_to_end"]))
        self.assertLessEqual(len(M.per_layer_names()), 128)
        layer = [n for n, _ in M.per_layer_names()]
        self.assertEqual(len(layer), len(set(layer)))

    def test_benchmark_json_matches_the_code(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         M.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         M.per_layer_names())
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         M.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
