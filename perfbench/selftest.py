#!/usr/bin/env python3
"""Self-tests for the benchmark's own arithmetic and its listener accounting.

    python3 perfbench/selftest.py          # arithmetic only, no JVM
    python3 perfbench/selftest.py --pin    # also the listener pin on TPC-H q1

Run from the root of a checkout. The pin builds the program like `run.py`
does, runs `q1_pricing_summary` at sf0.01 with tracing on and checks the job
and stage counts the listeners attribute to it (see PIN_Q1).
"""

import json
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class Tail(unittest.TestCase):
    def test_rank_with_ten_beyond(self):
        xs = list(range(1, 41))  # 40 samples: rank 30 has 10 above it
        pct, v, beyond = stats.tail(xs)
        self.assertEqual((pct, v, beyond), (75.0, 30, 10))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11]), (100 / 11, 1, 10))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 0))
        self.assertEqual(stats.tail(list(range(10))), (100.0, 9, 0))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(20, 25), (0, 10), (10, 12)]), 17)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3)]), 0)

    def test_nested_interval_counts_once(self):
        self.assertEqual(stats.union_length([(0, 100), (10, 20), (30, 40)]), 100)

    def test_driver_gap(self):
        # op 0..100, jobs 10..40 and 35..60 (overlapping), plan 0..8
        self.assertEqual(stats.driver_gap((0, 100), [(10, 40), (35, 60)], [(0, 8)]), 42)
        # without overlap it is wall - union(jobs) - plan
        self.assertEqual(stats.driver_gap((0, 100), [(10, 20), (50, 70)], [(0, 5)]),
                         100 - 30 - 5)


class SelfTime(unittest.TestCase):
    def test_children_clipped_to_span(self):
        self.assertEqual(stats.self_time((10, 20), [(0, 12), (18, 30)]), 6)

    def test_leaf_span(self):
        self.assertEqual(stats.self_time((1.5, 4.0), []), 2.5)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time((0, 10), [(0, 6), (4, 10)]), 0)


class Spread(unittest.TestCase):
    def test_iqr_share_of_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 5.5 / 5.5)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


def listener_pin():
    """Runs q1 once at sf0.01 with tracing on and returns the job and stage
    counts the benchmark attributes to it, with its row count."""
    import argparse
    import run
    root = os.getcwd()
    rundir = f"{root}/.bench_build/runs/selftest-pin"
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(f"{rundir}/tmp")
    data = os.path.join(os.path.dirname(run.load("workloads.json")["data"]), "sf0.01")
    cfg = {"data": data, "cores": 4, "heap": "2g",
           "tables": {"lineitem": {"bytes": os.path.getsize(f"{data}/lineitem.parquet")}}}
    wl = {"ops": [[["q1_pricing_summary", "tpch"]]], "passes": 1}
    args = argparse.Namespace(seed=1, seconds=0, trace=1, record=True)
    expected = {"counts": {}}
    try:
        ops, passes, _, extra = run.run_in_session(cfg, wl, args, run.build(root), rundir,
                                                   expected)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    with open(f"{root}/BENCHMARK.json") as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    m, _ = run.per_layer(names, ops, passes, extra, False, 4)
    return m["exec.jobs"], m["exec.stages"], expected["counts"]["q1_pricing_summary"]


class ListenerPin(unittest.TestCase):
    def test_q1_jobs_and_stages(self):
        jobs, stages, count = listener_pin()
        self.assertEqual(count, 6)
        self.assertEqual((jobs, stages), PIN_Q1)


# (jobs, completed stages) that q1_pricing_summary(...).count() runs at sf0.01
# with AQE on, each job running one new stage: the parquet footer read that
# infers the schema; the scan with the partial aggregate up to q1's one
# exchange; the final aggregate with count()'s partial count up to its
# single-partition exchange; the final count. The later jobs list the
# earlier stages again, as skipped.
PIN_Q1 = (4, 4)


if __name__ == "__main__":
    pin = "--pin" in sys.argv
    if pin:
        sys.argv.remove("--pin")
    else:
        del ListenerPin
    unittest.main()
