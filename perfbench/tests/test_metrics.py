"""Unit tests of the benchmark's own arithmetic and generator.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import pathlib
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import donations  # noqa: E402
import metrics  # noqa: E402


class TailRank(unittest.TestCase):
    def test_ten_beyond_from_twenty_operations(self):
        self.assertEqual(metrics.tail_rank(20), 10)
        self.assertEqual(metrics.tail_rank(38), 28)

    def test_slowest_below_twenty(self):
        self.assertEqual(metrics.tail_rank(19), 19)
        self.assertEqual(metrics.tail_rank(1), 1)

    def test_op_tail_value_and_percentile(self):
        walls = [float(w) for w in range(38, 0, -1)]
        value, rank, pct = metrics.op_tail(walls)
        self.assertEqual((value, rank), (28.0, 28))
        self.assertAlmostEqual(pct, 100 * 28 / 38)
        self.assertEqual(sum(1 for w in walls if w > value), 10)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_children_clipped_to_span(self):
        self.assertEqual(metrics.self_time((10, 20), [(5, 12), (18, 30)]), 6)

    def test_disjoint_children_outside_span(self):
        self.assertEqual(metrics.self_time((10, 20), [(0, 5), (25, 30)]), 10)

    def test_layer_sums_split_construct_and_sink(self):
        record = {
            "ops": [{"i": 0, "name": "q", "role": "carrier", "start_ms": 0.0, "mid_ms": 40.0,
                     "end_ms": 100.0, "error": None, "compiles": 2, "compile_ms": 5.0}],
            "jobs": [
                {"job": 1, "op": "0", "phase": "construct", "start_ms": 10, "stages": [1], "schema": True},
                {"job": 1, "end_ms": 20},
                {"job": 2, "op": "0", "phase": "sink", "start_ms": 50, "stages": [2, 3], "schema": False},
                {"job": 2, "end_ms": 90},
                {"job": 3, "op": "m", "phase": None, "start_ms": 120, "stages": [4], "schema": False},
                {"job": 3, "end_ms": 130},
            ],
            "stages": [
                {"stage": 1, "tasks": 1, "run_ms": 8, "cpu_ns": 0, "gc_ms": 0, "input_bytes": 0,
                 "output_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0},
                {"stage": 2, "tasks": 4, "run_ms": 100, "cpu_ns": 0, "gc_ms": 1, "input_bytes": 2e6,
                 "output_bytes": 0, "shuffle_write_bytes": 1e6, "shuffle_read_bytes": 0, "spill_bytes": 0},
                {"stage": 4, "tasks": 1, "run_ms": 1, "cpu_ns": 0, "gc_ms": 0, "input_bytes": 0,
                 "output_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0},
            ],
            "phases": [{"start_ms": 45, "analysis": 1, "optimization": 2, "planning": 3}],
            "cached_bytes": 0, "setup_s": [3.0, 1.0, 1.0], "peak_rss_kb": 1000,
        }
        sums, rows = metrics.layer_sums(record, cores=4, wall_s=0.1)
        self.assertEqual(sums["construct.ms"], 40)
        self.assertEqual(sums["construct.self_ms"], 30)
        self.assertEqual(sums["sink.self_ms"], 20)
        self.assertEqual(sums["sched.driver_gap_ms"], 50)
        self.assertEqual((sums["sched.jobs"], sums["sched.stages"]), (2, 2))
        self.assertEqual(sums["sources.schema_jobs"], 1)
        self.assertEqual(sums["construct.eager_jobs"], 0)
        self.assertEqual(sums["construct.carrier_ms"], 40)
        self.assertEqual(sums["plan.planning_ms"], 3)
        self.assertAlmostEqual(sums["exec.slot_util"], 108 / 400)
        self.assertAlmostEqual(sums["sched.tasks_per_stage"], 2.5)
        spans = metrics.spans(record)
        self.assertEqual({s["op"] for s in spans}, {0})
        self.assertEqual(len(spans), 5)


class Generator(unittest.TestCase):
    def generate(self, seed):
        with tempfile.TemporaryDirectory() as d:
            expected = donations.generate(seed, d, donors=2000, donations=10_000)
            files = {f: pathlib.Path(d, f).read_bytes() for f in ("donors.csv", "donations.csv")}
            return expected, files

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.generate(5), self.generate(5))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.generate(5)[1], self.generate(6)[1])

    def test_shape(self):
        expected, files = self.generate(9)
        self.assertEqual(len(expected["state_cents"]), 52)
        self.assertIn("other", expected["state_cents"])
        lines = files["donations.csv"].decode().splitlines()
        self.assertEqual(len(lines), 10_001)
        self.assertEqual(sum(1 for ln in lines[1:] if ln.split(",")[4] == ""), donations.EMPTY_AMOUNTS)
        self.assertAlmostEqual(expected["hot_donations"] / 10_000, donations.HOT_SHARE, delta=0.02)


class Checks(unittest.TestCase):
    def test_by_state_tolerates_a_cent_and_flags_more(self):
        expected = {"state_cents": {"Ohio": 1001, "other": 250}}
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "by_state"))
            path = os.path.join(d, "by_state", "part-0.csv")
            with open(path, "w") as f:
                f.write("State,Total Donation Amount\nOhio,10.00\nother,2.50\n")
            self.assertIsNone(donations.check_by_state(d, expected))
            with open(path, "w") as f:
                f.write("State,Total Donation Amount\nOhio,10.03\nother,2.50\n")
            self.assertIn("Ohio", donations.check_by_state(d, expected))

    def test_chunks_flag_overlapping_ranges(self):
        expected = {"donations": 3, "donors": 2}
        with tempfile.TemporaryDirectory() as d:
            for side, parts in (("donation_chunks", [["a", "c"], ["b"]]), ("donor_chunks", [["a"], ["b"]])):
                os.makedirs(os.path.join(d, side))
                for i, ids in enumerate(parts):
                    with open(os.path.join(d, side, f"part-{i}.csv"), "w") as f:
                        f.write("Donor ID,x\n" + "".join(f"{k},1\n" for k in ids))
            self.assertIn("overlap", donations.check_chunks(d, expected))


if __name__ == "__main__":
    unittest.main()
