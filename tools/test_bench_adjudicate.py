"""Tests for the same-run guard of tools/bench_adjudicate.py.

Run from the repository root: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_adjudicate as ba  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quiet(fn, *args):
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(*args)


class JavaRoundingTest(unittest.TestCase):
    def test_half_up_on_shortest_decimal(self):
        # binary 0.1235 is just below the tie; Java's %.3f still rounds up
        self.assertEqual(str(ba.java_3f(0.1235)), "0.124")
        self.assertEqual(str(ba.java_3f(2.0)), "2.000")
        self.assertEqual(str(ba.java_3f(0.0004)), "0.000")

    def test_same_run_is_exact(self):
        self.assertTrue(ba.same_run("0.124", 0.1235))
        self.assertTrue(ba.same_run("2.0", 2.0004))
        self.assertTrue(ba.same_run("2.34", 2.3401))
        self.assertFalse(ba.same_run("2.34", 2.3406))
        # a tail printed at full precision must match the double exactly
        self.assertTrue(ba.same_run("1.23456789", 1.23456789))
        self.assertFalse(ba.same_run("1.23456789", 1.2345678901))


class SidecarGuardTest(unittest.TestCase):
    def write_run(self, d, tail_queries, full_queries):
        tail = '{"metric":"total","queries":{%s},"sf":"x"}' % ",".join(
            '"%s":%s' % kv for kv in tail_queries.items())
        wrapper = os.path.join(d, "BENCH.json")
        with open(os.path.join(d, ba.SIDECAR), "w") as f:
            json.dump({"queries": full_queries}, f)
        with open(wrapper, "w") as f:
            json.dump({"tail": tail, "parsed": None}, f)
        return wrapper

    def test_adopts_sidecar_whose_rounding_matches_the_tail(self):
        with tempfile.TemporaryDirectory() as d:
            full = {"q_a": 1.23456, "q_b": 2.0001, "q_c": 0.5}
            path = self.write_run(d, {"q_a": "1.235", "q_b": "2.0"}, full)
            self.assertEqual(quiet(ba.load_times, path), full)

    def test_rejects_sidecar_from_another_run(self):
        with tempfile.TemporaryDirectory() as d:
            full = {"q_a": 1.23456, "q_b": 2.0011, "q_c": 0.5}
            path = self.write_run(d, {"q_a": "1.235", "q_b": "2.0"}, full)
            self.assertEqual(quiet(ba.load_times, path), {"q_a": 1.235, "q_b": 2.0})

    def test_r17_tail_adopts_the_170_query_sidecar(self):
        path = os.path.join(ROOT, "BENCH_r17_c8.json")
        if not os.path.exists(path):
            self.skipTest("BENCH_r17_c8.json not present")
        with open(os.path.join(ROOT, ba.SIDECAR)) as f:
            full = json.load(f)["queries"]
        self.assertEqual(len(full), 170)
        self.assertEqual(quiet(ba.load_times, path), full)


if __name__ == "__main__":
    unittest.main()
