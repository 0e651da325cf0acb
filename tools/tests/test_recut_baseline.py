"""Tests for tools/recut_baseline.py.

Run: python3 -m unittest discover -s tools/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import recut_baseline  # noqa: E402


def write(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f)


def read(path):
    with open(path) as f:
        return json.load(f)


class RecutBaselineTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.base = os.path.join(self.tmp.name, "BENCH_BASELINE.json")
        write(self.base, {"q_a": 1.0, "q_b": 2.0})

    def tearDown(self):
        self.tmp.cleanup()

    def battery(self, name, local, load_ok):
        local_path = os.path.join(self.tmp.name, name, "BENCH_LOCAL.json")
        write(local_path, local)
        if load_ok is not None:
            write(os.path.join(self.tmp.name, name, "BENCH_LOAD.json"),
                  {"q_a": 0.1, "_battery": {"load_ok": load_ok}})
        return local_path

    def test_certified_battery_merges_per_key_minimum(self):
        p = self.battery("ok", {"q_a": 0.5, "q_b": 3.0, "q_c": 1.5, "q_d": None},
                         load_ok=True)
        self.assertEqual(recut_baseline.main([self.base, p]), 0)
        self.assertEqual(read(self.base), {"q_a": 0.5, "q_b": 2.0, "q_c": 1.5})

    def test_uncertified_battery_is_refused_and_baseline_untouched(self):
        p = self.battery("noisy", {"q_a": 0.1}, load_ok=False)
        self.assertEqual(recut_baseline.main([self.base, p]), 1)
        self.assertEqual(read(self.base), {"q_a": 1.0, "q_b": 2.0})

    def test_missing_load_file_is_refused(self):
        p = self.battery("bare", {"q_a": 0.1}, load_ok=None)
        self.assertEqual(recut_baseline.main([self.base, p]), 1)
        self.assertEqual(read(self.base), {"q_a": 1.0, "q_b": 2.0})

    def test_non_boolean_load_ok_is_refused(self):
        p = self.battery("stringy", {"q_a": 0.1}, load_ok="true")
        self.assertEqual(recut_baseline.main([self.base, p]), 1)

    def test_one_refused_battery_blocks_the_whole_recut(self):
        good = self.battery("ok", {"q_a": 0.5}, load_ok=True)
        bad = self.battery("noisy", {"q_b": 0.1}, load_ok=False)
        self.assertEqual(recut_baseline.main([self.base, good, bad]), 1)
        self.assertEqual(read(self.base), {"q_a": 1.0, "q_b": 2.0})


if __name__ == "__main__":
    unittest.main()
