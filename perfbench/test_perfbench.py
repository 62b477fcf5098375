#!/usr/bin/env python3
"""Tests of the benchmark itself: the input generator, the dashboard's retry
rule and the correctness gate.

    python3 perfbench/test_perfbench.py

Each test runs the benchmark's JVM on a small input (about three minutes in
all). The gate tests seed one fault each and require it to be caught.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(*args):
    """Runs run.py; returns (exit code, last-line result)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True, cwd=os.path.dirname(HERE))
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stdout + p.stderr


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_and_clean_parse(self):
        res, _, _ = run.run_jvm("gen_check", 7, 1, 0)
        self.assertIsNotNone(res)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(m["identical_same_seed"], 1, "same seed must give byte-identical topic files")
        self.assertEqual(m["differs_other_seed"], 1, "another seed must give other files")
        self.assertEqual(m["null_records"], 0, "the program's parse must yield no null records")
        self.assertEqual(m["producer_fields_dropped"], 1, "producer-only fields must not survive from_json")
        self.assertGreater(res["attempted"], 0)


class DashboardRetryTest(unittest.TestCase):
    def test_only_pointer_swap_races_are_retried(self):
        res, work, _ = run.run_jvm("race_check", 7, 1, 0)
        self.addCleanup(shutil.rmtree, work, True)
        self.assertIsNotNone(res)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(m["other_errors"], 0, "a read during an upsert failed with an error that is not a swap race")
        self.assertEqual(m["misclassified"], 0, "an error that is not a swap race was taken for one")


class GateTest(unittest.TestCase):
    def test_catalog_hash_gate(self):
        """One full catalog_core run: its results pass the gate, and the
        same results with one hash altered are refused."""
        res, work, _ = run.run_jvm("catalog_core", 5, 1, 0)
        self.addCleanup(shutil.rmtree, work, True)
        self.assertIsNotNone(res)
        self.assertEqual(res["failed"], 0, res["failures"])
        clean = dict(res, failures=[])
        run.catalog_gate(clean, work, 5)
        self.assertEqual(clean["failed"], 0, clean["failures"])
        got = run.result_hashes(work)
        q = sorted(got)[0]
        got[q] = ("0" if got[q][0] != "0" else "1") + got[q][1:]
        altered = dict(res, failures=[])
        with mock.patch.object(run, "result_hashes", return_value=got):
            run.catalog_gate(altered, work, 5)
        self.assertEqual(altered["failed"], 1, altered["failures"])
        self.assertIn(f"{q} result hash", altered["failures"][0])

    def test_dropped_event_is_caught(self):
        rc, res, log = bench("--workload", "stream_backlog", "--seed", "3", "--seconds", "2",
                             "--fault", "drop_event")
        self.assertEqual(rc, 1, log)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("missing from the archive", log)


if __name__ == "__main__":
    unittest.main()
