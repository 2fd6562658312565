#!/usr/bin/env python3
"""The benchmark's own tests: its checks must catch planted faults.

    python3 perfbench/test_bench.py          (from the repository root)

The engine tests run perfbench/run.py end to end (about half a minute
each); the rest check the benchmark's decoder and hashing alone.
"""
import json
import os
import struct
import subprocess
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import daq  # noqa: E402
import outputs  # noqa: E402
import run  # noqa: E402

SECONDS = 2


def bench(workload, seed, trace=0, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace),
                        *extra], cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class EngineChecks(unittest.TestCase):

    def test_ingest_passes_and_read_errors_equal_dead_reads(self):
        res = bench("ingest", 11, 1)
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        dead = sum(c.dead for c in daq.channels(11))
        ticks = run.WARM_TICKS + SECONDS
        self.assertEqual(res["metrics"]["sources.read_errors"]["value"], dead * ticks)

    def test_flipped_sample_value_is_caught(self):
        res = bench("ingest", 12, 0, "--inject-flip-value")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)

    def test_killed_tick_is_caught(self):
        res = bench("ingest", 13, 0, "--inject-kill-tick", "3")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)

    def test_wrong_expected_hash_is_caught(self):
        res = bench("reads", 14, 0, "--inject-wrong-hash")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)

    def test_span_job_counts_sum_to_listener_total(self):
        res = bench("reads", 15, 1)
        self.assertTrue(res["correct"], res)
        build = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
        with open(os.path.join(build, "trace", "reads-seed15.json")) as f:
            raw = json.load(f)["raw"]
        spans = sum(s["jobs"] for s in raw["spans"].values())
        self.assertGreater(raw["jobs_counted"], 0)
        self.assertEqual(spans, raw["jobs_counted"])


class Decoder(unittest.TestCase):

    def chan(self, fmt, conv=0):
        return daq.Channel(1, 0, fmt, conv, 5, False)

    def test_formats_follow_the_reference(self):
        regs = {0: [0xFFFF], 1: [0xFFFE, 0xFFFF], 4: [7, 9, 9, 9], 5: [1, 2, 0, 0, 0]}
        want = {0: -1, 1: -2, 4: 7, 5: (2 << 16) | 1}
        for fmt, r in regs.items():
            orig = daq.registers
            daq.registers = lambda seed, ch, k, r=r: r
            try:
                self.assertEqual(daq.expected_value(0, self.chan(fmt), 1), want[fmt])
            finally:
                daq.registers = orig

    def test_float_words_are_little_endian_and_exact(self):
        ch = self.chan(daq.FLOAT, 2)
        for k in range(1, 50):
            r = daq.registers(3, ch, k)
            v = struct.unpack(">f", struct.pack(">I", (r[1] << 16) | r[0]))[0]
            self.assertEqual(v * 16, int(v * 16))
            self.assertEqual(daq.expected_value(3, ch, k), (v / 4 - 3))

    def test_unimplemented_formats_store_null(self):
        for fmt in (3, 6, 8, 9, 10, 11):
            self.assertIsNone(daq.expected_value(0, self.chan(fmt, 1), 1))


class Hashing(unittest.TestCase):

    def test_hash_ignores_row_and_column_order(self):
        a = pd.DataFrame({"x": [1, 2, None], "y": ["a", "b", "c"]})
        b = a.iloc[::-1][["y", "x"]]
        self.assertEqual(outputs.frame_hash(a), outputs.frame_hash(b))

    def test_hash_sees_a_changed_cell(self):
        a = pd.DataFrame({"x": [1, 2, 3]})
        self.assertNotEqual(outputs.frame_hash(a), outputs.frame_hash(a.replace(3, 4)))


if __name__ == "__main__":
    unittest.main()
