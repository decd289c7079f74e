"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
sys.path.insert(0, os.path.join(HERE, "..", "..", "tools"))

import gen  # noqa: E402
import stats  # noqa: E402
import stream  # noqa: E402
import verify_compare  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks_and_counts_samples(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), (2.5, 4))
        v, n = stats.percentile(range(1, 11), 90)
        self.assertAlmostEqual(v, 9.1)
        self.assertEqual(n, 10)
        self.assertEqual(stats.percentile([7], 99), (7, 1))

    def test_empty_has_no_value(self):
        v, n = stats.percentile([], 50)
        self.assertTrue(math.isnan(v))
        self.assertEqual(n, 0)

    def test_query_medians_take_one_value_per_query(self):
        samples = [("a", 1.0), ("b", 10.0), ("a", 3.0), ("a", 100.0), ("b", 30.0)]
        self.assertEqual(stats.query_medians(samples), [3.0, 20.0])
        self.assertEqual(stats.query_medians([]), [])

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10] * 10), 0.0)
        vals = [9, 10, 10, 10, 10, 10, 10, 10, 10, 11]
        self.assertAlmostEqual(stats.spread(vals), 0.0)
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        # overlapping children count once; parts outside the span do not count
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 100 - 30 - 10)
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (2, 3)]), 0)

    def test_gap_ignores_empty_and_disjoint_intervals(self):
        self.assertEqual(stats.covered([(5, 5), (200, 300)], 0, 100), 0)
        self.assertEqual(stats.covered([(0, 50), (50, 60)], 0, 100), 60)


class StageSumTest(unittest.TestCase):
    def test_sums_task_metrics_and_converts_cpu_to_seconds(self):
        st = {f: 1 for _, f in stats.STAGE_FIELDS}
        sums = stats.stage_sums([dict(st, cpu_ns=2_000_000_000, tasks=4), st])
        self.assertEqual(sums["scheduler.tasks"], 5)
        self.assertAlmostEqual(sums["exec.cpu_s"], 2.000000001)
        self.assertEqual(sums["shuffle.read_bytes"], 2)
        self.assertEqual(stats.stage_sums([])["exec.task_ms"], 0)


class DigestTest(unittest.TestCase):
    """The output check's digest: tools/verify_compare.py's canonicalisation."""

    def digest(self, table):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table(table), os.path.join(d, "part-0.parquet"))
            return verify_compare.digest(d)

    def test_digest_ignores_row_and_column_order(self):
        a = self.digest({"x": [1, 2], "y": ["a", "b"]})
        b = self.digest({"y": ["b", "a"], "x": [2, 1]})
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_digest_sees_float_bits_and_list_contents(self):
        self.assertNotEqual(self.digest({"v": [0.1 + 0.2]}), self.digest({"v": [0.3]}))
        self.assertNotEqual(self.digest({"l": [[1, 2]]}), self.digest({"l": [[2, 1]]}))
        self.assertEqual(verify_compare.canon_cell(1.0), "000000000000f03f")

    def test_digest_sees_duplicate_rows(self):
        self.assertNotEqual(self.digest({"x": [1]}), self.digest({"x": [1, 1]}))


class GenTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        def files(d, seed):
            gen.generate(d, seed, 0.001)
            return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}
        with tempfile.TemporaryDirectory() as d:
            a = files(os.path.join(d, "a"), 7)
            self.assertEqual(a, files(os.path.join(d, "b"), 7))
            self.assertNotEqual(a, files(os.path.join(d, "c"), 8))


class TallyTest(unittest.TestCase):
    def test_failures_count_against_attempts(self):
        t = stats.Tally()
        self.assertTrue(t.add(True))
        self.assertFalse(t.add(False, "q1: digest"))
        t.attempted += 8
        t.fail("query error", 2)
        self.assertEqual((t.attempted, t.failed), (10, 3))
        self.assertAlmostEqual(t.ratio, 0.3)
        self.assertEqual(t.failures[0], "q1: digest")
        self.assertEqual(stats.Tally().ratio, 0.0)


class StreamLatencyTest(unittest.TestCase):
    def test_event_waits_for_the_last_sink_that_reflects_it(self):
        progress = [
            {"query": q, "batch": b, "rows": r, "commit": c}
            for q, rows in {"tumbling": [(0, 10, 100), (1, 10, 200)],
                            "stats": [(0, 20, 150)],
                            "upserts": [(0, 5, 90), (1, 15, 300)],
                            "dgim": [(0, 20, 120), (1, 0, 999)]}.items()
            for b, r, c in rows]
        by_sink = stream.batches(progress)
        self.assertEqual([b["cum"] for b in by_sink["upserts"]], [5, 20])
        self.assertEqual(len(by_sink["dgim"]), 1)
        manifest = [{"first_line": 0, "lines": 5, "due_ms": 50},
                    {"first_line": 5, "lines": 15, "due_ms": 60}]
        self.assertEqual(stream.event_latencies(manifest, by_sink, 0), [150 - 50, 300 - 60])
        self.assertEqual(stream.event_latencies(manifest, by_sink, 1), [240])


if __name__ == "__main__":
    unittest.main()
