"""Tests of the benchmark's own arithmetic: python3 -m unittest perfbench/test_benchlib.py"""

import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402

# The same table and digest are pinned in DigestSpec.scala, so the two
# implementations cannot drift apart.
GOLDEN_COLUMNS = ["v", "id", "ts", "tags"]
GOLDEN_ROWS = [
    (0.1, 1, datetime.datetime(2024, 1, 1, 0, 0, 11, 172425), ["a", "b"]),
    (None, 2, datetime.datetime(1969, 12, 31, 23, 59, 59, 500000), []),
    (2.0 / 3.0, 3, None, ["c"]),
]
GOLDEN_DIGEST = "id,tags,ts,v|3|50a2f49f2cb2a9eb"


class CellTest(unittest.TestCase):
    def test_numbers(self):
        cases = [
            (1, "1"), (123456789012, "123456789012"), (True, "true"),
            (1.0, "1"), (0.1, "0.1"), (-0.0, "0"), (2.0 / 3.0, "0.666666667"),
            (1e20, "100000000000000000000"), (1.5e-7, "0.00000015"),
            (12345678.15, "12345678.2"), (float("nan"), "NaN"),
            (float("-inf"), "-Infinity"), (decimal.Decimal("12.500"), "12.5"),
            (decimal.Decimal("0E-10"), "0"),
        ]
        for value, text in cases:
            self.assertEqual(benchlib.cell(value), text, value)

    def test_times_and_containers(self):
        self.assertEqual(benchlib.cell(datetime.datetime(2024, 1, 1, 0, 0, 11, 172425)),
                         "1704067211172425")
        aware = datetime.datetime(2024, 1, 1, 1, 0, tzinfo=datetime.timezone(datetime.timedelta(hours=1)))
        self.assertEqual(benchlib.cell(aware), "1704067200000000")
        self.assertEqual(benchlib.cell(datetime.date(2024, 1, 2)), "2024-01-02")
        self.assertEqual(benchlib.cell([1, None, 2.5]), "[1,\\N,2.5]")
        self.assertEqual(benchlib.cell({"b": 1, "a": "x"}), "{a=x,b=1}")
        self.assertEqual(benchlib.cell(b"\x00\xff"), "00ff")
        self.assertEqual(benchlib.cell(None), "\\N")


class DigestTest(unittest.TestCase):
    def test_golden(self):
        self.assertEqual(benchlib.digest(GOLDEN_COLUMNS, GOLDEN_ROWS), GOLDEN_DIGEST)

    def test_column_and_row_order_do_not_matter(self):
        a = benchlib.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = benchlib.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_duplicates_and_rounding(self):
        base = benchlib.digest(["a"], [(1,), (2,)])
        self.assertNotEqual(base, benchlib.digest(["a"], [(1,), (2,), (2,)]))
        self.assertEqual(benchlib.digest(["x"], [(0.1 + 0.2,)]), benchlib.digest(["x"], [(0.3,)]))
        self.assertNotEqual(benchlib.digest(["x"], [(0.3,)]), benchlib.digest(["x"], [(0.31,)]))


class PercentileTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(benchlib.samples_beyond(100, 90), 10)
        self.assertEqual(benchlib.samples_beyond(99, 90), 9)
        self.assertIsNone(benchlib.highest_percentile(99))
        self.assertEqual(benchlib.highest_percentile(100), 90)
        self.assertEqual(benchlib.highest_percentile(999), 90)
        self.assertEqual(benchlib.highest_percentile(1000), 99)
        self.assertEqual(benchlib.highest_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile([5], 90), 5)


class SpanTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(benchlib.covered([(1, 3), (2, 5), (7, 8)], 0, 10), 5)
        self.assertEqual(benchlib.covered([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(benchlib.covered([], 0, 10), 0)

    def test_self_time(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 100.0},
            {"id": 1, "parent": 0, "start": 10.0, "end": 40.0},
            {"id": 2, "parent": 0, "start": 30.0, "end": 60.0},
            {"id": 3, "parent": 1, "start": 15.0, "end": 25.0},
            {"id": 4, "parent": 0, "start": 90.0, "end": 120.0},
        ]
        st = benchlib.self_times(spans)
        self.assertEqual(st[0], 100 - 50 - 10)  # children cover 10-60 and 90-100
        self.assertEqual(st[1], 30 - 10)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 10)
        by_name = benchlib.layer_self_times([dict(s, name="x" if s["id"] else "root") for s in spans])
        self.assertEqual(by_name["root"], 40)
        self.assertEqual(by_name["x"], 20 + 30 + 10 + 30)


class ScheduleTest(unittest.TestCase):
    names = [f"q{i}" for i in range(40)]

    def test_same_seed_same_sequence(self):
        self.assertEqual(benchlib.zipf_sequence(self.names, 7, 200),
                         benchlib.zipf_sequence(self.names, 7, 200))
        self.assertNotEqual(benchlib.zipf_sequence(self.names, 7, 200),
                            benchlib.zipf_sequence(self.names, 8, 200))
        self.assertEqual(benchlib.shuffled_rounds(self.names, 3, 4),
                         benchlib.shuffled_rounds(self.names, 3, 4))

    def test_every_prefix_follows_the_weights(self):
        ranked = benchlib.rank_order(self.names)
        weights = [1.0 / (r + 1) for r in range(len(ranked))]
        total = sum(weights)
        seq = benchlib.zipf_sequence(self.names, 11, 300)
        for n in (10, 50, 300):
            for name, w in zip(ranked, weights):
                self.assertLessEqual(abs(seq[:n].count(name) - n * w / total), 1.0, (n, name))

    def test_rounds_hold_the_whole_panel(self):
        for r in benchlib.shuffled_rounds(self.names, 5, 3):
            self.assertEqual(sorted(r), sorted(self.names))


if __name__ == "__main__":
    unittest.main()
