"""Unit tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import metrics as M


class PercentileRule(unittest.TestCase):
    def test_p90_kept_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: 10 lie beyond p90
        v, p = M.tail_percentile(xs, 90)
        self.assertEqual(p, 90)
        self.assertAlmostEqual(v, M.percentile(xs, 90))

    def test_falls_back_to_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 41))  # 40 samples: p90 would have 4 beyond
        v, p = M.tail_percentile(xs, 90)
        self.assertAlmostEqual(p, 75.0)  # 40 * 0.25 = 10 beyond
        self.assertAlmostEqual(v, M.percentile(xs, 75))

    def test_never_below_median(self):
        v, p = M.tail_percentile([5.0, 1.0, 3.0], 90)
        self.assertEqual(p, 50.0)
        self.assertEqual(v, 3.0)

    def test_linear_interpolation(self):
        self.assertAlmostEqual(M.percentile([0, 10], 25), 2.5)
        self.assertEqual(M.percentile([7], 90), 7.0)

    def test_empty(self):
        self.assertEqual(M.tail_percentile([], 90), (None, None))


class Amplification(unittest.TestCase):
    def _file(self, path, size):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(b"x" * size)

    def test_write_amp(self):
        self.assertAlmostEqual(M.write_amp(3000, 1000), 3.0)
        self.assertIsNone(M.write_amp(10, 0))

    def test_space_amp_from_known_store(self):
        with tempfile.TemporaryDirectory() as d:
            self._file(f"{d}/store/fact/month=1/a.parquet", 600)
            self._file(f"{d}/store/fact/month=2/b.parquet", 400)
            self._file(f"{d}/store/meta/part-0.json", 100)
            self._file(f"{d}/summaries/data/gid=0/c.parquet", 400)
            self._file(f"{d}/fresh/part-0.parquet", 500)
            self._file(f"{d}/fresh/_SUCCESS", 0)
            self.assertEqual(M.dir_stats(f"{d}/store"), (1100, 3))
            self.assertAlmostEqual(
                M.space_amp([f"{d}/store", f"{d}/summaries"], f"{d}/fresh"), 3.0)


class Utilisation(unittest.TestCase):
    def test_core_busy_ratio(self):
        # 4 cores for 1 s = 4000 core-ms; 3000 ms of task time
        self.assertAlmostEqual(M.core_busy_ratio(3000, 1000, 4), 0.75)
        self.assertIsNone(M.core_busy_ratio(10, 0, 4))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}

    def test_nested_spans(self):
        spans = [self.span(1, -1, 0, 100),      # op
                 self.span(2, 1, 10, 40),       # compose
                 self.span(3, 1, 50, 90),       # execute
                 self.span(4, 3, 60, 70)]       # nested in execute
        st = M.self_times(spans)
        self.assertAlmostEqual(st[1], 30)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[3], 30)
        self.assertAlmostEqual(st[4], 10)

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 60),
                 self.span(3, 1, 40, 80)]
        self.assertAlmostEqual(M.self_times(spans)[1], 30)


class FailRatio(unittest.TestCase):
    def test_thrown_and_wrong_answers_both_count(self):
        ops = [{"ok": True}, {"ok": False, "error": "threw: boom"},
               {"ok": False, "error": "wrong answer: 1 row"}, {"ok": True}]
        self.assertAlmostEqual(M.fail_ratio(ops), 0.5)

    def test_thrown_setup_counts_as_a_failed_op(self):
        raw = {"ops": [{"ok": True}], "error": "java.lang.IllegalStateException: build"}
        self.assertEqual(M.counts(raw), (2, 1))
        self.assertEqual(M.counts({"ops": [{"ok": True}], "error": None}), (1, 0))

    def test_failed_warmup_op_counts(self):
        raw = {"ops": [{"ok": False, "phase": "warmup"}, {"ok": True, "phase": "measure"}],
               "error": None}
        self.assertEqual(M.counts(raw), (2, 1))
        self.assertAlmostEqual(M.fail_ratio(raw["ops"]), 0.5)


if __name__ == "__main__":
    unittest.main()
