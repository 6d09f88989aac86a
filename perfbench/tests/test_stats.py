"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_eleventh_largest_with_its_percentile(self):
        xs = list(range(1, 101))  # 1..100, shuffled order must not matter
        xs.reverse()
        self.assertEqual(stats.tail(xs), (90, 90.0, 100))

    def test_exactly_ten_samples_beyond(self):
        for n in (21, 40, 57, 1000):
            xs = [float(i) for i in range(n)]
            value, pct, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_few_samples_fall_back_to_the_median(self):
        for n in (1, 2, 11, 20):
            xs = [float(i) for i in range(n)]
            self.assertEqual(stats.tail(xs), (stats.median(xs), 50.0, n))

    def test_never_below_the_median(self):
        for n in range(1, 200):
            xs = [float((i * 37) % n) for i in range(n)]
            self.assertGreaterEqual(stats.tail(xs)[0], stats.median(xs))

    def test_empty(self):
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


def span(i, parent, name, t0, t1, op=0):
    return {"id": i, "parent": parent, "name": name, "t0": t0, "t1": t1, "op": op}


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        # op 0..100; A 10..60 holds B 20..30 and C 25..40 (overlapping);
        # D 70..80 at top level
        spans = [span(1, 0, "A", 10, 60), span(2, 1, "B", 20, 30),
                 span(3, 1, "C", 25, 40), span(4, 0, "D", 70, 80)]
        own, rest = stats.self_times(0, 100, spans)
        self.assertEqual(own, {"A": 30, "B": 10, "C": 15, "D": 10})
        self.assertEqual(rest, 40)
        self.assertEqual(sum(own.values()) + rest, 100 + 5)  # B and C overlap by 5

    def test_repeated_names_add_up(self):
        spans = [span(1, 0, "format.meta", 0, 5), span(2, 0, "format.meta", 10, 12)]
        own, rest = stats.self_times(0, 20, spans)
        self.assertEqual(own, {"format.meta": 7})
        self.assertEqual(rest, 13)

    def test_child_outside_parent_is_clipped(self):
        own, rest = stats.self_times(0, 50, [span(1, 0, "A", 10, 20), span(2, 1, "B", 15, 30)])
        self.assertEqual(own["A"], 5)
        self.assertEqual(rest, 40)

    def test_no_spans(self):
        self.assertEqual(stats.self_times(5, 25, []), ({}, 20))

    def test_covered_union(self):
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.covered([]), 0)


def op(i, kind, cls, t0, t1, ok=True, traced=False, rows=0):
    return {"id": i, "kind": kind, "cls": cls, "t0": t0, "t1": t1, "ok": ok,
            "traced": traced, "rowsWritten": rows, "error": "" if ok else "WrongAnswer"}


class EndToEndTest(unittest.TestCase):
    def raw(self, ops):
        return {"ops": ops, "setup": {"spark_start_s": 2.0, "generate_s": [3.0, 1.0, 1.5],
                                      "table_build_s": [4.0, 2.0, 2.5]},
                "stored_bytes": 1000, "live_rows": 10, "retained_heap_mb": 50.0,
                "spans": [], "counters": [], "cores": 4, "driver_gc_ms": 0}

    def test_failures_count_into_error_rate_and_not_into_throughput(self):
        ms = 1000000
        ops = [op(0, "q", "read", 0, 10 * ms), op(1, "q", "read", 10 * ms, 30 * ms, ok=False),
               op(2, "a", "commit", 30 * ms, 50 * ms, rows=100), op(3, "p", "plan", 50 * ms, 1000 * ms)]
        m, samples = stats.end_to_end(self.raw(ops))
        self.assertEqual(m["error_rate"][0], 0.25)
        self.assertAlmostEqual(m["ops_per_s"][0], 3.0)
        self.assertEqual(m["read_p50_ms"][0], 10.0)
        self.assertEqual(m["plan_p50_ms"][0], 950.0)
        self.assertEqual(m["rows_written_per_s"][0], 100 / 0.02)
        # median of the three set-ups (generate + build) plus Spark start
        self.assertEqual(m["setup_s"][0], 2.0 + 4.0)
        self.assertEqual(m["stored_bytes_per_row"][0], 100.0)
        self.assertEqual(samples["read"], [50.0, 1])
        self.assertTrue({n for n, _, _ in stats.END_TO_END} <= set(m))

    def test_tracing_overhead(self):
        ms = 1000000
        ops = [op(0, "q", "read", 0, 12 * ms, traced=True), op(1, "q", "read", 0, 10 * ms),
               op(2, "p", "plan", 0, 2 * ms, traced=True), op(3, "p", "plan", 0, 2 * ms)]
        total, per = stats.overhead_pct(ops)
        self.assertEqual(per, {"q": 20.0, "p": 0.0})
        self.assertAlmostEqual(total, 100.0 * (2 * 2) / (2 * 10 + 2 * 2))


if __name__ == "__main__":
    unittest.main()
