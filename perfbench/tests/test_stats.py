"""Unit tests of the benchmark's summary helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_linear_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [10.0] * 5 + [20.0] * 5
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([4.0, 4.0, 4.0, 4.0]), 0.0)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 2, 2]), 2.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class UnionLengthTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped(self):
        self.assertEqual(stats.union_length([(0, 10), (20, 30)], lo=5, hi=25), 10)
        self.assertEqual(stats.union_length([(0, 4)], lo=5, hi=25), 0)


def span(i, name, start, end, parent=0, run=1):
    return (i, name, start, end, parent, run)


class SelfTimeTest(unittest.TestCase):
    def test_children_covered_time_is_subtracted_once(self):
        spans = [span(1, "query", 0, 100), span(2, "build", 0, 60, 1), span(3, "execute", 60, 100, 1),
                 span(4, "job", 10, 30, 2), span(5, "job", 20, 40, 2)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 0)
        self.assertEqual(st[2], 30)  # 60 minus the union 10..40
        self.assertEqual(st[3], 40)
        self.assertEqual(st[4], 20)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([span(1, "build", 0, 10), span(2, "job", 5, 50, 1)])
        self.assertEqual(st[1], 5)


class AttachTest(unittest.TestCase):
    def test_listener_spans_go_to_innermost_harness_span_of_their_run(self):
        spans = [span(1, "query", 0, 100, 0, 1), span(2, "build", 0, 50, 1, 1),
                 span(3, "execute", 50, 100, 1, 1), span(4, "query", 100, 200, 0, 2),
                 span(10, "job", 20, 30, 0, 1), span(11, "job", 60, 70, 0, 1),
                 span(12, "analysis", 110, 120, 0, 0), span(13, "job", 500, 510, 0, 1)]
        parents = {s[0]: s[4] for s in stats.attach(spans)}
        self.assertEqual(parents[10], 2)
        self.assertEqual(parents[11], 3)
        self.assertEqual(parents[12], 4)  # phases carry no run: any run
        self.assertNotIn(13, parents)  # contained by no harness span


class MetricsTest(unittest.TestCase):
    def record(self):
        def sample(op, p, ms, traced=False):
            return {"op": op, "pass": p, "traced": traced, "ms": ms}
        return {
            "cores": 4,
            "counters": {"setup_end_ms": 12000.0, "heap_peak_bytes": 2 ** 30},
            "passes": [{"pass": 0, "traced": False, "ms": 40}, {"pass": 1, "traced": True, "ms": 44},
                       {"pass": 2, "traced": False, "ms": 42}],
            "samples": [sample("a", 0, 10), sample("b", 0, 30), sample("a", 1, 12, True),
                        sample("b", 1, 32, True), sample("a", 2, 10), sample("b", 2, 30)],
            "batches": [{"pass": 1, "traced": True, "trigger_ms": t, "add_batch_ms": 1,
                         "query_planning_ms": 0, "wal_commit_ms": 0, "commit_offsets_ms": 0}
                        for t in (10, 20, 30)],
            "pass_counters": [],
            "runs": [{"run": 1, "op": "a", "pass": 1, "jobs": 2, "run_ms": 8, "busy": [[2, 6]]}],
            "spans": [[1, "query", 0.0, 12.0, 0, 1], [2, "build", 0.0, 8.0, 1, 1],
                      [3, "job", 2.0, 6.0, 0, 1]],
        }

    def test_end_to_end(self):
        m = stats.end_to_end(self.record(), launched_s=2.0)
        self.assertAlmostEqual(m["setup_s"][0], 10.0)
        self.assertAlmostEqual(m["wall_s"][0], 0.040)
        self.assertAlmostEqual(m["op_geomean_ms"][0], (10 * 30) ** 0.5)
        self.assertAlmostEqual(m["heap_peak_mb"][0], 1024.0)

    def test_per_layer(self):
        m = stats.per_layer(self.record())
        self.assertAlmostEqual(m["queries.build_ms"][0], 4.0)
        self.assertEqual(m["queries.build_jobs"][0], 1)
        self.assertAlmostEqual(m["spark.driver_gap_ms"][0], 8.0)
        self.assertAlmostEqual(m["exec.slot_util"][0], 8 / (12 * 4))
        self.assertAlmostEqual(m["trace.overhead_ms"][0], 4.0)  # 44 against pass 2's 40
        self.assertEqual(m["streaming.batches"][0], 3)
        self.assertAlmostEqual(m["streaming.batch_p50_ms"][0], 20.0)
        self.assertAlmostEqual(m["streaming.batch_p90_ms"][0], 28.0)


if __name__ == "__main__":
    unittest.main()
