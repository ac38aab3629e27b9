"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import summarize


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond_the_tail(self):
        values = list(range(1, 101))  # 1..100
        p, v = summarize.tail(values)
        self.assertEqual((p, v), (90, 90))
        self.assertEqual(sum(x > v for x in values), 10)

    def test_uneven_count_rounds_the_percentile_down(self):
        values = [float(x) for x in range(27)]
        p, v = summarize.tail(values)
        self.assertEqual(p, 62)
        self.assertEqual(sum(x > v for x in values), 10)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(summarize.tail([3.0, 1.0, 2.0]), (50, 2.0))
        self.assertEqual(summarize.tail([float(x) for x in range(19)]), (50, 9.0))

    def test_twenty_samples_reach_the_median_exactly(self):
        values = [float(x) for x in range(20)]
        self.assertEqual(summarize.tail(values), (50, 9.0))

    def test_twenty_four_samples_put_the_tail_above_the_median(self):
        values = [float(x) for x in range(24)]
        self.assertEqual(summarize.tail(values), (58, 13.0))

    def test_order_does_not_matter(self):
        values = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(summarize.tail(values), summarize.tail(sorted(values)))


class RateAndRecallTest(unittest.TestCase):
    def test_rows_per_second_is_rows_over_timed_wall(self):
        lat = [2.0, 3.0, 5.0]
        self.assertAlmostEqual(summarize.rate(3 * 10000, sum(lat)), 3000.0)

    def test_rate_rejects_empty_wall(self):
        with self.assertRaises(ValueError):
            summarize.rate(10, 0.0)

    def test_recall_is_hits_over_exact_answers(self):
        self.assertEqual(summarize.recall(563, 570), 563 / 570)
        self.assertEqual(summarize.recall(7, 7), 1.0)
        with self.assertRaises(ValueError):
            summarize.recall(0, 0)


class EndToEndTest(unittest.TestCase):
    def raw(self, lat, rows, failed=0):
        return {
            "session_s": 10.0, "prepare_s": [1.0, 3.0, 2.0], "warmup_s": 5.0,
            "attempted": len(lat), "failed": failed,
            "recall_hit": 9, "recall_total": 10,
            "loops": [{"traced": False, "latency_s": lat, "rows": rows,
                       "heap_live_peak_bytes": 3 * 2**20,
                       "resident_bytes_after": [0, 5], "persisted_rdds_after": [0, 1]}],
        }

    def test_metrics_from_one_loop(self):
        values, details = summarize.end_to_end(self.raw([1.0, 2.0, 3.0, 6.0], [10, 10, 10, 10], failed=1))
        self.assertEqual(values["setup_s"], 17.0)  # session + median set-up + warm-up
        self.assertAlmostEqual(values["queries_per_s"], 4 / 12)
        self.assertAlmostEqual(values["rows_per_s"], 40 / 12)
        self.assertEqual(values["latency_p50_s"], 2.5)
        self.assertEqual(values["latency_tail_s"], 2.5)
        self.assertEqual(values["recall"], 0.9)
        self.assertEqual(values["heap_live_peak_mb"], 3.0)
        self.assertEqual(details["error_rate"], 0.25)
        self.assertEqual(details["storage.resident_bytes_after"], 5)
        self.assertEqual(set(values), set(summarize.END_TO_END))


if __name__ == "__main__":
    unittest.main()
