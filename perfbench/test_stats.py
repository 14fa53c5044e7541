"""Self-tests for the benchmark's statistics and seeded inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class Quantiles(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        self.assertEqual(stats.median(xs), 4.0)
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_percentile_is_a_smooth_order_statistic_mean(self):
        xs = list(range(11))  # 0..10, symmetric around 5
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.0, places=6)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)
        self.assertAlmostEqual(stats.percentile([2.0] * 9, 75), 2.0)
        lo, hi = stats.percentile(xs, 25), stats.percentile(xs, 75)
        self.assertTrue(0 < lo < 5 < hi < 10)
        self.assertAlmostEqual(lo + hi, 10.0, places=6)

    def test_percentile_does_not_jump_between_clusters(self):
        # 8 query types x 6 runs: p75 sits between the 6th and 7th cluster
        fast = [0.2] * 36 + [0.5] * 12
        slow_edge = [0.2] * 35 + [0.26] + [0.5] * 12  # one slow run at the edge
        jump = abs(stats.percentile(slow_edge, 75) - stats.percentile(fast, 75))
        self.assertLess(jump, 0.3 * (0.26 - 0.2))


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.beyond(91, 90), 9)
        self.assertEqual(stats.tail_percentile(91), 75.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(20), 50.0)

    def test_too_few_samples_give_no_percentile(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(0))


class FailedFrac(unittest.TestCase):
    def test_counts_failures_over_attempts(self):
        self.assertEqual(stats.failed_frac([True, True, False, True]), 0.25)
        self.assertEqual(stats.failed_frac([True] * 7), 0.0)
        self.assertEqual(stats.failed_frac(iter([False])), 1.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_frac([])


class Seeds(unittest.TestCase):
    names = [f"q{i}" for i in range(12)]

    def test_seed_determines_query_order(self):
        a = stats.pass_orders(7, self.names, 5)
        self.assertEqual(a, stats.pass_orders(7, self.names, 5))
        self.assertNotEqual(a, stats.pass_orders(8, self.names, 5))
        self.assertTrue(all(sorted(o) == sorted(self.names) for o in a))
        self.assertGreater(len({tuple(o) for o in a}), 1)  # passes differ

    def test_prefix_of_orders_is_stable(self):
        self.assertEqual(stats.pass_orders(3, self.names, 2),
                         stats.pass_orders(3, self.names, 9)[:2])

    def test_seed_determines_corpus(self):
        a = stats.corpus(5, 3, 500)
        self.assertEqual(a, stats.corpus(5, 3, 500))
        self.assertNotEqual(a, stats.corpus(6, 3, 500))
        self.assertEqual(len(a), 3)
        self.assertTrue(all(len(stats.tokens(t)) >= 500 for t in a.values()))


class Expected(unittest.TestCase):
    docs = {"a.txt": "The cat, the hat.\nCat 42 x", "b.txt": "hat hat"}

    def test_word_count_splits_on_non_letters(self):
        self.assertEqual(stats.tokens("ab1cd_e f-g"), ["ab", "cd", "e", "f", "g"])
        self.assertEqual(stats.expected_wc(self.docs),
                         sorted(["The 1", "cat 1", "the 1", "hat 3", "Cat 1", "x 1"]))

    def test_indexer_lists_sorted_documents(self):
        got = dict(line.split(" ", 1) for line in stats.expected_indexer(self.docs))
        self.assertEqual(got["hat"], "2 a.txt,b.txt")
        self.assertEqual(got["cat"], "1 a.txt")


if __name__ == "__main__":
    unittest.main()
