"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import random
import unittest

import stats


class UnionTest(unittest.TestCase):
    def test_overlapping_and_touching_intervals_merge(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])

    def test_empty_and_inverted_intervals_are_dropped(self):
        self.assertEqual(stats.union([(2, 2), (4, 1)]), [])
        self.assertEqual(stats.measure([]), 0)

    def test_measure_counts_overlap_once(self):
        self.assertEqual(stats.measure([(0, 10), (2, 5), (8, 12), (20, 21)]), 13)

    def test_measure_matches_a_grid_count(self):
        rng = random.Random(7)
        for _ in range(200):
            iv = [(a, a + rng.randint(0, 6)) for a in (rng.randint(0, 30) for _ in range(6))]
            covered = {t for a, b in iv for t in range(a, b)}
            self.assertEqual(stats.measure(iv), len(covered))


class PartitionTest(unittest.TestCase):
    def test_parts_sum_to_the_wall(self):
        p = stats.partition(0, 100, jobs=[(10, 40), (60, 90)], stages=[(15, 30), (62, 88)])
        self.assertEqual(p, {"driver": 40, "gap": 19, "stage": 41, "outside": 0})
        self.assertEqual(p["driver"] + p["gap"] + p["stage"], 100)

    def test_events_outside_the_window_are_clipped(self):
        p = stats.partition(10, 20, jobs=[(0, 15), (18, 30)], stages=[(5, 12), (19, 25)])
        self.assertEqual(p, {"driver": 3, "gap": 4, "stage": 3, "outside": 20})

    def test_overlapping_stages_count_once(self):
        p = stats.partition(0, 10, jobs=[(0, 10)], stages=[(1, 6), (2, 8)])
        self.assertEqual(p, {"driver": 0, "gap": 3, "stage": 7, "outside": 0})

    def test_a_stage_without_a_recorded_job_is_stage_time(self):
        p = stats.partition(0, 10, jobs=[], stages=[(2, 4)])
        self.assertEqual(p, {"driver": 8, "gap": 0, "stage": 2, "outside": 0})

    def test_random_windows_partition_exactly(self):
        rng = random.Random(11)
        for _ in range(200):
            lo = rng.uniform(0, 5)
            hi = lo + rng.uniform(0, 50)
            jobs = [(a, a + rng.uniform(0, 9)) for a in (rng.uniform(-5, 55) for _ in range(4))]
            stages = [(a, a + rng.uniform(0, 4)) for a in (rng.uniform(-5, 55) for _ in range(6))]
            p = stats.partition(lo, hi, jobs, stages)
            self.assertAlmostEqual(p["driver"] + p["gap"] + p["stage"], hi - lo, places=9)
            self.assertTrue(all(v >= -1e-9 for v in p.values()))
            # the clipped and the dropped time add up to all recorded time
            self.assertAlmostEqual(p["gap"] + p["stage"] + p["outside"],
                                   stats.measure(jobs + stages), places=9)

    def test_events_inside_the_window_drop_nothing(self):
        p = stats.partition(0, 50, jobs=[(1, 20), (30, 49)], stages=[(2, 10), (31, 40)])
        self.assertEqual(p["outside"], 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_outside_the_span_do_not_count(self):
        self.assertEqual(stats.self_time((10, 20), [(0, 12), (18, 40)]), 6)

    def test_no_children(self):
        self.assertEqual(stats.self_time((3, 8), []), 5)


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertEqual(stats.tail(list(range(10))), (None, None, 10))

    def test_ten_samples_lie_above_the_tail(self):
        values = list(range(1, 101))
        random.Random(3).shuffle(values)
        pct, v, n = stats.tail(values)
        self.assertEqual((pct, v, n), (90.0, 90, 100))
        self.assertEqual(sum(x > v for x in values), 10)

    def test_smallest_supported_sample(self):
        pct, v, n = stats.tail([5.0] * 10 + [1.0])
        self.assertEqual((v, n), (1.0, 11))
        self.assertAlmostEqual(pct, 100 / 11)


if __name__ == "__main__":
    unittest.main()
