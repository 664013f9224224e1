import random
import unittest

from benchlib import metrics


class TailTest(unittest.TestCase):
    def beyond(self, xs, v):
        return sum(1 for x in xs if x > v)

    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        for n, want in [(21, 50.0), (37, 50.0), (38, 75.0), (91, 75.0), (92, 90.0),
                        (1000, 99.0), (10000, 99.9)]:
            xs = [float(i) for i in range(n)]
            random.Random(n).shuffle(xs)
            p, v = metrics.tail(xs)
            self.assertEqual(p, want, n)
            self.assertGreaterEqual(self.beyond(xs, v), 10, n)
            higher = [q for q in metrics.TAIL_LADDER if q > p]
            if higher:
                self.assertLess(self.beyond(xs, metrics.percentile(xs, min(higher))), 10, n)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (50.0, 2.0))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 99), 5)


class SelfTimeTest(unittest.TestCase):
    def span(self, id, parent, start, end, name="s", op=1):
        return {"id": id, "parent": parent, "op": op, "name": name,
                "start": start, "end": end}

    def test_self_time_is_duration_minus_covered_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 50, 60)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 20 - 10)
        self.assertEqual(st[2], 20)

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60), self.span(4, 1, 35, 45)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 50)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, 10, 20), self.span(2, 1, 0, 15), self.span(3, 1, 18, 30)]
        self.assertEqual(metrics.self_times(spans)[1], 10 - 5 - 2)

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 50), self.span(3, 2, 0, 50)]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 0, 50))

    def test_driver_gap_is_op_time_outside_its_jobs(self):
        spans = [self.span(1, 0, 0, 100, "txn", op=7),
                 self.span("job1", 1, 10, 40, "job", op=7),
                 self.span("job2", 1, 20, 50, "job", op=7),
                 self.span("job3", 0, 60, 70, "job", op=8)]
        self.assertEqual(metrics.driver_gaps(spans), {7: 60})


if __name__ == "__main__":
    unittest.main()
