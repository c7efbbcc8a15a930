"""Tests of the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s gridbench -p 'test_*.py'
"""

import unittest

import stats


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_us": start, "end_us": end}


def job(i, start_ms, end_ms, span_id=-1):
    return {"id": i, "span": span_id, "start_ms": start_ms, "end_ms": end_ms}


class PercentileTest(unittest.TestCase):
    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(stats.tail_percentile(list(range(1, 20))))

    def test_twenty_samples_use_the_median(self):
        xs = list(range(1, 21))
        self.assertEqual(stats.tail_percentile(xs), (50.0, 10))

    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5
        xs = list(range(1, 101))
        self.assertEqual(stats.tail_percentile(xs), (90.0, 90))
        # 1000 samples: p99 leaves 10 above it
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (99.0, 990))

    def test_order_does_not_matter(self):
        xs = list(range(1, 41))
        self.assertEqual(stats.tail_percentile(xs[::-1]), stats.tail_percentile(xs))
        self.assertEqual(stats.tail_percentile(xs), (75.0, 30))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(0, -1, 0, 100),      # op
                 span(1, 0, 10, 40),       # child
                 span(2, 1, 15, 25),       # grandchild
                 span(3, 0, 50, 90)]       # second child
        kids = stats.children(spans)
        self.assertEqual(stats.self_time_us(spans[0], kids), 100 - 30 - 40)
        self.assertEqual(stats.self_time_us(spans[1], kids), 30 - 10)
        self.assertEqual(stats.self_time_us(spans[2], kids), 10)
        total_self = sum(stats.self_time_us(s, kids) for s in spans)
        self.assertEqual(total_self, 100)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 70)]
        kids = stats.children(spans)
        self.assertEqual(stats.self_time_us(spans[0], kids), 100 - 60)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        kids = stats.children(spans)
        self.assertEqual(stats.self_time_us(spans[0], kids), 90)


class DriverGapTest(unittest.TestCase):
    def test_sequential_jobs(self):
        s = span(0, -1, 0, 10_000)
        jobs = [job(1, 1, 3), job(2, 5, 6)]
        self.assertEqual(stats.driver_gap_us(s, jobs), 10_000 - 3_000)

    def test_overlapping_async_jobs(self):
        # a broadcast job runs inside its parent job, a subquery job
        # overlaps its tail: the covered time is the union, 1..7 ms
        s = span(0, -1, 0, 10_000)
        jobs = [job(1, 1, 5), job(2, 2, 3), job(3, 4, 7)]
        self.assertEqual(stats.driver_gap_us(s, jobs), 10_000 - 6_000)

    def test_jobs_clipped_to_span(self):
        s = span(0, -1, 2_000, 6_000)
        jobs = [job(1, 1, 3), job(2, 5, 9)]
        self.assertEqual(stats.driver_gap_us(s, jobs), 4_000 - 2_000)

    def test_no_jobs(self):
        self.assertEqual(stats.driver_gap_us(span(0, -1, 0, 500), []), 500)


class AttributionTest(unittest.TestCase):
    def test_property_wins_and_time_falls_back_to_innermost(self):
        spans = [span(0, -1, 0, 10_000), span(1, 0, 2_000, 4_000)]
        jobs = [job(1, 3, 4, span_id=0),   # tagged: stays on the op
                job(2, 3, 4),              # untagged, inside child
                job(3, 8, 9),              # untagged, op only
                job(4, 20, 21)]            # outside every span
        self.assertEqual(stats.attribute_jobs(spans, jobs),
                         {1: 0, 2: 1, 3: 0, 4: -1})


if __name__ == "__main__":
    unittest.main()
