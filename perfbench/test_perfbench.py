"""Tests for the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import corpus
import oracle
import stats


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 0.9)
        self.assertEqual(stats.tail_percentile(99), 0.5)
        self.assertEqual(stats.tail_percentile(1000), 0.99)
        self.assertEqual(stats.tail_percentile(20), 0.5)
        self.assertIsNone(stats.tail_percentile(19))

    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 0.5), 50)
        self.assertEqual(stats.percentile(v, 0.9), 90)
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.percentile([7], 0.9), 7)

    def test_failure_counts_as_missing_the_limit(self):
        v = [10.0] * 8 + [math.inf] * 2
        self.assertEqual(stats.percentile(v, 0.5), 10.0)
        self.assertEqual(stats.percentile(v, 0.9), math.inf)


class FailureCounting(unittest.TestCase):
    def test_failures_and_mismatches_per_attempt(self):
        self.assertEqual(stats.failed_ratio(10, 1, 2), 0.3)
        self.assertEqual(stats.failed_ratio(4, 0, 0), 0.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0, 0)


class TracingOverhead(unittest.TestCase):
    def op(self, ms, traced, ok=True):
        return {"ms": ms, "traced": traced, "ok": ok}

    def test_median_of_paired_ratios_in_either_order(self):
        ops = [self.op(100, False), self.op(110, True),
               self.op(220, True), self.op(200, False),
               self.op(50, False), self.op(60, True)]
        self.assertAlmostEqual(stats.paired_overhead_pct(ops), 10.0)

    def test_failed_pair_left_out(self):
        ops = [self.op(100, False), self.op(90, True, ok=False),
               self.op(100, True), self.op(100, False)]
        self.assertEqual(stats.paired_overhead_pct(ops), 0.0)
        self.assertIsNone(stats.paired_overhead_pct(ops[:2]))

    def test_unpaired_operations_are_an_error(self):
        with self.assertRaises(ValueError):
            stats.paired_overhead_pct([self.op(1, True), self.op(1, True)])


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_corpus_and_requests(self):
        d1, e1, v1 = corpus.generate(300, 7)
        d2, e2, v2 = corpus.generate(300, 7)
        self.assertEqual(corpus.digest(d1, e1), corpus.digest(d2, e2))
        self.assertEqual(corpus.requests(v1, 50), corpus.requests(v2, 50))

    def test_other_seed_other_corpus_and_requests(self):
        d1, e1, v1 = corpus.generate(300, 7)
        d2, e2, v2 = corpus.generate(300, 8)
        self.assertNotEqual(corpus.digest(d1, e1), corpus.digest(d2, e2))
        self.assertNotEqual(corpus.requests(v1, 50), corpus.requests(v2, 50))

    def test_corpus_shape(self):
        docs, embs, _ = corpus.generate(500, 3)
        lengths = [len(t.split(" ")) for t in docs.column("text").to_pylist()]
        self.assertEqual((min(lengths) >= 40, max(lengths) <= 69), (True, True))
        self.assertEqual(embs.num_rows, 200)
        self.assertEqual(len(embs.column("embedding")[0].as_py()), corpus.DIM)

    def test_request_rotation(self):
        _, _, vocab = corpus.generate(300, 1)
        kinds = [r["type"] for r in corpus.requests(vocab, 10)]
        self.assertEqual(kinds[:5], [k for k, _ in corpus.REQUEST_TERMS])
        self.assertEqual(kinds[5:], kinds[:5])


class SelfTime(unittest.TestCase):
    def span(self, id, parent, start, end, name="s"):
        return {"id": id, "parent": parent, "name": name, "start_ms": start, "end_ms": end}

    def test_nested_and_overlapping_children(self):
        spans = [
            self.span(1, 0, 0, 100),
            self.span(2, 1, 10, 30),
            self.span(3, 1, 20, 50),    # overlaps span 2: covered once
            self.span(4, 2, 12, 18),    # grandchild: only span 2's time
            self.span(-1, -1, 60, 70),  # listener span: parent by containment
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 6)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 6)
        self.assertEqual(st[-1], 10)

    def test_listener_span_goes_to_innermost_container(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 40, 60),
                 self.span(-1, -1, 45, 55)]
        resolved = {s["id"]: s["parent"] for s in stats.resolve_parents(spans)}
        self.assertEqual(resolved[-1], 2)

    def test_child_clipped_to_parent(self):
        st = stats.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)


class Digest(unittest.TestCase):
    def test_row_rendering(self):
        self.assertEqual(oracle.digest([(1, "a"), (2, None)]),
                         oracle.digest([[1, "a"], [2, None]]))
        self.assertNotEqual(oracle.digest([(1, "a")]), oracle.digest([(1, "b")]))


if __name__ == "__main__":
    unittest.main()
