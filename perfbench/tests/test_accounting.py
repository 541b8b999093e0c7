"""Tests for the benchmark's own accounting (perfbench/accounting.py).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import accounting as acc  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_min_samples(self):
        self.assertEqual(acc.min_samples(0.99), 1000)
        self.assertEqual(acc.min_samples(0.50), 20)

    def test_p99_needs_ten_samples_beyond(self):
        xs = list(range(1000))
        value, beyond = acc.percentile(xs, 0.99)
        self.assertEqual((value, beyond), (989, 10))
        self.assertEqual(acc.checked_percentile(xs, 0.99), 989)

    def test_too_few_samples_names_the_count(self):
        with self.assertRaises(ValueError) as e:
            acc.checked_percentile(list(range(999)), 0.99)
        self.assertIn("999 samples", str(e.exception))
        self.assertIn("1000", str(e.exception))

    def test_median_is_nearest_rank(self):
        self.assertEqual(acc.percentile([5, 1, 3, 2, 4] * 4, 0.5)[0], 3)


class DueTimeLatency(unittest.TestCase):
    def test_latency_runs_from_due_time_to_covering_commit(self):
        chunks = [(0.0, 1.0, 1), (10.0, 10.5, 2), (20.0, 20.2, 3)]
        batches = [(15.0, 1), (30.0, 3)]
        self.assertEqual(acc.due_latencies(chunks, batches), [15.0, 20.0, 10.0])

    def test_stall_charges_every_later_chunk(self):
        # one chunk due every 10 ms; commits every 10 ms, except that the
        # engine stalls from 30 to 230 ms, so nothing commits in between
        chunks = [(10.0 * i, 10.0 * i, i) for i in range(40)]
        commits = [(10.0 * i + 5, i) for i in range(3)]
        commits += [(235.0, 23)] + [(10.0 * i + 5, i) for i in range(24, 40)]
        lat = acc.due_latencies(chunks, commits)
        self.assertEqual(lat[:3], [5.0, 5.0, 5.0])
        # chunks due during the stall carry the wait until the 235 ms commit
        self.assertEqual(lat[3], 205.0)
        self.assertEqual(lat[23], 5.0)
        self.assertTrue(all(a > b for a, b in zip(lat[3:23], lat[4:23])))
        self.assertEqual(lat[24:], [5.0] * 16)

    def test_uncommitted_chunk_is_an_error(self):
        with self.assertRaises(ValueError):
            acc.due_latencies([(0.0, 0.0, 5)], [(1.0, 4)])

    def test_generator_lateness(self):
        self.assertEqual(acc.generator_lateness([(0.0, 2.5, 1), (5.0, 5.0, 2)]), [2.5, 0.0])


class Backlog(unittest.TestCase):
    def test_backlog_from_source_offsets(self):
        # offsets 1..6 offered every 10 ms; batch at 25 ms takes 1..2,
        # batch at 45 ms finds 3..4 waiting, batch at 70 ms finds 5..6
        chunks = [(10.0 * i, 10.0 * i, i) for i in range(1, 7)]
        batches = [(25.0, 30.0, 2), (45.0, 60.0, 4), (70.0, 80.0, 6)]
        self.assertEqual(acc.backlog_max(chunks, batches, chunk_records=100), 200)

    def test_growing_backlog(self):
        chunks = [(float(i), float(i), i) for i in range(1, 101)]
        # the engine takes only 10 offsets per batch while 25 arrive
        batches = [(25.0 * k, 25.0 * k + 1, 10 * k) for k in range(1, 5)]
        self.assertEqual(acc.backlog_max(chunks, batches, chunk_records=1), 70)


class Digest(unittest.TestCase):
    def test_order_insensitive(self):
        a = acc.result_digest(["doc_a", "doc_b"], [(1, 2), (3, 4)])
        b = acc.result_digest(["doc_b", "doc_a"], [(4, 3), (2, 1)])
        self.assertEqual(a, b)

    def test_detects_a_changed_value_row_or_column(self):
        base = acc.result_digest(["x", "y"], [(1, 2), (3, 4)])
        self.assertNotEqual(base, acc.result_digest(["x", "y"], [(1, 2), (3, 5)]))
        self.assertNotEqual(base, acc.result_digest(["x", "y"], [(1, 2)]))
        self.assertNotEqual(base, acc.result_digest(["x", "z"], [(1, 2), (3, 4)]))
        self.assertNotEqual(base, acc.result_digest(["x", "y"], [(1, 2), (3, None)]))

    def test_known_value(self):
        # the rule Corpus.digest applies on the JVM side: header of sorted
        # column names, then sorted rows, newline-joined, SHA-256
        import hashlib
        want = hashlib.sha256("a|b\n-1|7\n10|N".encode()).hexdigest()
        self.assertEqual(acc.result_digest(["b", "a"], [(None, 10), (7, -1)]), want)

    def test_non_integer_values_never_match(self):
        self.assertNotEqual(acc.result_digest(["x"], [(1.0,)]), acc.result_digest(["x"], [(1,)]))

    def test_mismatches(self):
        self.assertEqual(acc.digest_mismatches({"q1": "a", "q2": "b"}, {"q1": "a", "q2": "c"}),
                         ["q2"])
        self.assertEqual(acc.digest_mismatches({"q1": "a"}, {"q1": "a", "q2": "c"}), ["q2"])
        self.assertEqual(acc.digest_mismatches({"q1": "a"}, {"q1": "a"}), [])


class SelfTime(unittest.TestCase):
    def test_self_times_cover_the_region(self):
        spans = [
            {"layer": "bench", "start": 0.0, "end": 100.0},
            {"layer": "streaming", "start": 10.0, "end": 90.0},
            {"layer": "sink", "start": 20.0, "end": 80.0},
            {"layer": "operators", "start": 30.0, "end": 50.0},
            {"layer": "operators", "start": 40.0, "end": 70.0},  # overlaps its sibling
        ]
        got = acc.self_times(spans, 0.0, 100.0)
        self.assertAlmostEqual(sum(got.values()), 100.0)
        self.assertEqual(got, {"bench": 20.0, "streaming": 20.0, "sink": 20.0, "operators": 40.0})

    def test_equal_intervals_nest_by_layer_rank(self):
        spans = [{"layer": "operators", "start": 0.0, "end": 10.0},
                 {"layer": "streaming", "start": 0.0, "end": 10.0}]
        self.assertEqual(acc.self_times(spans, 0.0, 10.0), {"operators": 10.0})

    def test_trigger_phases_are_children_of_the_trigger(self):
        progress = [{"batch": 3, "start_ms": 100.0, "durations": {
            "triggerExecution": 50, "latestOffset": 5, "walCommit": 5, "queryPlanning": 10,
            "addBatch": 20, "commitOffsets": 5}}]
        spans = acc.trigger_spans(progress)
        self.assertEqual([s["name"] for s in spans], ["trigger 3", "latestOffset", "walCommit",
                                                       "queryPlanning", "addBatch",
                                                       "commitOffsets"])
        got = acc.self_times(spans, 100.0, 150.0)
        self.assertEqual(got, {"sources": 5.0, "streaming": 35.0, "plans": 10.0})


if __name__ == "__main__":
    unittest.main()
