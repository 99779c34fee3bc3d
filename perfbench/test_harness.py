"""Tests of the benchmark harness itself: python3 -m unittest perfbench/test_harness.py"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


BATCHES = tempfile.mkdtemp()


def tearDownModule():
    shutil.rmtree(BATCHES)


def streams(seed):
    return gen.dml_plan(seed, 300, "/t", "/i", BATCHES, n_writer=30, n_reader=200)


class StreamTest(unittest.TestCase):
    def test_same_seed_same_streams(self):
        self.assertEqual(streams(7), streams(7))

    def test_other_seed_other_streams(self):
        a, b = streams(7), streams(8)
        for i in range(4):
            self.assertNotEqual(a[i], b[i])

    def test_writer_mix_is_fixed_and_seed_independent(self):
        kinds = [[op["kind"] for op in streams(s)[1]] for s in (3, 4)]
        self.assertEqual(kinds[0], kinds[1])
        self.assertEqual(kinds[0][:gen.WARMUP], ["insert", "index"])
        cycle = kinds[0][gen.WARMUP:gen.WARMUP + 20]
        self.assertEqual([cycle.count(k) for k in ("insert", "merge", "update", "delete")],
                         [8, 6, 3, 3])

    def test_reader_mix(self):
        kinds = [op["kind"] for op in streams(3)[2][:100]]
        self.assertEqual(kinds.count("lookup"), 70)

    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.tables(a, 11, 0.001)
            gen.tables(b, 11, 0.001)
            for name in sorted(os.listdir(a)):
                with open(os.path.join(a, name), "rb") as fa, \
                        open(os.path.join(b, name), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), name)

    def test_replay_applies_committed_ops_only(self):
        initial = [{"doc_id": i, "text": "a", "lang": "en", "source": "s", "n_chars": 1}
                   for i in range(5)]
        writer = [
            {"kind": "delete", "keys": [0, 1]},
            {"kind": "update", "lo": 1, "hi": 3, "value": "u"},
            {"kind": "insert", "rows": [{"doc_id": 9, "text": "bb", "lang": "de",
                                         "source": "w", "n_chars": 2}]},
        ]
        model, submitted = gen.replay(initial, writer, {0, 1})
        self.assertEqual(sorted(model), [2, 3, 4])
        self.assertEqual([model[k]["source"] for k in (2, 3, 4)], ["u", "u", "s"])
        self.assertEqual(submitted, {0: 16, 1: 2 * gen.row_bytes(model[2])})


class TailRuleTest(unittest.TestCase):
    def test_percentile_leaves_ten_samples_beyond(self):
        for n, p in ((20, 50.0), (37, 70.0), (50, 80.0), (99, 80.0), (100, 90.0),
                     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)):
            self.assertEqual(stats.tail_percentile(n), p, n)
            self.assertGreaterEqual(n - stats.rank(p, n), 10)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile(19))

    def test_tail_reports_samples_and_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs, 100), (90.0, 90, 100, 10))
        # the percentile follows the planned count, not the count reached
        self.assertEqual(stats.tail(list(range(1, 151)), 100), (90.0, 135, 150, 15))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_us": a, "end_us": b}

    def test_self_time_subtracts_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 50, 90), self.span(4, 3, 60, 70)]
        self.assertEqual(stats.self_times(spans), {1: 30, 2: 30, 3: 30, 4: 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50),
                 self.span(3, 1, 30, 60)]
        self.assertEqual(stats.self_times(spans)[1], 50)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_parts_sum_to_wall(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 40),
                 self.span(3, 1, 40, 100), self.span(4, 3, 50, 80)]
        st = stats.self_times(spans)
        self.assertEqual(sum(st.values()), 100)

    def test_parts_add_up_needs_cover_and_attribution(self):
        self.assertTrue(stats.parts_add_up(4, 100, 0))
        self.assertFalse(stats.parts_add_up(6, 100, 0))
        # covered by spans, but a catalyst phase found no span
        self.assertFalse(stats.parts_add_up(0, 100, 1))


class CatalystSpanTest(unittest.TestCase):
    def test_phases_outside_their_span_are_counted(self):
        res = {"spans": [
            {"id": 1, "parent": 0, "op": 1, "name": "op.query", "start_us": 0, "end_us": 50000},
            {"id": 2, "parent": 1, "op": 1, "name": "exec", "start_us": 10000, "end_us": 40000}],
            "phases": [
                {"tag": "1|exec", "phase": "optimization", "start_us": 12000, "end_us": 15000},
                {"tag": "1|exec", "phase": "planning", "start_us": 15000, "end_us": 18000},
                {"tag": "1|exec", "phase": "planning", "start_us": 45000, "end_us": 46000}]}
        spans, unhosted = run.catalyst_spans(res)
        self.assertEqual([(s["name"], s["parent"]) for s in spans],
                         [("catalyst.optimize", 2), ("catalyst.plan", 2)])
        self.assertEqual(unhosted, {1: 1})


class OverheadTest(unittest.TestCase):
    def test_same_ops_timed_both_ways(self):
        samples = [("a", False, 100), ("a", True, 110), ("b", False, 300), ("b", True, 300)]
        overhead, keys = stats.tracing_overhead(samples)
        self.assertAlmostEqual(overhead, 10 / 400)
        self.assertEqual(keys, 2)

    def test_ops_timed_one_way_are_left_out(self):
        samples = [("a", False, 100), ("a", True, 100), ("b", True, 900)]
        self.assertEqual(stats.tracing_overhead(samples), (0.0, 1))
        self.assertEqual(stats.tracing_overhead([("b", True, 900)]), (0.0, 0))


class CheckTest(unittest.TestCase):
    def test_failing_bench_only_query_is_not_stable(self):
        # a query that failed both times has no hash, not two equal ones
        self.assertEqual(len(run.bench_only_problems({"q": [[0, None], [0, None]]})), 1)
        self.assertEqual(len(run.bench_only_problems({"q": [[3, "ab"], [3, "ac"]]})), 1)
        self.assertEqual(run.bench_only_problems({"q": [[3, "ab"], [3, "ab"]]}), [])


if __name__ == "__main__":
    unittest.main()
