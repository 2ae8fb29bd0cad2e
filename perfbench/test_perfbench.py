"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import os
import datetime
import decimal
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([7], 90), 7)


def span(i, parent, start, end, layer="l", kind="k"):
    return {"id": i, "parent": parent, "start_us": start, "end_us": end,
            "layer": layer, "kind": kind, "name": str(i)}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        root = span(1, 0, 0, 100)
        kids = [span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 50, 55)]
        self.assertEqual(stats.self_intervals(root, kids), [(0, 10), (60, 100)])

    def test_children_past_the_parent_are_clipped(self):
        root = span(1, 0, 0, 100)
        kids = [span(2, 1, -20, 10), span(3, 1, 90, 150)]
        self.assertEqual(stats.self_intervals(root, kids), [(10, 90)])

    def test_layer_self_time_unions_concurrent_spans(self):
        spans = [span(1, 0, 0, 100, "driver"),
                 span(2, 1, 10, 60, "scheduler"), span(3, 1, 20, 70, "scheduler")]
        got = stats.layer_self_times(spans)
        self.assertEqual(got["driver"], 40)
        self.assertEqual(got["scheduler"], 60)


    def test_stream_jobs_nest_in_their_microbatch(self):
        spans = [span(1, 0, 0, 100, "streaming", "drain"),
                 span(2, 1, 10, 50, "streaming", "batch"),
                 span(3, 1, 20, 30, "scheduler", "job"),
                 span(4, 1, 60, 70, "scheduler", "job")]
        nested = {s["id"]: s["parent"] for s in stats.nest_jobs_in_batches(spans)}
        self.assertEqual(nested, {1: 0, 2: 1, 3: 2, 4: 1})
        got = stats.layer_self_times(stats.nest_jobs_in_batches(spans))
        self.assertEqual(got["streaming"], (100 - 40 - 10) + (40 - 10))


class RowHashing(unittest.TestCase):
    rows = [("1", "2", "N"), ("1", "2", "N"), ("3", "-4", "5")]

    def test_order_independent(self):
        shuffled = list(reversed(self.rows))
        self.assertEqual(check.digest(self.rows), check.digest(shuffled))

    def test_counts_duplicates_and_content(self):
        self.assertNotEqual(check.digest(self.rows), check.digest(self.rows[1:]))
        self.assertNotEqual(check.digest(self.rows),
                            check.digest(self.rows[:2] + [("3", "-4", "6")]))
        self.assertTrue(check.digest(self.rows).startswith("3:"))

    def test_canonical_values(self):
        self.assertEqual(check.canon(None), "N")
        self.assertEqual(check.canon(0.7142857142857143), "714286")
        self.assertEqual(check.canon(12), "12")
        self.assertEqual(check.canon(True), "true")
        self.assertEqual(check.canon(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), "1000005")
        self.assertEqual(check.canon(decimal.Decimal("1.50")), "1.50")
        self.assertEqual(check.canon([1, None, [2.0]]), "[1,N,[2000000]]")
        self.assertEqual(check.canon({"a": "x", "b": False}), "{x,false}")


class Generators(unittest.TestCase):
    def test_stream_jitter_stays_inside_the_delay_and_keeps_user_order(self):
        import pyarrow.parquet as pq
        jitter = 60 * 60_000_000  # against about 7 minutes between events
        with tempfile.TemporaryDirectory() as d:
            gen.stream_events(d, seed=5, n_events=6000, files=6, jitter_us=jitter)
            files = sorted(os.listdir(d), key=lambda f: os.stat(os.path.join(d, f)).st_mtime)
            seen_max, last_id, behind = None, {}, 0
            for f in files:
                t = pq.read_table(os.path.join(d, f)).to_pydict()
                ts = [x.timestamp() * 1e6 for x in t["ts"]]
                if seen_max is not None:
                    self.assertGreater(min(ts), seen_max - jitter)
                    behind += sum(x < seen_max for x in ts)
                for u, e in sorted(zip(t["user_id"], t["event_id"]), key=lambda r: r[1]):
                    self.assertGreater(e, last_id.get(u, -1))
                    last_id[u] = e
                seen_max = max([seen_max or 0] + ts)
        self.assertGreater(behind, 0)  # some events do arrive out of order


class RegistryCheck(unittest.TestCase):
    def test_rows_must_equal_the_oracle_as_a_multiset(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"k": [1, 2, 2], "v": [0.5, 1.0, 1.0]}), f"{d}/t.parquet")
            sql = "SELECT v, k FROM t"
            good = [["1", "500000"], ["2", "1000000"], ["2", "1000000"]]
            self.assertEqual(check.registry_wrong(d, ["k", "v"], good, sql), [])
            self.assertTrue(check.registry_wrong(d, ["k", "v"], good[:2], sql))
            self.assertTrue(check.registry_wrong(d, ["k", "w"], good, sql))


class FailRatio(unittest.TestCase):
    def test_wrong_outputs_and_errors_count(self):
        with tempfile.TemporaryDirectory() as d:
            gen.pit(d, seed=7, batch=dict(n_events=3000, files=2),
                    stream=dict(n_events=2000, files=4, jitter_us=60_000_000))
            want = {"training": check.pit_reference(os.path.join(d, "batch", "*.parquet")),
                    "matured": check.pit_reference(os.path.join(d, "stream", "*.parquet"),
                                                   delay_ms=120_000)}
            ok = {"digests": want, "watermark_delay_ms": 120_000}
            res = {"outcomes": [ok,
                                dict(ok, digests=dict(want, matured="1:1")),
                                dict(ok, rows_dropped_late=3),
                                {"digests": {}, "error": "boom"}]}
            attempted, failed, _ = run.judge("pit", res, d)
        self.assertEqual((attempted, failed), (4, 3))
        self.assertAlmostEqual(stats.fail_ratio(attempted, failed), 3 / 4)

    def test_a_wrong_pair_fails_every_iteration_of_its_operator(self):
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(os.path.join(d, "corpus"), seed=3, n_docs=60)
            corpus = check.Corpus(os.path.join(d, "corpus"))
            ids = sorted(corpus.text)
            a, b = ids[0], ids[1]
            exact = check._jaccard(corpus.sh(a), corpus.sh(b))
            score = str(int(exact * 1e6 + 0.5))
            self.assertTrue(check.verify_pairs(
                "minhash", ["doc_a", "doc_b", "jaccard"], [[str(a), str(b), score]], corpus)
                or exact < 0.7)
            rows = {"columns": ["doc_a", "doc_b", "jaccard"], "rows": [[str(a), str(b), "999999"]]}
            digest = check.digest(rows["rows"])
            res = {"outcomes": [{"digests": {"minhash": digest}}] * 2, "rows": {"minhash": rows},
                   "oracles": {}}
            attempted, failed, _ = run.judge("neardup_registry", res, d)
        self.assertEqual((attempted, failed), (2, 2))


class FixedSamples(unittest.TestCase):
    def test_batch_times_come_from_one_drain_per_phase(self):
        def drain(ms):
            return {"progress": ['{"batchDuration": %d, "durationMs": {}}' % ms] * 7}
        res = {"outcomes": [drain(100)] * 5, "traced_outcomes": [drain(200)],
               "outcomes_after": [drain(300)] * 2}
        m = run.streaming_layer(res)
        self.assertEqual(m["streaming.batches"], 7)
        self.assertEqual(m["streaming.batch_ms_p50"], 200)


if __name__ == "__main__":
    unittest.main()
