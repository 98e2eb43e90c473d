"""Tests of the benchmark's own parts: generators, checkers, percentile
helper, span arithmetic and process handling. No JVM is started.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import sys
import tempfile
import threading
import unittest

sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402
import jvm  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


def _dirs_equal(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class GeneratorTest(unittest.TestCase):
    def test_backlog_is_byte_identical_for_a_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            exp_a, size_a = gen.write_backlog(a, 7, 400, 3)
            exp_b, size_b = gen.write_backlog(b, 7, 400, 3)
            gen.write_backlog(c, 8, 400, 3)
            self.assertTrue(_dirs_equal(a, b))
            self.assertFalse(_dirs_equal(a, c))
            self.assertEqual((exp_a, size_a), (exp_b, size_b))

    def test_live_schedule_is_byte_identical_for_a_seed(self):
        a, ea = gen.live_records(5, 300, [4, 5], 400, "main")
        b, eb = gen.live_records(5, 300, [4, 5], 400, "main")
        c, _ = gen.live_records(6, 300, [4, 5], 400, "main")
        w, ew = gen.live_records(5, 300, [4, 5], 400, "warm")
        self.assertEqual(a, b)
        self.assertEqual(ea, eb)
        self.assertNotEqual(a, c)
        self.assertNotEqual(a, w)
        self.assertEqual([(d, s) for d, s, _ in a[:3]], [(0.0, 4), (0.0025, 5), (0.005, 4)])
        # warm-up records precede measured ones in id and per-shard order
        self.assertLess(max(ew), min(ea))
        self.assertLess(max(v[1] for v in ew.values()), min(v[1] for v in ea.values()))

    def test_corpus_is_identical_for_a_seed(self):
        self.assertEqual(gen.corpus(3, 300), gen.corpus(3, 300))
        self.assertNotEqual(gen.corpus(3, 300)[0], gen.corpus(4, 300)[0])
        self.assertNotEqual(gen.corpus(3, 300)[0], gen.corpus(3, 300, part=1)[0])
        with tempfile.TemporaryDirectory() as t:
            rows = gen.corpus(3, 300)[0]
            gen.write_corpus_parquet(os.path.join(t, "a.parquet"), rows)
            gen.write_corpus_parquet(os.path.join(t, "b.parquet"), rows)
            self.assertTrue(filecmp.cmp(os.path.join(t, "a.parquet"),
                                        os.path.join(t, "b.parquet"), shallow=False))

    def test_documents_match_their_expected_line(self):
        """The generator's own expectation agrees with the JSON it wrote."""
        with tempfile.TemporaryDirectory() as t:
            exp, _ = gen.write_backlog(t, 1, 200, 2)
            seen = 0
            for s in range(2):
                with open(os.path.join(t, gen.shard_name(s))) as f:
                    for seq, line in enumerate(f):
                        doc = json.loads(json.loads(line)["data"])
                        self.assertEqual(json.loads(line)["sequenceNumber"], "%d%012d" % (s + 1, seq))
                        if doc["k"] >= 50:
                            top = max(doc["items"], key=lambda i: i["score"])["name"]
                            want = {"id": doc["id"], "t": doc["t"], "src": doc["meta"]["src"], "top": top}
                            self.assertEqual(exp[doc["id"]], (s, seq, want))
                            seen += 1
                        else:
                            self.assertNotIn(doc["id"], exp)
            self.assertEqual(seen, len(exp))
            self.assertTrue(60 < seen < 140)  # the filter gates about half

    def test_appender_writes_whole_lines_in_schedule_order(self):
        recs, _ = gen.live_records(2, 200, [0, 1, 2], 20000, "main")
        with tempfile.TemporaryDirectory() as t:
            for s in range(3):
                open(os.path.join(t, gen.shard_name(s)), "w").close()
            start = threading.Event()
            app = gen.Appender(t, [(recs, start, None)])
            app.start()
            start.set()
            self.assertTrue(app.done[0].wait(30))
            app.join(10)
            for s in range(3):
                with open(os.path.join(t, gen.shard_name(s)), "rb") as f:
                    self.assertEqual(f.read(), b"".join(l for _, sh, l in recs if sh == s))
            self.assertEqual(app.written[0], 200)
            self.assertEqual(len(app.late_s[0]), 200)


class StreamCheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.expected, _ = gen.write_backlog(self.tmp.name, 3, 60, 2)
        # a correct output: per-shard order kept, shards interleaved
        self.good = [json.dumps(line) for _, (_, _, line) in sorted(
            self.expected.items(), key=lambda kv: (kv[1][1], kv[1][0]))]

    def tearDown(self):
        self.tmp.cleanup()

    def _failed(self, lines):
        return check.check_stream(self.expected, lines)

    def test_correct_output_passes(self):
        attempted, failed, _ = self._failed(self.good)
        self.assertEqual((attempted, failed), (len(self.expected), 0))

    def test_lines_compare_as_parsed_json(self):
        relaid = []
        for line in self.good:
            obj = json.loads(line)
            relaid.append(json.dumps(dict(reversed(list(obj.items())), t=float(obj["t"]))))
        self.assertEqual(self._failed(relaid)[1], 0)

    def test_flags_dropped_duplicated_reordered_altered_and_extra(self):
        lines = self.good
        same_shard = [i for i, l in enumerate(lines)
                      if self.expected[json.loads(l)["id"]][0] == 0][:2]
        reordered = list(lines)
        reordered[same_shard[0]], reordered[same_shard[1]] = lines[same_shard[1]], lines[same_shard[0]]
        altered = json.loads(lines[3])
        altered["top"] = "item-xxxxx"
        cases = {
            "missing": lines[1:],
            "duplicate": lines + [lines[0]],
            "out_of_order": reordered,
            "wrong": lines[:3] + [json.dumps(altered)] + lines[4:],
            "extra": lines + ['{"id": -5}', "not json"],
        }
        for kind, out in cases.items():
            _, failed, detail = self._failed(out)
            self.assertGreater(detail[kind], 0, kind)
            self.assertEqual(failed, sum(detail.values()))
            self.assertGreater(failed, 0, kind)


class CorpusCheckerTest(unittest.TestCase):
    def setUp(self):
        self.rows, self.family_of = gen.corpus(9, 400)
        self.pairs = check.expected_pairs(self.rows, self.family_of)
        self.clusters = check.expected_clusters(self.pairs)
        self.got_pairs = [[a, b, j] for (a, b), j in sorted(self.pairs.items())]
        self.got_clusters = sorted([d, c] for d, c in self.clusters.items())

    def test_planted_families_give_pairs_on_both_sides_of_tau(self):
        fams = {}
        for d, f in self.family_of.items():
            fams.setdefault(f, []).append(d)
        sh = dict((d, check.shingles(t)) for d, t in self.rows)
        below = sum(1 for ids in fams.values() for i, a in enumerate(ids) for b in ids[i + 1:]
                    if check.jaccard(sh[a], sh[b]) < 0.5)
        self.assertGreater(len(self.pairs), 5)
        self.assertGreater(below, 5)
        for (a, b) in self.pairs:
            self.assertEqual(self.family_of[a], self.family_of[b])

    def test_word_trigrams(self):
        self.assertEqual(check.shingles("a b c d"), {"a b c", "b c d"})
        self.assertEqual(check.shingles("a b"), {"a b"})
        self.assertEqual(check.jaccard({1, 2}, {2, 3}), 1 / 3)

    def test_components_are_labelled_by_their_smallest_id(self):
        self.assertEqual(check.expected_clusters({(5, 9): 1, (2, 9): 1, (7, 8): 1}),
                         {2: 2, 5: 2, 9: 2, 7: 7, 8: 7})

    def test_correct_output_passes(self):
        attempted, failed, _ = check.check_corpus(self.pairs, self.clusters,
                                                  self.got_pairs, self.got_clusters)
        self.assertEqual(failed, 0)
        self.assertEqual(attempted, len(self.pairs) + len(self.clusters))

    def test_flags_dropped_duplicated_crossing_and_altered(self):
        a = next(d for d, f in self.family_of.items() if f >= 0)
        b = next(d for d, f in self.family_of.items() if f != self.family_of[a])
        gp, gc = self.got_pairs, self.got_clusters
        cases = [
            ("missing", gp[1:], gc),
            ("duplicate", gp + [gp[0]], gc),
            ("extra", gp + [[min(a, b), max(a, b), 0.9]], gc),
            ("wrong", [gp[0][:2] + [gp[0][2] - 0.01]] + gp[1:], gc),
            ("missing", gp, gc[1:]),
            ("wrong", gp, [[gc[0][0], gc[0][1] + 1]] + gc[1:]),
        ]
        for kind, p, c in cases:
            _, failed, detail = check.check_corpus(self.pairs, self.clusters, p, c)
            self.assertGreater(detail[kind], 0, kind)
            self.assertEqual(failed, sum(detail.values()))


class PercentileTest(unittest.TestCase):
    def test_refuses_fewer_than_ten_samples_beyond(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(999)), 99)
        self.assertEqual(stats.percentile(list(range(1000)), 99), 989)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(19)), 50)
        self.assertEqual(stats.percentile(list(range(20, 0, -1)), 50), 10)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"name": "b", "layer": "engine", "start": 0, "end": 1000, "parent": None},
            {"name": "lo", "layer": "sources", "start": 0, "end": 100, "parent": "b"},
            {"name": "add", "layer": "sinks", "start": 200, "end": 900, "parent": "b"},
            {"name": "j1", "layer": "spark", "start": 300, "end": 500, "parent": "add"},
            {"name": "j2", "layer": "spark", "start": 400, "end": 950, "parent": "add"},
        ]
        got = trace.self_time_s(spans)
        want = {"engine": 0.2, "sources": 0.1, "sinks": 0.1, "ext": 0.0, "spark": 0.75}
        self.assertEqual(set(got), set(want))
        for layer, s in want.items():
            self.assertAlmostEqual(got[layer], s, msg=layer)

    def test_overhead_is_listener_time_over_wall_time(self):
        events = [{"ev": "job_end", "job": 0, "t": 5},
                  {"ev": "overhead", "listener_ns": 30_000_000, "wall_ms": 6000}]
        self.assertAlmostEqual(trace.overhead_frac([events]), 0.005)
        with self.assertRaises(ValueError):
            trace.overhead_frac([events[:1]])


class ChildTest(unittest.TestCase):
    def test_peak_memory_and_error_outlive_the_process(self):
        with tempfile.TemporaryDirectory() as t:
            code = ("import sys, time; b = bytearray(64 << 20); time.sleep(0.6); "
                    "print('out'); sys.stderr.write('java.io.IOException: boom\\n')")
            c = jvm.Child([sys.executable, "-c", code], dict(os.environ), t,
                          os.path.join(t, "c.log"))
            self.assertEqual(c.wait(30), 0)
            self.assertFalse(c.alive())
            self.assertGreater(c.peak_rss_mb(), 64)
            self.assertEqual([l for _, l in c.lines], [b"out"])
            self.assertEqual(c.first_error(), "java.io.IOException: boom")
            jvm.stop_all()


if __name__ == "__main__":
    unittest.main()
