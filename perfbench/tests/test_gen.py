"""Generators and expected answers: determinism per seed, digest
canonicalization, and the expected answers' own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


class Determinism(unittest.TestCase):
    def test_events_per_seed(self):
        a, b, c = (gen.events(s, 2000, 50) for s in (1, 1, 2))
        for x, y in zip(a, b):
            np.testing.assert_array_equal(x, y)
        self.assertFalse(np.array_equal(a[3], c[3]))

    def test_op_streams_per_seed(self):
        self.assertEqual(gen.tsagg_rounds(7, 3), gen.tsagg_rounds(7, 3))
        self.assertNotEqual(gen.tsagg_rounds(7, 3), gen.tsagg_rounds(8, 3))
        self.assertEqual(gen.registry_rounds(gen.CURATION, 7, 3),
                         gen.registry_rounds(gen.CURATION, 7, 3))
        self.assertNotEqual(gen.registry_rounds(gen.CURATION, 7, 3),
                            gen.registry_rounds(gen.CURATION, 8, 3))

    def test_corpus_bytes_per_variant(self):
        with tempfile.TemporaryDirectory() as d:
            paths = [os.path.join(d, f"{i}.parquet") for i in range(3)]
            for p, v in zip(paths, (0, 0, 1)):
                gen.write_corpus(p, v, docs=200)
            t = [pq.read_table(p) for p in paths]
            self.assertTrue(t[0].equals(t[1]))
            self.assertFalse(t[0].column("text").equals(t[2].column("text")))
            self.assertEqual(t[0].num_rows, 200)

    def test_every_round_has_the_same_mix(self):
        ops = gen.tsagg_rounds(3, 4)
        for r in range(4):
            rnd = [o for o in ops if o["round"] == r]
            reads = [o for o in rnd if o["kind"] == "read"]
            self.assertEqual(len(rnd), 13)
            self.assertEqual(sorted(o["agg"] for o in reads), sorted(gen.AGGS * 2))
            self.assertEqual(sorted(o["form"] for o in reads), sorted(gen.FORMS * 4))
            ingest = [i for i, o in enumerate(rnd) if o["kind"] == "ingest"]
            self.assertEqual(len(ingest), 1)
            for i, o in enumerate(rnd):
                if o["kind"] == "read":
                    self.assertEqual(o["fresh"], i > ingest[0])
        self.assertEqual([o["id"] for o in ops], list(range(len(ops))))


class Canonical(unittest.TestCase):
    def test_text_format(self):
        want = hashlib.md5(b"60000 7\n120000 -3\n").hexdigest()
        self.assertEqual(gen.canonical_digest([(120000, -3), (60000, 7)]), want)

    def test_doubles_by_their_bits(self):
        bits = 4607182418800017408  # 1.0
        self.assertEqual(gen.canonical_digest([(0, 1.0)]),
                         hashlib.md5(f"0 {bits}\n".encode()).hexdigest())
        self.assertNotEqual(gen.canonical_digest([(0, 0.0)]), gen.canonical_digest([(0, -0.0)]))
        self.assertNotEqual(gen.canonical_digest([(0, 1.0)]), gen.canonical_digest([(0, 1)]))
        self.assertNotEqual(gen.canonical_digest([(0, 0.1 + 0.2)]),
                            gen.canonical_digest([(0, 0.3)]))

    def test_integers_exact_beyond_double_precision(self):
        big = 2 ** 53 + 1
        self.assertNotEqual(gen.canonical_digest([(0, big)]), gen.canonical_digest([(0, big - 1)]))
        self.assertEqual(gen.canonical_digest([(0, np.int64(big))]),
                         gen.canonical_digest([(0, big)]))

    def test_order_independent_and_summary_rows(self):
        rows = [(2, 5, 1, 9, 3, 3.0), (1, 4, 4, 4, 1, 4.0)]
        self.assertEqual(gen.canonical_digest(rows), gen.canonical_digest(rows[::-1]))


class ExpectedAnswers(unittest.TestCase):
    def setUp(self):
        self.ev = gen.events(5, 5000, 40)

    def op(self, agg, mode="cell", days=3, iv=3600):
        t0 = gen.T0 + 2 * gen.DAY
        return dict(agg=agg, mode=mode, t0=t0, t1=t0 + days * gen.DAY, interval=iv)

    def test_in_range_counts_the_scanned_cells(self):
        ts = self.ev[0]
        op = self.op("count")
        want = int(((ts >= op["t0"]) & (ts < op["t1"])).sum())
        self.assertEqual(gen.expected_read(self.ev, op)[1], want)

    def test_count_buckets_by_plain_division(self):
        ts = self.ev[0]
        op = self.op("count", iv=28800)
        seg = ts[(ts >= op["t0"]) & (ts < op["t1"])]
        b = op["t0"] + (seg - op["t0"]) // 28800000 * 28800000
        keys, counts = np.unique(b, return_counts=True)
        self.assertEqual(gen.expected_read(self.ev, op)[0],
                         gen.canonical_digest(list(zip(keys.tolist(), counts.tolist()))))

    def test_key_mode_adds_the_bucket_at_the_end(self):
        op = self.op("count", mode="key", days=1, iv=3600)
        self.assertEqual(gen.scan_end(op), op["t1"] + 3600_000)

    def test_merge_keeps_every_event_in_time_order(self):
        b = gen.events(6, 3000, 40)
        m = gen.merge_events(self.ev, b)
        self.assertEqual(len(m[0]), 8000)
        self.assertTrue(np.all(np.diff(m[0]) >= 0))
        self.assertEqual(int(m[3].sum()), int(self.ev[3].sum()) + int(b[3].sum()))


if __name__ == "__main__":
    unittest.main()
