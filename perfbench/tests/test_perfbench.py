"""Tests for the benchmark's own logic: the generator's expected counts
and document shapes, the final-output check, span self times and eager
executions, medians and geomeans, and failure counting. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import collections
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

PUNCT = set(gen.PUNCT)


def reference_tokens(line):
    """The reference tokenizer, written out independently of graft: drop
    ASCII punctuation, lower-case ASCII letters, split on single spaces,
    drop empty tokens."""
    out = []
    for ch in line:
        if ch in PUNCT:
            continue
        out.append(chr(ord(ch) + 32) if "A" <= ch <= "Z" else ch)
    return [t for t in "".join(out).split(" ") if t]


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_expected_counts_match_a_reference_tokenization(self):
        expected = gen.write_corpus(self.dir, seed=3, n_files=3, total_bytes=60_000,
                                    vocab_size=300)
        self.assertEqual(sorted(expected), sorted(os.listdir(self.dir)))
        for name, want in expected.items():
            with open(os.path.join(self.dir, name), encoding="utf-8", newline="\n") as fh:
                text = fh.read()
            got = collections.Counter(t for ln in text.split("\n") for t in reference_tokens(ln))
            self.assertEqual(dict(got), want, name)

    def test_corpus_holds_the_tokenizer_edge_cases(self):
        gen.write_corpus(self.dir, seed=5, n_files=2, total_bytes=200_000, vocab_size=2_000)
        text = ""
        for f in os.listdir(self.dir):
            with open(os.path.join(self.dir, f), encoding="utf-8") as fh:
                text += fh.read()
        self.assertIn("  ", text)         # double space: an empty token
        self.assertIn("\n\n", text)       # blank line
        self.assertIn("\t", text)         # tab inside a token
        self.assertTrue(any(c in text for c in "!?.,'"))
        self.assertTrue(any(w in text for w in gen.NON_ASCII))
        self.assertTrue(any(c.isupper() for c in text))

    def test_same_seed_same_corpus(self):
        a = gen.write_corpus(os.path.join(self.dir, "a"), 9, 2, 20_000, 100)
        b = gen.write_corpus(os.path.join(self.dir, "b"), 9, 2, 20_000, 100)
        c = gen.write_corpus(os.path.join(self.dir, "c"), 10, 2, 20_000, 100)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_documents_have_the_test_tables_shape(self):
        gen.write_tables(self.dir, seed=4, sf=0.01)
        texts = pq.read_table(os.path.join(self.dir, "documents.parquet")).column("text").to_pylist()
        self.assertEqual(len(texts), 500)
        dups = [t for t in texts if "dup" in t.split(" ")]
        self.assertEqual(len(dups), 25)
        self.assertTrue(all(t.endswith(" dup") for t in dups))
        plain = [t.split(" ") for t in texts if t not in dups]
        self.assertEqual(min(map(len, plain)), 10)
        self.assertEqual(max(map(len, plain)), 99)
        self.assertEqual({w for t in plain for w in t}, set(gen.DOC_WORDS))

    def test_final_output_check_accepts_and_rejects(self):
        expected = {"f.txt": {"b": 2, "a": 1, "é": 3}}
        final = os.path.join(self.dir, "final_output")
        os.makedirs(final)
        path = os.path.join(final, "f.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("(a,1)\n(b,2)\n(é,3)\n")
        self.assertEqual(checks.check_final_output(self.dir, expected), [])
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("(a,1)\n(b,3)\n(é,3)\n")
        self.assertEqual(len(checks.check_final_output(self.dir, expected)), 1)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("(b,2)\n(a,1)\n(é,3)\n")  # out of byte order
        self.assertIn("byte order", checks.check_final_output(self.dir, expected)[0])
        self.assertEqual(checks.check_final_output(self.dir, {"g.txt": {}}),
                         ["unexpected file f.txt", "missing file g.txt"])


def span(i, parent, start, end, kind="op"):
    return {"id": i, "parent": parent, "kind": kind, "start_us": start, "end_us": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(0, -1, 0, 10_000_000, "pass"),
                 span(1, 0, 1_000_000, 4_000_000),
                 span(2, 0, 3_000_000, 6_000_000),      # overlaps span 1
                 span(3, 1, 1_500_000, 2_000_000, "sql"),
                 span(4, 0, 9_000_000, 12_000_000)]     # runs past its parent
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 5 - 1)       # covered: [1,6] and [9,10]
        self.assertAlmostEqual(st[1], 3 - 0.5)
        self.assertAlmostEqual(st[2], 3)
        self.assertAlmostEqual(st[3], 0.5)
        self.assertAlmostEqual(st[4], 3)

    def test_unfinished_spans_are_skipped(self):
        self.assertEqual(metrics.self_times([span(0, -1, 5, -1)]), {})

    def test_covered(self):
        self.assertEqual(metrics.covered([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(metrics.covered([(-5, 15)], 0, 10), 10)
        self.assertEqual(metrics.covered([], 0, 10), 0)


class EagerExecutionTest(unittest.TestCase):
    def test_executions_inside_builder_calls_count_as_eager(self):
        spans = [span(0, -1, 0, 100, "pass"),
                 span(1, 0, 0, 40, "build"),       # a memo build ...
                 span(2, 1, 0, 40, "builder"),     # ... and its call
                 span(3, 2, 1, 10, "sql"),         # one loop round
                 span(4, 3, 2, 5, "sql"),          # nested under it
                 span(5, 2, 11, 20, "sql"),        # the next round
                 span(6, 0, 40, 100, "op"),
                 span(7, 6, 40, 50, "builder"),
                 span(8, 7, 41, 45, "sql"),        # a head() in a frame builder
                 span(9, 6, 50, 100, "write"),
                 span(10, 9, 51, 99, "sql")]       # the sink write: not eager
        by_id = {s["id"]: s for s in spans}
        self.assertEqual(metrics.eager_executions(spans, by_id), 4)


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10)
        self.assertAlmostEqual(metrics.geomean([2, 2, 2]), 2)
        with self.assertRaises(ValueError):
            metrics.geomean([1, 0])


class FailureCountTest(unittest.TestCase):
    def test_an_op_counts_once_however_it_fails(self):
        ops = ["a", "b", "c", "d"]
        passes = [{"ops": [{"op": "a", "ok": False}, {"op": "b", "ok": False}]},
                  {"ops": [{"op": "a", "ok": True}, {"op": "b", "ok": True}]}]
        check_ok = {"a": False, "c": False, "d": True}
        self.assertEqual(metrics.count_failures(ops, passes, check_ok),
                         (4, 3, ["a", "b", "c"]))

    def test_no_failures(self):
        self.assertEqual(metrics.count_failures(["a"], [{"ops": [{"op": "a", "ok": True}]}],
                                                {"a": True}),
                         (1, 0, []))


if __name__ == "__main__":
    unittest.main()
