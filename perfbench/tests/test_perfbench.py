"""Tests of the benchmark itself: corpus determinism, the output checks
rejecting corrupted outputs, and the tail-percentile rule.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen_corpus  # noqa: E402
import run  # noqa: E402


def _tree(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".txt"):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = fh.read()
    return out


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ta = gen_corpus.generate(a, 7)
            tb = gen_corpus.generate(b, 7)
            self.assertEqual(ta, tb)
            self.assertEqual(_tree(a), _tree(b))
            self.assertEqual(gen_corpus.disk_digest(a), ta["digest"])

    def test_other_seed_other_bytes_same_size(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ta = gen_corpus.generate(a, 7)
            tb = gen_corpus.generate(b, 8)
            self.assertNotEqual(ta["digest"], tb["digest"])
            self.assertEqual(ta["etl"]["tokens"], tb["etl"]["tokens"])
            self.assertEqual(ta["etl"]["files"], tb["etl"]["files"])

    def test_corpus_has_its_traits(self):
        with tempfile.TemporaryDirectory() as a:
            truth = gen_corpus.generate(a, 3)
            text = b"".join(_tree(os.path.join(a, "etl")).values()).decode("utf-8")
            self.assertIn(gen_corpus.BOM, text)
            self.assertTrue(any(c in text for c in gen_corpus._AR_DIAC))
            self.assertGreater(truth["etl"]["truncated_rows"], 0)
            self.assertEqual(len(truth["dedup"]["twin_pairs"]), gen_corpus.SPEC["dedup"]["twins"])

    def test_cache_rejects_changed_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            root = os.path.join(d, "c")
            truth = gen_corpus.ensure(root, 5)
            victim = sorted(_tree(root))[0]
            with open(os.path.join(root, victim), "ab") as f:
                f.write(b"x")
            self.assertNotEqual(gen_corpus.disk_digest(root), truth["digest"])
            self.assertEqual(gen_corpus.ensure(root, 5)["digest"], truth["digest"])
            self.assertEqual(gen_corpus.disk_digest(root), truth["digest"])


def _stats(rows):
    cols = ["file_path", "word", "word_len", "word_truncated", "words_count"]
    return pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})


LONG = "x" * 300


class InvariantTest(unittest.TestCase):
    # two files: a.txt = "the The cat LONG" (4 tokens), b.txt = "cat" (1)
    ROWS = [
        ("a.txt", "the", 3, False, 4),
        ("a.txt", "cat", 3, False, 4),
        ("a.txt", LONG[:254], 300, True, 4),
        ("b.txt", "cat", 3, False, 1),
    ]
    TRUTH = {"files": 2, "tokens": 5, "truncated_rows": 1}

    def broken(self, rows):
        return checks.wordstats_invariants(_stats(rows), self.TRUTH)[0]

    def test_valid_output_passes(self):
        self.assertEqual(self.broken(self.ROWS), [])

    def test_duplicate_word_file_rejected(self):
        self.assertTrue(self.broken(self.ROWS + [("a.txt", "cat", 3, False, 4)]))

    def test_missing_file_rejected(self):
        self.assertTrue(self.broken(self.ROWS[:3]))

    def test_wrong_token_total_rejected(self):
        rows = [r if r[0] != "b.txt" else r[:4] + (2,) for r in self.ROWS]
        self.assertTrue(self.broken(rows))

    def test_truncation_flag_mismatch_rejected(self):
        rows = [r if r[1] != "cat" else r[:3] + (True,) + r[4:] for r in self.ROWS]
        self.assertTrue(self.broken(rows))
        rows = [r if not r[3] else r[:3] + (False,) + r[4:] for r in self.ROWS]
        self.assertTrue(self.broken(rows))

    def test_wrong_catalog_hash_rejected(self):
        certified = {"q1": {"hash": "ab"}}
        self.assertTrue(checks.check_catalog([{"name": "q1", "hash": "ab"}], certified)[0]["ok"])
        self.assertFalse(checks.check_catalog([{"name": "q1", "hash": "cd"}], certified)[0]["ok"])

    def test_pair_recall(self):
        pairs = pa.table({"doc_a": [1, 5], "doc_b": [2, 9]})
        self.assertEqual(checks.pair_recall(pairs, [[2, 1], [5, 9]]), 1.0)
        self.assertEqual(checks.pair_recall(pairs, [[1, 2], [3, 4]]), 0.5)


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        # 30 samples: p66 is the highest whole percentile with >= 10 beyond
        self.assertEqual(run.tail(list(range(1, 31))), (66, 20))
        # 100 samples: p90, nearest rank 90, ten samples above it
        self.assertEqual(run.tail(list(range(100, 0, -1))), (90, 90))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (100, 3.0))
        self.assertEqual(run.tail(list(range(15))), (100, 14))


if __name__ == "__main__":
    unittest.main()
