"""Tests of the benchmark's input generators.

Run from the root of a checkout: python3 perfbench/test_gen.py
"""
import collections
import hashlib
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

SMALL = dict(files=6, min_tokens=200, max_tokens=400, vocab=50)


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def read_lines(path):
    with open(path, encoding="ascii") as f:
        return f.read().splitlines()


class CorpusTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(dir=HERE)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def again(self, seed):
        shutil.rmtree(self.dir)
        gen.corpus(self.dir, seed, **SMALL)
        return tree_digest(self.dir)

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.again(7), self.again(7))

    def test_other_seed_gives_other_corpus(self):
        self.assertNotEqual(self.again(7), self.again(8))

    def test_expectations_match_an_independent_tokenization(self):
        info = gen.corpus(self.dir, 3, **SMALL)
        counts = collections.Counter()
        postings = collections.defaultdict(set)
        meta = collections.defaultdict(list)
        text_dir = os.path.join(self.dir, "corpus")
        for name in sorted(os.listdir(text_dir)):
            path = os.path.join(text_dir, name)
            with open(path, encoding="ascii", newline="") as f:
                body = f.read()
            uri = "file:" + os.path.abspath(path)
            words = re.findall(r"[A-Za-z]+", body)
            counts.update(words)
            for w in set(words):
                postings[w].add(uri)
            meta["a"].append(uri)
            meta["b"].append(str(len(uri)))
            meta["c"].append(str(len(body)))
            meta["d"].append("xyzzy")
        self.assertEqual(read_lines(info["expected"]["wc"]),
                         ["%s %d" % (w, counts[w]) for w in sorted(counts)])
        self.assertEqual(read_lines(info["expected"]["indexer"]),
                         ["%s %d %s" % (w, len(postings[w]), ",".join(sorted(postings[w])))
                          for w in sorted(postings)])
        self.assertEqual(read_lines(info["expected"]["nocrash"]),
                         ["%s %s" % (k, " ".join(sorted(v))) for k, v in sorted(meta.items())])
        self.assertEqual(info["bytes"], sum(int(c) for c in meta["c"]))
        # mixed case: some word occurs in more than one surface form
        self.assertTrue(any(w.lower() != w for w in counts))


class FixtureTest(unittest.TestCase):
    def test_fixture_is_byte_identical(self):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            gen.fixture(d)
            first = tree_digest(d)
            shutil.rmtree(d)
            gen.fixture(d)
            self.assertEqual(first, tree_digest(d))

    def test_fixture_has_the_sf01_shape(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            gen.fixture(d)
            self.assertEqual(sorted(os.listdir(d)), ["documents.parquet", "events.parquet"])
            docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
            events = pq.read_table(os.path.join(d, "events.parquet"))
        texts = docs["text"]
        self.assertEqual(len(texts), 5000)
        self.assertEqual(events.num_rows, 100_000)
        copies = [t for t in texts if t.endswith(" dup")]
        self.assertEqual(len(copies), 250)
        base = [t.split() for t in texts if not t.endswith(" dup")]
        self.assertEqual(min(map(len, base)), 10)
        self.assertEqual(max(map(len, base)), 99)
        self.assertEqual({w for ws in base for w in ws}, set(gen.DOC_WORDS))
        self.assertEqual(docs["n_chars"], [len(t) for t in texts])


if __name__ == "__main__":
    unittest.main()
