"""Input generators for the benchmark.

`corpus(out_dir, seed, ...)` writes the `mr_corpus` text corpus and, while
writing it, the expected outputs of the wc, indexer and nocrash MapReduce
applications. The expectations come from the generator's own bookkeeping
(the words it chose), never from graft, so they are an independent oracle.

`fixture(out_dir)` writes the two parquet tables the `neardup_stream` queries
read, `documents` and `events`, with the column names, physical types, row
counts and value distributions of the sf0.1 test tables (TESTDATA.md). The
fixture is fixed: it does not depend on the run seed, so the expected result
digests recorded in `expected_digests.json` stay valid for every seed.

Both generators are deterministic: the same arguments give byte-identical
files (numpy's PCG64 stream and pyarrow's writer are both stable).
"""
import os

import numpy as np

# Separators between corpus words. Every one is made of non-letters, so
# graft's tokenizer (split on non-letter code points) recovers exactly the
# generated words.
SEPARATORS = [" ", " ", " ", " ", " ", ", ", ". ", "\n", "; ", " -- ", " (7) ", "! ", "'"]


def _vocabulary(rng, size):
    """`size` distinct random words. A word's length is fixed by its rank
    (2 to 9 letters, cycling), so the corpus's byte count, and with it the
    work of a run, barely depends on the seed."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    out = []
    while len(out) < size:
        n = 2 + len(out) % 8
        w = "".join(rng.choice(letters, n))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def corpus(out_dir, seed, files=200, min_tokens=3000, max_tokens=8000, vocab=3000):
    """Write `files` text files of Zipf-distributed mixed-case words.

    Returns the corpus byte count and the paths of the three expected-output
    files (sorted `key value` lines, the format `MapReduceJob.writeSortedText`
    produces).
    """
    rng = np.random.default_rng([seed, 1])
    base = _vocabulary(rng, vocab)
    # three surface forms per base word: lower, Capitalized, UPPER; the
    # tokenizer is case-sensitive, so they count as different words
    surface = []
    for w in base:
        surface += [w, w.capitalize(), w.upper()]
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = 1.0 / ranks ** 1.07
    p /= p.sum()
    case_p = np.array([0.82, 0.14, 0.04])
    seps = np.array(SEPARATORS, dtype=object)

    text_dir = os.path.join(out_dir, "corpus")
    os.makedirs(text_dir, exist_ok=True)
    counts = np.zeros(len(surface), dtype=np.int64)
    postings = [[] for _ in surface]
    meta = {"a": [], "b": [], "c": [], "d": []}
    total = 0
    for i in range(files):
        n = int(rng.integers(min_tokens, max_tokens + 1))
        ids = rng.choice(vocab, size=n, p=p) * 3 + rng.choice(3, size=n, p=case_p)
        sep = seps[rng.integers(0, len(seps), size=n)]
        words = [surface[j] for j in ids]
        body = "".join(w + s for w, s in zip(words, sep))
        name = os.path.join(text_dir, "f%04d.txt" % i)
        with open(name, "w", encoding="ascii", newline="") as f:
            f.write(body)
        total += len(body)
        uri = "file:" + os.path.abspath(name)
        np.add.at(counts, ids, 1)
        for j in np.unique(ids):
            postings[j].append(uri)
        meta["a"].append(uri)
        meta["b"].append(str(len(uri)))
        meta["c"].append(str(len(body)))
        meta["d"].append("xyzzy")

    order = sorted(range(len(surface)), key=lambda j: surface[j])
    expected = {}
    exp_dir = os.path.join(out_dir, "expected")
    os.makedirs(exp_dir, exist_ok=True)

    def write(name, lines):
        path = os.path.join(exp_dir, name + ".txt")
        with open(path, "w", encoding="ascii", newline="") as f:
            for line in lines:
                f.write(line + "\n")
        expected[name] = path

    write("wc", ("%s %d" % (surface[j], counts[j]) for j in order if counts[j]))
    write("indexer", ("%s %d %s" % (surface[j], len(postings[j]), ",".join(sorted(postings[j])))
                      for j in order if postings[j]))
    write("nocrash", ("%s %s" % (k, " ".join(sorted(v))) for k, v in sorted(meta.items())))
    return {"bytes": total, "expected": expected}


FIXTURE_SEED = 20240101
# Row counts of the repository's sf0.1 test tables (TESTDATA.md), the scale
# `graft.Bench` is graded at.
DOCS = 5000
EVENTS = 100_000
USERS = 1500
DOC_WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark line "
             "sort window order data column join small customer query stream filter group "
             "big vector").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]


def fixture(out_dir):
    """Write the `documents` and `events` tables at sf0.1 size.

    The shapes follow what the sf0.1 test tables measure: texts of 10-99
    words drawn uniformly from a 30-word vocabulary (27k distinct word
    3-grams); 5% of the documents are another document's text plus the
    word "dup", which gives ~250 near-duplicate pairs at Jaccard 0.9-1.0
    and a few exact duplicates where two copies share a source; events are
    sorted uniform timestamps over 30 days, uniform users and types, and
    exponential values.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    def i64(a):
        return pa.array(np.asarray(a, dtype=np.int64), pa.int64())

    vocab = np.array(DOC_WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in rng.integers(10, 100, DOCS)]
    for i in rng.choice(DOCS, DOCS // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, DOCS))] + " dup"
    lang_p = np.array([0.42, 0.145, 0.145, 0.145, 0.145])
    put("documents", {"doc_id": i64(range(DOCS)), "text": texts,
                      "lang": list(np.array(LANGS)[rng.choice(5, DOCS, p=lang_p)]),
                      "source": ["src%d" % (i % 20) for i in range(DOCS)],
                      "n_chars": i64([len(t) for t in texts])})

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, EVENTS))
    put("events", {"event_id": i64(range(EVENTS)),
                   "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                   "user_id": i64(rng.integers(0, USERS, EVENTS)),
                   "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, EVENTS)]),
                   "value": np.round(rng.exponential(50.0, EVENTS), 2),
                   "props": ['{"k": %d}' % k for k in rng.integers(0, 100, EVENTS)]})
