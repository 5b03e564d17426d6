"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_corpus`` writes the ``wordcount`` workload's directory of text
  files and returns the expected per-file word counts. The counts are
  recorded while the text is written, from the canonical token each
  surface form was drawn for -- graft's tokenizer is never consulted, so
  the check against them is independent of the code under test.
* ``write_tables`` writes the ten parquet tables the registry reads
  (TPC-H-style star, ``events``, ``documents``, ``embeddings``) at a
  scale factor. Schemas, row counts and value shapes follow the
  project's sf0.01 and sf0.1 test tables as measured column by column
  (see ``NOTES.md``); the values themselves are synthetic.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ASCII_UP = str.maketrans("abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
# The 32 ASCII punctuation characters; graft's tokenizer deletes every one.
PUNCT = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"
# Non-ASCII tokens pass through tokenization byte for byte (the tokenizer
# lower-cases ASCII only), so they stay their own canonical form.
NON_ASCII = ["café", "über", "naïve", "東京", "Ärger", "smørbrød", "Éclair", "niño"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
DIGITS = np.array(list("0123456789"))


def _vocabulary(rng, size):
    """``size`` distinct canonical tokens: mostly ASCII letters, some with
    digits, a few non-ASCII and a few holding a tab (tabs are not
    delimiters, so ``a\\tb`` is one token)."""
    words, seen = [], set()

    def add(w):
        if w not in seen:
            seen.add(w)
            words.append(w)

    for w in NON_ASCII:
        add(w)
    while len(words) < size:
        n = int(rng.integers(2, 11))
        w = "".join(rng.choice(LETTERS, n))
        r = rng.random()
        if r < 0.08:
            w += "".join(rng.choice(DIGITS, int(rng.integers(1, 3))))
        elif r < 0.09:
            w += "\t" + "".join(rng.choice(LETTERS, 3))
        add(w)
    return words[:size]


def _surfaces(rng, canon):
    """Four surface forms of one canonical token, each tokenizing back to
    it: as is, capitalized, all caps (ASCII letters only) and with one
    punctuation character inserted (``don't`` -> ``dont``)."""
    cap = canon[0].translate(ASCII_UP) + canon[1:]
    at = int(rng.integers(0, len(canon) + 1))
    p = PUNCT[int(rng.integers(0, len(PUNCT)))]
    return [canon, cap, canon.translate(ASCII_UP), canon[:at] + p + canon[at:]]


SURFACE_P = np.array([0.86, 0.07, 0.02, 0.05])
# Separator after a token: a space, a double space (an empty token the
# tokenizer drops), a line end, a blank line, or a line of spaces.
SEPS = np.array([" ", "  ", "\n", "\n\n", "\n \n"], dtype=object)
SEP_P = np.array([0.885, 0.015, 0.085, 0.01, 0.005])


def write_corpus(out_dir, seed, n_files, total_bytes, vocab_size, zipf_s=1.1):
    """Write ``n_files`` text files of about ``total_bytes`` in all and
    return ``{file name: {token: count}}`` for them."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, vocab_size)
    surf = np.array([s for w in vocab for s in _surfaces(rng, w)], dtype=object)
    weights = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    cdf = np.cumsum(weights / weights.sum())
    order = rng.permutation(vocab_size)  # rank -> token id: ranks are not sorted words
    mean_bytes = float(np.dot(cdf - np.concatenate(([0.0], cdf[:-1])),
                              [len(vocab[i].encode()) for i in order])) + 1.3
    os.makedirs(out_dir, exist_ok=True)
    expected = {}
    for f in range(n_files):
        # file sizes vary 0.5x..1.5x around the mean, so per-file groups differ
        want = total_bytes / n_files * (0.5 + rng.random())
        n = max(1, int(want / mean_bytes))
        ids = order[np.minimum(np.searchsorted(cdf, rng.random(n)), vocab_size - 1)]
        variant = rng.choice(4, n, p=SURFACE_P)
        seps = rng.choice(len(SEPS), n, p=SEP_P)
        seps[-1] = 2  # every file ends with a newline
        parts = np.empty(2 * n, dtype=object)
        parts[0::2] = surf[ids * 4 + variant]
        parts[1::2] = SEPS[seps]
        name = f"part-{f:04d}.txt"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8", newline="\n") as fh:
            fh.write("".join(parts))
        counts = np.bincount(ids, minlength=vocab_size)
        expected[name] = {vocab[i]: int(counts[i]) for i in np.flatnonzero(counts)}
    return expected


# ---- registry tables -------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _us(y, m, d):
    return np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def table_sizes(sf):
    """Row counts at scale factor ``sf``: the test tables' ratios, with
    their floor of 500 rows for ``documents`` and ``embeddings``."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": int(15_000 * sf), "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir, seed, sf):
    """Write the ten registry tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 2])
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), i32),
                               "r_name": REGIONS})
    _write(out_dir, "nation", {"n_nationkey": pa.array(range(25), i32),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": money(-999.99, 9999.99, s)})
    p = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)})
    o = n["orders"]
    day0 = _us(1995, 1, 1)
    odays = rng.integers(0, 2404, o)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": money(1000, 500_000, o),
        "o_orderdate": pa.array(day0 + odays.astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    lok = rng.integers(0, o, li)
    qty = rng.integers(1, 51, li).astype(float)
    ship = odays[lok] + rng.integers(1, 122, li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": pa.array(day0 + ship.astype("timedelta64[D]"), pa.timestamp("us"))})
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(_us(2024, 1, 1) + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    _write_documents(out_dir, rng, n["documents"])
    _write_embeddings(out_dir, rng, n["embeddings"])


def _write_documents(out_dir, rng, d):
    """Documents of 10 to 99 words drawn uniformly from a 30-word
    vocabulary. One in twenty, in random order, is then replaced by a copy
    of another document with `` dup`` appended, so the dedup family has
    near-duplicate pairs (and a few chains) to find."""
    words = np.array(DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
             for _ in range(d)]
    for i in rng.choice(d, d // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _write_embeddings(out_dir, rng, m, dim=64, labels=10):
    """Unit vectors in uniformly random directions, each with a random
    label: as in the test tables, the label is not clustered in space."""
    lab = rng.integers(0, labels, m)
    v = rng.normal(size=(m, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})
