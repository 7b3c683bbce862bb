"""Seeded corpus generator for the benchmark workloads.

One seed gives one byte-identical corpus. The generator records its own
ground truth while it writes (files, token totals, expected word-stats
rows, planted near-duplicate twins) and a SHA-256 digest over every byte
it wrote, so a cached corpus can be re-verified against its seed.

Layout under <root>:
  etl/        text corpus for etl_wordstats (nested dirs, BOM files,
              French/English/Arabic prose, tokens over 255 chars)
  dedup/      one text file per doc for dedup_corpus, with planted twins
  ingest/tranche_<k>/text/   text files of tranche k (ingest_tranches)
  ingest/tranche_<k>.parquet (doc_id, text) rows of tranche k
  truth.json  ground truth + digest

Tokens are separated only by ASCII spaces and newlines, and no token
holds a character that Java's or Python's whitespace classes match, so
"token" means the same thing to the generator and to the engine.
"""
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. Fixed across seeds, so every seed costs the same.
SPEC = {
    "etl": {"files": 48, "tokens_per_file": 18000},
    "dedup": {"docs": 400, "tokens_per_doc": 400, "twins": 24},
    "ingest": {"tranches": 3, "docs_per_tranche": 30, "tokens_per_doc": 300,
               "twins_within": 2, "twins_across": 3},
}
VOCAB_SIZE = 3000
ZIPF_S = 1.07
LONG_TOKEN_EVERY = 2000  # about one >255-char token per this many tokens
CAPITALISE = 0.02  # share of tokens seen capitalised (same word to the dedup)
BOM = "\ufeff"

_EN = "etaoinshrdlcumwfgypbvkjxqz"
_FR = "eaisnrtoluédcmpvqfbghjàxèyêzçôâîûùëïü"
_AR = "ابتثجحخدذرزسشصضطظعغفقكلمنهوي"
# the eight diacritic marks the engine strips (fathatan .. sukun)
_AR_DIAC = "".join(chr(c) for c in range(0x064B, 0x0653))


def _word(rng, alphabet, length):
    return "".join(rng.choice(alphabet) for _ in range(length))


def _vocab(rng):
    """A Zipf-ranked multilingual vocabulary: English, French with
    accents, Arabic with diacritics. Each rank's language, length and
    diacritic pattern come from a fixed stream, and only its letters
    from the seed, so every seed yields the same token lengths and
    nearly the same corpus size."""
    shape = random.Random(0)
    words, seen = [], set()
    while len(words) < VOCAB_SIZE:
        lang = shape.random()
        if lang < 0.5:
            w = _word(rng, _EN, shape.randint(1, 9))
        elif lang < 0.8:
            w = _word(rng, _FR, shape.randint(2, 10))
        else:
            base = _word(rng, _AR, shape.randint(2, 7))
            w = "".join(c + (rng.choice(_AR_DIAC) if shape.random() < 0.4 else "")
                        for c in base)
        if w.lower() not in seen:
            seen.add(w.lower())
            words.append(w)
    cum, total = [], 0.0
    for rank in range(1, VOCAB_SIZE + 1):
        total += 1.0 / rank ** ZIPF_S
        cum.append(total)
    return words, cum


class _Writer:
    """Writes files under a root, hashing every path and byte in order."""

    def __init__(self, root):
        self.root = root
        self.sha = hashlib.sha256()

    def write(self, rel, data):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        self.sha.update(rel.encode() + b"\0" + data)


def _tokens(rng, vocab, cum, n, long_tokens):
    """n tokens drawn from the Zipf vocabulary; now and then a token over
    255 chars. Long tokens are unique in their first 254 chars (the
    engine's truncation width), so truncation never merges two words."""
    out = rng.choices(vocab, cum_weights=cum, k=n)
    for i in range(n):
        r = rng.random()
        if r < CAPITALISE:
            out[i] = out[i][0].upper() + out[i][1:]
        elif r < CAPITALISE + 1.0 / LONG_TOKEN_EVERY:
            head = "x%08d" % len(long_tokens)
            out[i] = head + _word(rng, _EN, rng.randint(250, 400))
            long_tokens.append(out[i])
    return out


def _lines(tokens, rng):
    """Join tokens into lines of 5-20 tokens."""
    lines, i = [], 0
    while i < len(tokens):
        k = rng.randint(5, 20)
        lines.append(" ".join(tokens[i:i + k]))
        i += k
    return "\n".join(lines) + "\n"


def _stats_truth(tokens):
    """Expected word-stats rows for one file: distinct lower-cased
    tokens, and how many of them are over 255 chars."""
    norms = {t.lower() for t in tokens}
    return len(norms), sum(1 for w in norms if len(w) > 255)


def _twin(rng, tokens):
    """A near-duplicate: the same tokens with a few substituted."""
    t = list(tokens)
    for _ in range(max(1, len(t) // 150)):
        t[rng.randrange(len(t))] = "tw%06d" % rng.randrange(10 ** 6)
    return t


def _gen_etl(rng, vocab, cum, w):
    spec = SPEC["etl"]
    files = tokens = rows = truncated = 0
    long_tokens = []
    for i in range(spec["files"]):
        toks = _tokens(rng, vocab, cum, spec["tokens_per_file"], long_tokens)
        text = _lines(toks, rng)
        if i % 7 == 0:
            text = BOM + text
        sub = "books/part%d/shelf%d" % (i % 3, i % 5)
        w.write("etl/%s/book_%03d.txt" % (sub, i), text.encode("utf-8"))
        r, t = _stats_truth(toks)
        files += 1
        tokens += len(toks)
        rows += r
        truncated += t
    return {"files": files, "tokens": tokens, "rows": rows,
            "truncated_rows": truncated, "long_tokens": len(long_tokens)}


def _gen_dedup(rng, vocab, cum, w):
    spec = SPEC["dedup"]
    n, twins = spec["docs"], spec["twins"]
    docs = [_tokens(rng, vocab, cum, spec["tokens_per_doc"], [])
            for _ in range(n - twins)]
    pairs = []
    for j in range(twins):
        src = rng.randrange(n - twins)
        docs.append(_twin(rng, docs[src]))
        pairs.append([src, n - twins + j])
    for i, toks in enumerate(docs):
        w.write("dedup/d%02d/doc_%06d.txt" % (i % 10, i),
                _lines(toks, rng).encode("utf-8"))
    return {"docs": n, "twin_pairs": sorted(pairs),
            "tokens": sum(len(d) for d in docs)}


def _gen_ingest(rng, vocab, cum, w, root):
    spec = SPEC["ingest"]
    k, per = spec["tranches"], spec["docs_per_tranche"]
    docs, pairs = [], []
    files = tokens = truncated = 0
    long_tokens = []
    for t in range(k):
        first = len(docs)
        fresh = per - spec["twins_within"] - (spec["twins_across"] if t else 0)
        for _ in range(fresh):
            docs.append(_tokens(rng, vocab, cum, spec["tokens_per_doc"], long_tokens))
        for _ in range(spec["twins_within"]):
            src = rng.randrange(first, first + fresh)
            pairs.append([src, len(docs)])
            docs.append(_twin(rng, docs[src]))
        if t:
            for _ in range(spec["twins_across"]):
                src = rng.randrange(0, first)
                pairs.append([src, len(docs)])
                docs.append(_twin(rng, docs[src]))
        ids, texts = [], []
        for i in range(first, len(docs)):
            text = _lines(docs[i], rng)
            if i % 11 == 0:
                text = BOM + text
            w.write("ingest/tranche_%02d/text/doc_%06d.txt" % (t, i),
                    text.encode("utf-8"))
            ids.append(i)
            texts.append(text)
            files += 1
            tokens += len(docs[i])
            truncated += _stats_truth(docs[i])[1]
        table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                          "text": pa.array(texts, pa.string())})
        pq.write_table(table, os.path.join(root, "ingest/tranche_%02d.parquet" % t))
    return {"tranches": k, "docs": len(docs), "twin_pairs": sorted(pairs),
            "files": files, "tokens": tokens, "truncated_rows": truncated}


def generate(root, seed):
    """Write the corpus for `seed` under `root`; return its truth."""
    rng = random.Random(seed)
    vocab, cum = _vocab(rng)
    w = _Writer(root)
    truth = {
        "seed": seed,
        "etl": _gen_etl(rng, vocab, cum, w),
        "dedup": _gen_dedup(rng, vocab, cum, w),
        "ingest": _gen_ingest(rng, vocab, cum, w, root),
    }
    truth["digest"] = w.sha.hexdigest()
    truth["input_bytes"] = {part: _tree_bytes(os.path.join(root, part))
                            for part in ("etl", "dedup", "ingest")}
    return truth


def _tree_bytes(top):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(top) for f in fs if f.endswith(".txt"))


def disk_digest(root):
    """Digest of the text files on disk, in generation order (sorted
    relative paths match it: every name is zero-padded)."""
    sha = hashlib.sha256()
    rels = []
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".txt"):
                rels.append(os.path.relpath(os.path.join(d, f), root))
    for rel in sorted(rels, key=_gen_order):
        with open(os.path.join(root, rel), "rb") as f:
            sha.update(rel.encode() + b"\0" + f.read())
    return sha.hexdigest()


def _gen_order(rel):
    part = rel.split(os.sep)[0]
    return ({"etl": 0, "dedup": 1, "ingest": 2}[part], os.path.basename(rel), rel)


def _generator_digest():
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def ensure(root, seed):
    """The corpus for `seed` under `root`, generated once and cached.
    A cached corpus must come from this generator and still hash to the
    digest it was generated with."""
    truth_path = os.path.join(root, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            truth = json.load(f)
        if (truth.get("seed") == seed and truth.get("generator") == _generator_digest()
                and disk_digest(root) == truth["digest"]):
            return truth
    tmp = root + ".tmp"
    rmtree(tmp)
    truth = generate(tmp, seed)
    truth["generator"] = _generator_digest()
    assert disk_digest(tmp) == truth["digest"], "corpus bytes differ from the generated stream"
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    rmtree(root)
    os.rename(tmp, root)
    return truth


def rmtree(path):
    if os.path.exists(path):
        import shutil
        shutil.rmtree(path)
