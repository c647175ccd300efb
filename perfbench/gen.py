"""Seeded input generator for the graft benchmark.

Everything the program reads is produced here from the seed: the
engine receives only the parquet files this module writes. The same
seed gives byte-identical inputs.

Documents follow the repo's `documents` schema (doc_id, text, lang,
source, n_chars). Words come from a Zipf-distributed vocabulary of
tens of thousands of words spread over all 26 initial letters. Token
surfaces mix case, digits and punctuation, so the reference's
normalisation (split on whitespace, keep ASCII letters, lower-case,
drop empties) changes what is indexed. Embeddings are 64-dimensional
with planted near neighbours.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = "abcdefghijklmnopqrstuvwxyz"
PUNCT = [",", ".", ";", ":", "!", "?", ")", "\""]
LANGS = ["en", "de", "fr", "zh"]
DIM = 64

# Sizes per workload.
SCALES = {
    "lookup": dict(docs=400, vecs=1000, len_lo=20, len_hi=70),
    "lifecycle": dict(batch0=400, batch=100, batches=2, merge_src=100,
                      len_lo=20, len_hi=70),
}


def vocabulary(rng, n=30000):
    """`n` distinct lower-case words, listed by Zipf rank. Initial
    letters are random; word lengths follow the rank (3 to 10 letters),
    so the byte size of the text does not swing with the seed."""
    words, seen = [], set()
    while len(words) < n:
        length = 3 + len(words) % 8
        w = "".join(LETTERS[i] for i in rng.integers(0, 26, length))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(n, s=1.07):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def surface(rng, word):
    """One raw token whose normalised form is `word`, or that adds noise."""
    r = rng.random()
    if r < 0.55:
        return word
    if r < 0.70:
        return word.capitalize()
    if r < 0.75:
        return word.upper()
    if r < 0.87:
        return word + PUNCT[rng.integers(len(PUNCT))]
    if r < 0.93:
        # a digit inside a word is stripped by normalisation
        k = int(rng.integers(1, len(word) + 1))
        return word[:k] + str(rng.integers(10)) + word[k:]
    return "(" + word.capitalize()


def noise_token(rng):
    """Tokens that normalise to empty (digits, punctuation only)."""
    return [str(rng.integers(1, 3000)), "-", "--", "#42", "1999.", "&"][
        rng.integers(6)]


def render(rng, words):
    out = []
    for w in words:
        if rng.random() < 0.04:
            out.append(noise_token(rng))
        out.append(surface(rng, w))
    seps = rng.random(len(out))
    text = out[0]
    for tok, s in zip(out[1:], seps[1:]):
        text += ("  " if s < 0.03 else "\t" if s < 0.05 else
                 "\n" if s < 0.06 else " ") + tok
    return text


def word_lists(rng, vocab, probs, n, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    ids = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    out, at = [], 0
    for k in lens:
        out.append([vocab[i] for i in ids[at:at + k]])
        at += k
    return out


def documents_table(rng, doc_ids, texts):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 4, n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 5, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng, n):
    """Unit-ish 64-d float vectors; ~1/3 are planted near neighbours."""
    n_base = n - n // 3
    base = rng.normal(size=(n_base, DIM))
    src = rng.integers(0, n_base, n - n_base)
    near = base[src] + rng.normal(scale=0.05, size=(n - n_base, DIM))
    allv = np.vstack([base, near])[rng.permutation(n)]
    allv /= np.linalg.norm(allv, axis=1, keepdims=True)
    allv = allv.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(allv), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


# One lookup round: how many operations of each kind.
ROUND_MIX = {"postings": 4, "topn": 2, "and": 2, "andnot": 2, "phrase": 2,
             "bm25": 2, "ann": 2}
ROUNDS = 40


def lookup_ops(rng, vocab, lists, n_vecs):
    """`ROUNDS` rounds of the lookup mix as `round kind arg,arg,...`
    lines. Round r issues BM25 term set r mod 6 twice, the second time
    in reversed order: the same set under another order, at the same
    place in every seed's stream."""
    def word(hi):
        return vocab[rng.integers(hi)]
    pool = [[word(2000) for _ in range(rng.integers(2, 4))] for _ in range(6)]
    kinds = [k for k, n in ROUND_MIX.items() for _ in range(n)]
    lines = []
    for r in range(ROUNDS):
        bm25 = [pool[r % len(pool)], pool[r % len(pool)][::-1]]
        for kind in rng.permutation(kinds):
            if kind == "postings":
                args = [word(500) if rng.random() < 0.6 else word(len(vocab))]
            elif kind == "topn":
                args = [str([10, 20, 50][rng.integers(3)])]
            elif kind in ("and", "andnot"):
                args = [word(300), word(300)]
            elif kind == "phrase":
                doc = lists[rng.integers(len(lists))]
                k = int(rng.integers(2, 4))
                at = int(rng.integers(0, len(doc) - k))
                args = doc[at:at + k]
            elif kind == "bm25":
                args = bm25.pop(0)
            else:
                args = [str(v) for v in rng.choice(n_vecs, 2, replace=False)]
            lines.append(f"{r}\t{kind}\t{','.join(args)}")
    return lines


def gen_lookup(rng, vocab, probs, out, sc):
    lists = word_lists(rng, vocab, probs, sc["docs"], sc["len_lo"], sc["len_hi"])
    texts = [render(rng, w) for w in lists]
    write(documents_table(rng, np.arange(len(texts)), texts),
          f"{out}/documents.parquet")
    write(embeddings_table(rng, sc["vecs"]), f"{out}/embeddings.parquet")
    with open(f"{out}/ops.tsv", "w") as f:
        f.write("\n".join(lookup_ops(rng, vocab, lists, sc["vecs"])) + "\n")


def gen_lifecycle(rng, vocab, probs, out, sc):
    """Batch 0 (the base), ingest batches 1..k and a MERGE source batch,
    each its own parquet file, with disjoint ascending doc ids."""
    sizes = [sc["batch0"]] + [sc["batch"]] * sc["batches"] + [sc["merge_src"]]
    names = [f"batch{i}" for i in range(sc["batches"] + 1)] + ["merge_src"]
    start = 0
    for name, size in zip(names, sizes):
        lists = word_lists(rng, vocab, probs, size, sc["len_lo"], sc["len_hi"])
        texts = [render(rng, w) for w in lists]
        write(documents_table(rng, np.arange(start, start + size), texts),
              f"{out}/{name}.parquet")
        start += size
    letters = rng.permutation(list(LETTERS))
    with open(f"{out}/params.txt", "w") as f:
        f.write(f"batches {sc['batches']}\n"
                f"delete_letter {letters[0]}\n"
                f"merge_letters {letters[1]},{letters[2]}\n")


GENERATORS = {"lookup": gen_lookup, "lifecycle": gen_lifecycle}


def generate(kind, seed, out):
    """Write the inputs of `kind` for `seed` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(kind)])
    vocab = vocabulary(rng)
    GENERATORS[kind](rng, vocab, zipf_probs(len(vocab)), out,
                     SCALES[kind])
    return out
