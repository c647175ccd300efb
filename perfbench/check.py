"""Independent checks of the program's outputs, made after timing.

Nothing here calls graft or compares with a stored copy of earlier
output: expected answers are computed from the generated inputs, the
inverted index with DuckDB under the reference's map-phase rule (split
on whitespace, keep ASCII letters, lower-case, drop empties, distinct
per document), the rest with plain Python and numpy.

`check(kind, data, out, res)` returns a list of problems; empty means
every output the driver kept is correct.
"""

import glob
import json
import math
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

DIM = 64
NUM_PLANES = 8
LINE = re.compile(r"^([a-z]+):\[(\d+(?: \d+)*)?\]$")


def input_bytes(data):
    """Bytes of document text (UTF-8) plus embedding floats ingested."""
    n = 0
    for p in glob.glob(f"{data}/*.parquet"):
        t = pq.read_table(p)
        if "text" in t.column_names:
            n += sum(len(s.encode()) for s in t.column("text").to_pylist())
        if "embedding" in t.column_names:
            n += 4 * DIM * t.num_rows
    return n


def index_of(paths):
    """word -> sorted doc ids, over the parquet files `paths`."""
    files = ", ".join(f"'{p}'" for p in paths)
    rows = duckdb.sql(f"""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
          FROM read_parquet([{files}])),
        words AS (
          SELECT DISTINCT doc_id, lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word
          FROM toks)
        SELECT word, list_sort(list(doc_id)) FROM words
        WHERE word <> '' GROUP BY word""").fetchall()
    return {w: tuple(ids) for w, ids in rows}


def union(*indexes):
    out = {}
    for idx in indexes:
        for w, ids in idx.items():
            out[w] = tuple(sorted(set(out.get(w, ())) | set(ids)))
    return out


def outputs(out):
    with open(f"{out}/outputs.jsonl") as f:
        return {r["name"]: r["rows"] for r in map(json.loads, f)}


def as_index(rows, name, problems):
    """Rows (word, df, postings) -> index; df must equal len(postings)."""
    idx = {}
    for word, df, ids in rows:
        if word in idx:
            problems.append(f"{name}: word {word!r} appears twice")
        if df != len(ids) or list(ids) != sorted(set(ids)):
            problems.append(f"{name}: bad posting list for {word!r}")
        idx[word] = tuple(ids)
    return idx


def same_index(got, want, name, problems):
    if got != want:
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        wrong = sorted(w for w in set(got) & set(want) if got[w] != want[w])[:3]
        problems.append(f"{name}: index differs (missing {missing}, extra "
                        f"{extra}, wrong postings {wrong})")


# ---- index-lifecycle ----------------------------------------------------

def check_letter_files(store, problems):
    """Every letter file keeps the reference grammar: `word:[ids]` with
    ascending ids, lines sorted by df descending then word ascending."""
    files = [p for p in glob.glob(f"{store}/**/letter=*/*", recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))]
    if not files:
        problems.append(f"no letter files under {store}")
    for p in files:
        letter = os.path.basename(os.path.dirname(p))[len("letter="):]
        prev = None
        with open(p) as f:
            for line in f:
                m = LINE.match(line.rstrip("\n"))
                if not m:
                    problems.append(f"{p}: bad line {line[:40]!r}")
                    return
                word, ids = m.group(1), [int(x) for x in (m.group(2) or "").split()]
                if not word.startswith(letter):
                    problems.append(f"{p}: word {word!r} in letter {letter}")
                if ids != sorted(set(ids)):
                    problems.append(f"{p}: ids not ascending for {word!r}")
                key = (-len(ids), word)
                if prev is not None and key < prev:
                    problems.append(f"{p}: lines not in df-desc, word-asc order")
                    return
                prev = key


def check_lifecycle(data, out, res):
    problems = []
    got = outputs(out)
    params = dict(l.split(" ", 1) for l in open(f"{data}/params.txt").read().split("\n") if l)
    nb = int(params["batches"])
    batch = [index_of([f"{data}/batch{i}.parquet"]) for i in range(nb + 1)]
    src = index_of([f"{data}/merge_src.parquet"])
    half = (nb + 1) // 2

    want = {}
    for i in range(1, half + 1):
        want[f"merged{i}"] = union(*batch[:i + 1])
    want["gen0"] = batch[0]
    # compaction folds deltas 1..half; then DELETE and MERGE INTO
    dml = {w: ids for w, ids in union(*batch[:half + 1]).items()
           if not w.startswith(params["delete_letter"])}
    letters = tuple(params["merge_letters"].split(","))
    dml.update({w: ids for w, ids in src.items() if w.startswith(letters)})
    want["gen1"] = dml
    for i in range(half + 1, nb + 1):
        want[f"merged{i}"] = union(dml, *batch[half + 1:i + 1])
    want["live"] = want[f"merged{nb}"]

    for name, w in want.items():
        if name not in got:
            problems.append(f"{name}: output missing")
            continue
        same_index(as_index(got[name], name, problems), w, name, problems)

    g0, g1 = want["gen0"], want["gen1"]
    diff = []
    for word in sorted(set(g0) | set(g1)):
        a, b = len(g0.get(word, ())), len(g1.get(word, ()))
        change = ("added" if word not in g0 else "removed" if word not in g1
                  else "grown" if b > a else "shrunk" if b < a else "same")
        diff.append([word, a, b, change])
    if got.get("diff01") != diff:
        problems.append("diff01: version diff of generations 0 and 1 differs")
    check_letter_files(res["extra"]["store_dir"], problems)
    return problems


# ---- lookup-serving -----------------------------------------------------

def raw_words(text):
    """Normalised word per raw whitespace-split position ('' if dropped)."""
    toks = re.split(r"[ \t\n\r\f\v]+", text)
    return [re.sub("[^A-Za-z]", "", t).lower() for t in toks]


def bm25_scores(docs, terms, k1=1.2, b=0.75):
    """doc_id -> sum over terms of floor(1e6 * Okapi BM25 term score)."""
    terms = list(dict.fromkeys(terms))
    dl = {d: sum(1 for w in ws if w) for d, ws in docs.items()}
    dl = {d: n for d, n in dl.items() if n > 0}
    avgdl = sum(dl.values()) / len(dl)
    tf = {t: {} for t in terms}
    for d, ws in docs.items():
        for w in ws:
            if w in tf:
                tf[w][d] = tf[w].get(d, 0) + 1
    scores = {}
    for t in terms:
        df = len(tf[t])
        idf = math.log((len(docs) - df + 0.5) / (df + 0.5) + 1.0)
        for d, f in tf[t].items():
            s = idf * (f * (k1 + 1.0)) / (f + ((1.0 - b) + dl[d] * b / avgdl) * k1)
            scores[d] = scores.get(d, 0) + math.floor(s * 1e6)
    return scores, len(terms)


def plane_weights():
    p, d = np.meshgrid(np.arange(NUM_PLANES), np.arange(DIM), indexing="ij")
    return (((p * 131 + d * 31) % 17) - 8).astype(np.float64)


def check_lookup(data, out, res):
    problems = []
    got = outputs(out)
    t = pq.read_table(f"{data}/documents.parquet").to_pydict()
    docs = {d: raw_words(x) for d, x in zip(t["doc_id"], t["text"])}
    idx = index_of([f"{data}/documents.parquet"])
    emb = pq.read_table(f"{data}/embeddings.parquet").to_pydict()
    vec_ids = np.array(emb["vec_id"])
    vecs = np.array(emb["embedding"], dtype=np.float32).astype(np.float64)
    signs = vecs @ plane_weights().T
    buckets = (signs > 0).astype(np.int64) @ (1 << np.arange(NUM_PLANES))
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    rounds = {}
    with open(f"{data}/ops.tsv") as f:
        for line in f:
            r, kind, args = line.rstrip("\n").split("\t")
            rounds.setdefault(int(r), []).append((kind, args.split(",")))
    by_df = sorted(idx.items(), key=lambda kv: (-len(kv[1]), kv[0]))

    n_checked = 0
    for name, rows in got.items():
        r, i = map(int, name.split("."))
        kind, args = rounds[r % len(rounds)][i]
        n_checked += 1
        bad = None
        if kind == "postings":
            w = args[0]
            want = [[w, len(idx[w]), list(idx[w])]] if w in idx else []
            bad = rows != want
        elif kind == "topn":
            bad = rows != [[w, len(ids)] for w, ids in by_df[:int(args[0])]]
        elif kind in ("and", "andnot"):
            a, b = set(idx.get(args[0], ())), set(idx.get(args[1], ()))
            want = sorted(a & b if kind == "and" else a - b)
            bad = rows != [[d] for d in want]
        elif kind == "phrase":
            want = []
            for d in sorted(docs):
                ws = docs[d]
                n = sum(1 for s in range(len(ws) - len(args) + 1)
                        if ws[s:s + len(args)] == args)
                if n:
                    want.append([d, n])
            bad = rows != want
        elif kind == "bm25":
            bad = not bm25_ok(rows, *bm25_scores(docs, args), 10)
        elif kind == "ann":
            bad = not ann_ok(rows, [int(a) for a in args], vec_ids, vecs,
                             norms, signs, buckets, 5)
        if bad:
            problems.append(f"lookup {name} {kind} {args}: wrong result")
    if n_checked == 0:
        problems.append("no lookup outputs to check")
    return problems


def bm25_ok(rows, scores, n_terms, k):
    """Top-k by score: each score within one unit per term of the
    recomputed one (summation order may move a floor by one), and no
    unreturned document scores clearly above the k-th."""
    if len(rows) != min(k, len(scores)):
        return False
    if not rows:
        return True
    for d, s in rows:
        if abs(scores.get(d, -10 ** 9) - s) > n_terms:
            return False
    floor = min(s for _, s in rows)
    returned = {d for d, _ in rows}
    return all(s <= floor + 2 * n_terms for d, s in scores.items() if d not in returned)


def ann_ok(rows, queries, vec_ids, vecs, norms, signs, buckets, k):
    """Top-k cosine neighbours within the query's LSH bucket."""
    by_q = {}
    for a, b, bucket, cos, rnk in rows:
        by_q.setdefault(a, []).append((rnk, b, bucket, cos))
    pos = {int(v): i for i, v in enumerate(vec_ids)}
    for q in queries:
        i = pos[q]
        if np.abs(signs[i]).min() < 1e-9:
            continue  # a plane through the query: its bucket is not stable
        same = np.nonzero((buckets == buckets[i]) & (vec_ids != q))[0]
        cos = vecs[same] @ vecs[i] / (norms[same] * norms[i])
        order = sorted(zip(-np.round(cos, 6), vec_ids[same], cos))[:k]
        got = sorted(by_q.get(q, []))
        if len(got) != len(order):
            return False
        for (rnk, b, bucket, c), (_, wb, wc) in zip(got, order):
            if bucket != buckets[i] or abs(c - round(float(wc), 2)) > 0.011:
                return False
            if b != wb and abs(float(cos[list(vec_ids[same]).index(b)]) - wc) > 1e-6:
                return False
    return True


CHECKS = {"lifecycle": check_lifecycle, "lookup": check_lookup}


def check(kind, data, out, res):
    try:
        return CHECKS[kind](data, out, res)
    except Exception as e:  # a malformed output is a failed check
        return [f"checker raised {type(e).__name__}: {e}"]
