"""Seeded input generators. The program under test only ever sees the
files these write; the same seed always writes the same rows."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEAD_VOCAB = 100_000
# Share of tokens drawn from the rare-term tail. Zipf(1.1) sampling alone
# realizes only a few thousand distinct terms per 10k docs; web text keeps
# adding new terms, which is what makes the dictionary and the broadcast
# term lookup do real work.
TAIL_SHARE = 0.05
TAIL_PER_DOC = 64


def b36(n):
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = digits[r] + out
        if n == 0:
            return out


def url(i):
    # zero-padded so that docId (dense rank by url) equals the row index
    return f"https://example.org/doc/{i:010d}"


def write_split(table, path, files):
    """Write `table` as `files` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for k in range(files):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def corpus(path, seed, n, files):
    """Web corpus in the CorpusDoc shape (url, warc_ts, html, text, lang):
    Zipf(1.1) head terms plus a rare-term tail; lengths 30..429 tokens."""
    rng = np.random.default_rng([seed, 1])
    lens = 30 + rng.integers(0, 400, n)
    total = int(lens.sum())
    u = 1.0 - rng.random(total)  # (0, 1]
    head = np.minimum(HEAD_VOCAB - 1, (u ** (-1 / 1.1)).astype(np.int64) - 1)
    tail = rng.random(total) < TAIL_SHARE
    tail_ids = rng.integers(0, TAIL_PER_DOC * n, total)
    head_words = ["w" + b36(i) for i in range(HEAD_VOCAB)]
    toks = [("r" + b36(int(t))) if is_t else head_words[h]
            for h, is_t, t in zip(head.tolist(), tail.tolist(), tail_ids.tolist())]
    offs = np.concatenate([[0], np.cumsum(lens)]).tolist()
    texts = [" ".join(toks[offs[i]:offs[i + 1]]) for i in range(n)]
    ts = np.datetime64("2017-01-01T00:00:00", "us") + np.arange(n) * np.timedelta64(1, "s")
    table = pa.table({
        "url": [url(i) for i in range(n)],
        "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "html": [("<html><body>" + t + "</body></html>").encode() for t in texts],
        "text": texts,
        "lang": ["en"] * n,
    })
    write_split(table, path, files)


# The ops tables follow the shape of the sf0.1 `documents` and `embeddings`
# fixture tables, as measured on them: 5,000 documents of 10-99 tokens drawn
# uniformly from 30 words; 5% are copies of another document with " dup"
# appended (Jaccard >= 0.8 on 3-shingles), 0.16% are exact copies, and a
# copy's lang is drawn anew. Lang shares 0.41 en and 0.14-0.15 each of de,
# fr, es, zh; source is src{doc_id % 20}. 2,000 embeddings: random unit
# directions in 64 dimensions (pair cosine q90 0.16, max 0.60, 4,137 of the
# 2.0M pairs at >= 0.35, no near-copies) with labels uniform over 0-9.
# run.py sets the row counts.
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016


def documents(rng, n):
    """Training-data documents (doc_id, text, lang, source, n_chars)."""
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n)]
    # each copy has its own original, which is not a copy itself; positions
    # are random, so a copy's doc_id is as likely below its original's as above
    near, exact = round(n * NEAR_DUP_SHARE), round(n * EXACT_DUP_SHARE)
    pos = rng.permutation(n).tolist()
    copies, originals = pos[:near + exact], pos[near + exact:2 * (near + exact)]
    for k, (c, o) in enumerate(zip(copies, originals)):
        texts[c] = texts[o] + (" dup" if k < near else "")
    langs = rng.choice(LANGS, n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n, dim=64):
    """Unit vectors (vec_id, embedding, label) in random directions."""
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
    })


def ops_tables(path, seed, n_docs, n_vecs, files):
    """documents.parquet and embeddings.parquet as the gates read them:
    rows in a seeded random order, each table split into `files` files."""
    for k, (name, make, n) in enumerate((("documents", documents, n_docs),
                                         ("embeddings", embeddings, n_vecs))):
        rng = np.random.default_rng([seed, 2, k])
        table = make(rng, n)
        perm = rng.permutation(table.num_rows)
        write_split(table.take(perm), os.path.join(path, f"{name}.parquet"), files)
