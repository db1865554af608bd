"""Seeded input generator for the graft benchmark's curation workload.

Writes `documents` and `embeddings` in the parquet layout `graft.Tables.load`
reads (`<dir>/<name>.parquet`), with the schemas and value domains of the
committed fixtures, so the registered queries and their DuckDB oracles run
unchanged. A seeded share of the rows of each table are exact twins of
another row (a document twin also keeps its `source` block), so the
twin-collapse gates (`Dedup.twinGate`, `Kmeans.embTwinGate`: at least 1.2
rows per distinct value) switch on. On top of that, a boilerplate block of
`boiler_docs` documents in one source, copies of `boiler_texts` distinct
texts that all open with the same three words, puts one shingle in more
documents than d4's posting cap (`Dedup.MaxPostings`, 1000) allows.
Every value is drawn from one numpy PCG64 stream per table seeded from
`--seed`: the same seed writes byte-identical files.
"""
import collections
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SOURCES = 20
BOILER = "the spark table"  # the opening every boilerplate document shares
BOILER_SOURCE = "src0"
MAX_POSTINGS = 1000  # Dedup.MaxPostings
DIM = 64


def _rng(seed, table):
    # One independent stream per table: adding a column to one table never
    # shifts another table's values.
    return np.random.Generator(np.random.PCG64([seed, sum(map(ord, table))]))


def _write(out, name, table):
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(10_000, table.num_rows // 8))
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _with_twins(r, uniq, n):
    """`uniq` followed by n - len(uniq) copies drawn from it."""
    src = r.integers(0, len(uniq), n - len(uniq))
    return uniq + [uniq[i] for i in src]


def curation(out, seed, n_docs, n_vecs, twin_share, boiler_docs=0, boiler_texts=0):
    """documents + embeddings; `twin_share` of the rows of each table are
    exact copies (text and source / vector) of a row from the rest, and
    `boiler_docs` more documents form the boilerplate block. Returns the
    rows and bytes per table, and the engine paths these inputs switch on
    (see `paths`)."""
    os.makedirs(out, exist_ok=True)
    sizes = {}
    r = _rng(seed, "documents")
    words = np.array(WORDS)
    n_uniq = n_docs - int(n_docs * twin_share)
    uniq = [(" ".join(words[r.integers(0, len(words), n)]), f"src{s}")
            for n, s in zip(r.integers(8, 96, n_uniq), r.integers(0, SOURCES, n_uniq))]
    rows = _with_twins(r, uniq, n_docs)
    if boiler_docs:
        heads = [BOILER + " " + " ".join(words[r.integers(0, len(words), n)])
                 for n in r.integers(3, 12, boiler_texts)]
        rows += _with_twins(r, [(t, BOILER_SOURCE) for t in heads], boiler_docs)
    n = len(rows)
    order = r.permutation(n)
    texts = np.array([rows[i][0] for i in order], dtype=object)
    sources = np.array([rows[i][1] for i in order], dtype=object)
    sizes["documents"] = _write(out, "documents", pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    r = _rng(seed, "embeddings")
    n_uniq = n_vecs - int(n_vecs * twin_share)
    centers = r.normal(0.0, 1.0, (10, DIM))
    label = r.integers(0, 10, n_uniq)
    v = centers[label] + r.normal(0.0, 0.6, (n_uniq, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    src = r.integers(0, n_uniq, n_vecs - n_uniq)
    v = np.concatenate([v, v[src]]).astype(np.float32)
    label = np.concatenate([label, label[src]]).astype(np.int32)
    order = r.permutation(n_vecs)
    sizes["embeddings"] = _write(out, "embeddings", pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v[order]), pa.list_(pa.float32())),
        "label": label[order]}))
    return sizes, paths(texts, sources, v)


def paths(texts, sources, vecs):
    """Which engine paths the inputs take, by the engine's own rules:
    the exact-twin gates (rows / distinct keys >= 1.2) of d4 (source, text),
    d13 (text) and s7 (embedding), the twin share, and how many of d4's
    (source, shingle) posting lists exceed its cap (documents with at least
    three tokens; distinct three-word shingles per document)."""
    def gate(keys):
        return len(keys) * 10 >= len(set(keys)) * 12
    depth = collections.Counter()
    for t, s in zip(texts, sources):
        tok = [w for w in t.split(" ") if w]
        depth.update((s, sh) for sh in {" ".join(tok[i:i + 3]) for i in range(len(tok) - 2)})
    return {
        "doc_twin_share": round(1 - len(set(texts)) / len(texts), 4),
        "d4_twin_collapse": gate(list(zip(sources, texts))),
        "d13_twin_collapse": gate(list(texts)),
        "s7_twin_collapse": gate([bytes(x) for x in vecs]),
        "d4_capped_postings": sum(1 for c in depth.values() if c > MAX_POSTINGS),
    }
