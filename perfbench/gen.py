"""Seeded input generators for the two workloads.

Every table is a pure function of the seed: `numpy.random.default_rng(seed)`
drives all draws, so the same seed writes byte-identical parquet content and a
different seed writes different content. `content_hash` digests the generated
arrays (not the parquet bytes) so the self-check does not depend on writer
metadata.

Sizes and traffic dimensions are module constants and are repeated in
README.md; change both together.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The closed 31-token vocabulary of the engine's `documents` table.
VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table",
         "agg", "value", "key", "stream", "window", "spark", "a", "group",
         "part", "big", "sort", "query", "fast", "the", "dup"]

# corpus_dedup: planted duplicate structure (shares of CORPUS_DOCS).
CORPUS_DOCS = 1500
CORPUS_WORDS = (40, 70)          # words per base doc (about 300 characters)
EXACT_DUP_SHARE = 0.05           # verbatim copies (case/space variants)
NEAR_DUP_SHARE = 0.10            # copies with 2 of ~55 words replaced
SPAN_SHARE = 0.05                # docs carrying a 16-word span of another doc
EMBEDDINGS = 1000
EMB_DIM = 64
PLANTED_NEIGHBOURS = 400        # queries with one planted near neighbour
NEIGHBOUR_NOISE = 0.02           # per-dimension noise around the query

# cdc_sync: the tracked table (the change sets are drawn in the JVM).
CDC_BASE_ROWS = 20000


def _unit(m):
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _embedding_table(vecs, labels):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1]), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32())})


def corpus_tables(seed):
    """(documents, embeddings, truth): a corpus with planted exact
    duplicates, near duplicates and shared spans, plus embeddings with
    planted nearest neighbours. `truth` holds the planted sets."""
    rng = np.random.default_rng(seed)
    n = CORPUS_DOCS
    n_exact = int(n * EXACT_DUP_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    n_span = int(n * SPAN_SHARE)
    n_base = n - n_exact - n_near
    words = [rng.integers(0, len(VOCAB) - 1, int(w)).tolist()
             for w in rng.integers(CORPUS_WORDS[0], CORPUS_WORDS[1], n_base)]
    # shared spans: a 16-word window of one base doc spliced into another
    span_pairs = []
    # donors and hosts are disjoint, so no donated span is ever cut
    picked = rng.choice(n_base, 2 * n_span, replace=False).tolist()
    for d, h in zip(picked[:n_span], picked[n_span:]):
        at = int(rng.integers(0, len(words[d]) - 16))
        span = words[d][at:at + 16]
        cut = int(rng.integers(0, len(words[h])))
        words[h] = words[h][:cut] + span + words[h][cut:]
        span_pairs.append([d, h])
    texts = [" ".join(VOCAB[i] for i in w) for w in words]
    exact_pairs, near_pairs = [], []
    for i in range(n_exact):
        src = int(rng.integers(0, n_base))
        t = texts[src]
        texts.append(t.upper() if i % 2 else "  " + t + " ")
        exact_pairs.append([src, n_base + i])
    for i in range(n_near):
        src = int(rng.integers(0, n_base))
        w = list(words[src])
        for pos in rng.choice(len(w), 2, replace=False).tolist():
            w[pos] = (w[pos] + 1 + int(rng.integers(0, len(VOCAB) - 2))) \
                % (len(VOCAB) - 1)
        texts.append(" ".join(VOCAB[j] for j in w))
        near_pairs.append([src, n_base + n_exact + i])
    # shuffle ids so planted copies are not contiguous
    perm = rng.permutation(n)
    new_id = np.empty(n, np.int64)
    new_id[perm] = np.arange(n)
    docs = pa.table({
        "doc_id": pa.array(new_id, pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    docs = docs.take(pa.array(perm))

    def remap(pairs):
        return sorted(sorted([int(new_id[a]), int(new_id[b])]) for a, b in pairs)

    m = EMBEDDINGS
    vecs = _unit(rng.normal(size=(m, EMB_DIM)))
    queries = rng.choice(m, PLANTED_NEIGHBOURS * 2, replace=False)
    q, nb = queries[:PLANTED_NEIGHBOURS], queries[PLANTED_NEIGHBOURS:]
    vecs[nb] = _unit(vecs[q] + rng.normal(scale=NEIGHBOUR_NOISE,
                                          size=(len(q), EMB_DIM)))
    emb = _embedding_table(vecs.astype(np.float32), rng.integers(0, 10, m))
    truth = {"exact_pairs": remap(exact_pairs),
             "near_pairs": remap(near_pairs),
             "span_pairs": remap(span_pairs),
             "neighbours": sorted([int(a), int(b)] for a, b in zip(q, nb))}
    return docs, emb, truth


def cdc_base(seed):
    """The tracked table's initial state: a generated unique key `k`."""
    rng = np.random.default_rng(seed)
    n = CDC_BASE_ROWS
    return pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "ver": pa.array(np.zeros(n), pa.int64()),
        "qty": rng.integers(1, 100, n).astype(np.float64),
        "price": np.round(rng.uniform(1.0, 1000.0, n), 2),
        "status": rng.choice(["new", "open", "held", "done"], n).tolist(),
        "note": [f"n{x}" for x in rng.integers(0, 1_000_000, n)]})


def tables_for(workload, seed):
    if workload == "corpus_dedup":
        docs, emb, truth = corpus_tables(seed)
        return {"documents": docs, "embeddings": emb}, truth
    if workload == "cdc_sync":
        return {"cdc_base": cdc_base(seed)}, None
    raise ValueError(f"unknown workload {workload}")


def content_hash(tables, truth):
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for col in tables[name].columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    if truth is not None:
        h.update(json.dumps(truth, sort_keys=True).encode())
    return h.hexdigest()


def write(tables, truth, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    if truth is not None:
        with open(os.path.join(out_dir, "truth.json"), "w") as f:
            json.dump(truth, f)
