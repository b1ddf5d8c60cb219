"""Seeded corpus and request-stream generator.

The corpus is shaped like the engine's `synth:` documents and embeddings
(`graft.Tables.synthTable`): 40-69 words per document, a 40-word hot head
(Zipf-weighted) mixed with a tail vocabulary of about 37 * sqrt(N) words,
and 64-dim vectors clustered on 8 label centroids. Everything is drawn
from one numpy generator seeded by the benchmark's --seed, so the same
seed and size always give the same corpus and the same request stream.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEAD = ["spark", "batch", "part", "line", "column", "order", "small", "sort",
        "vector", "scan", "fast", "query", "agg", "slow", "value", "filter",
        "customer", "stream", "join", "shuffle", "cache", "disk", "memory",
        "node", "task", "stage", "row", "group", "key", "hash", "range",
        "merge", "index", "store", "read", "write", "plan", "cost", "skew",
        "limit"]
HEAD_SHARE = 0.3
DIM = 64
CLUSTERS = 8

# Request types in rotation order, with the number of terms each takes.
REQUEST_TERMS = [("keyword", 1), ("any", 2), ("bm25", 2), ("phrase", 2),
                 ("snippet", 1)]


def _zipf_weights(n, s=1.0):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def generate(n_docs, seed):
    """Return (documents table, embeddings table, vocabulary ranked by
    corpus frequency) for `n_docs` documents drawn from `seed`."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_tail = max(40, int(37.0 * np.sqrt(n_docs)))
    vocab = np.array(HEAD + [f"w{i}" for i in range(n_tail)], dtype=object)
    lengths = 40 + rng.integers(0, 30, n_docs)
    total = int(lengths.sum())
    head = rng.random(total) < HEAD_SHARE
    ids = np.where(head,
                   rng.choice(len(HEAD), total, p=_zipf_weights(len(HEAD))),
                   len(HEAD) + rng.integers(0, n_tail, total))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    words = vocab[ids]
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    langs = np.array(["en", "de", "fr"], dtype=object)[rng.integers(0, 3, n_docs)]
    sources = np.array([f"src{i}" for i in range(5)], dtype=object)[
        rng.integers(0, 5, n_docs)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    n_vecs = max(1, n_docs * 2 // 5)
    centroids = rng.uniform(-1.0, 1.0, (CLUSTERS, DIM))
    labels = rng.integers(0, CLUSTERS, n_vecs).astype(np.int32)
    emb = (centroids[labels] + rng.uniform(-0.2, 0.2, (n_vecs, DIM))).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1)), DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    freq = np.bincount(ids, minlength=len(vocab))
    ranked = [str(w) for w in vocab[np.argsort(-freq, kind="stable")]]
    return docs, embs, ranked


def digest(docs, embs):
    """Content digest of a corpus, independent of the parquet encoding."""
    h = hashlib.sha256()
    for col in ("doc_id", "text", "lang", "source", "n_chars"):
        h.update("\x1f".join(map(str, docs.column(col).to_pylist())).encode())
    h.update(np.asarray(embs.column("vec_id")).tobytes())
    h.update(np.asarray(embs.column("label")).tobytes())
    h.update(np.asarray(embs.column("embedding").combine_chunks().flatten()).tobytes())
    return h.hexdigest()


def requests(vocab, n):
    """`n` search requests. Types rotate through REQUEST_TERMS; each term
    is drawn from a Zipf distribution over the corpus vocabulary ranked
    by frequency, so head words recur and tail words are rare. The draws
    are stratified: each (type, term slot) walks a golden-ratio sequence
    through the Zipf CDF, so any stretch of the stream covers head and
    tail ranks in their Zipf proportions. The ranks are the same for
    every seed; the seed picks the corpus, and with it which word holds
    each rank, so two seeds ask for different words through the same
    mix of frequencies (a few draws per type would otherwise decide a
    run's cost)."""
    cdf = np.cumsum(_zipf_weights(len(vocab)))
    golden = (np.sqrt(5.0) - 1) / 2
    out = []
    for i in range(n):
        t, step = i % len(REQUEST_TERMS), i // len(REQUEST_TERMS)
        kind, k = REQUEST_TERMS[t]
        terms = []
        for j in range(k):
            start = ((t * 2 + j + 1) * np.sqrt(2.0)) % 1.0
            u = (start + step * golden) % 1.0
            r = min(int(np.searchsorted(cdf, u)), len(vocab) - 1)
            while vocab[r] in terms:
                r = (r + 1) % len(vocab)
            terms.append(vocab[r])
        out.append({"type": kind, "terms": terms})
    return out


def materialize(root, n_docs, seed):
    """Write the corpus for (n_docs, seed) under `root` once; later calls
    with the same arguments reuse it. Returns (dir, manifest)."""
    d = os.path.join(root, f"n{n_docs}-s{seed}")
    manifest_path = os.path.join(d, "_corpus.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return d, json.load(f)
    os.makedirs(d, exist_ok=True)
    docs, embs, vocab = generate(n_docs, seed)
    pq.write_table(docs, os.path.join(d, "documents.parquet"))
    pq.write_table(embs, os.path.join(d, "embeddings.parquet"))
    manifest = {
        "docs": n_docs,
        "vectors": embs.num_rows,
        "text_bytes": int(sum(len(t.encode()) for t in docs.column("text").to_pylist())),
        "parquet_bytes": sum(os.path.getsize(os.path.join(d, f))
                             for f in ("documents.parquet", "embeddings.parquet")),
        "digest": digest(docs, embs),
        "vocab": vocab,
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, manifest_path)
    return d, manifest
