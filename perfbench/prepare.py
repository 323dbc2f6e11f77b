"""Seeded inputs of the benchmark, built outside any timed region.

- The TPC-H tables at ten times the committed sf0.01 fixture are made by
  graft's own ScaleFixture.ensure (run through the benchmark's JVM entry
  point), once per checkout: they do not depend on the seed.
- The near-duplicate corpus is made here from the fixture's documents and
  embeddings: copy 0 of each document is unchanged, copies 1.. drop ~10% of
  their tokens, and every embedding copy gets a small seeded jitter. The
  same seed gives the same corpus.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DROP = 0.10
JITTER = 0.01


def _swap(tmp, dst):
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.rename(tmp, dst)


def corpus(src, dst, seed, copies):
    """Writes documents.parquet and embeddings.parquet under `dst`."""
    if os.path.exists(os.path.join(dst, "ok")):
        return dst
    tmp = dst + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)

    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    ids = docs.column("doc_id").to_numpy()
    stride = int(ids.max()) + 1
    texts = docs.column("text").to_pylist()
    out = {c: [] for c in docs.column_names}
    for k in range(copies):
        rng = np.random.default_rng([seed, k])
        for i, text in enumerate(texts):
            toks = text.split(" ")
            if k > 0:
                keep = rng.random(len(toks)) >= DROP
                toks = [t for t, kp in zip(toks, keep) if kp] or toks[:1]
            t = " ".join(toks)
            out["doc_id"].append(int(ids[i]) + k * stride)
            out["text"].append(t)
            out["lang"].append(docs.column("lang")[i].as_py())
            out["source"].append(docs.column("source")[i].as_py())
            out["n_chars"].append(len(t))
    pq.write_table(pa.table(out, schema=docs.schema), os.path.join(tmp, "documents.parquet"))

    emb = pq.read_table(os.path.join(src, "embeddings.parquet"))
    vids = emb.column("vec_id").to_numpy()
    vstride = int(vids.max()) + 1
    vecs = emb.column("embedding").to_pylist()
    labels = emb.column("label").to_pylist()
    eout = {"vec_id": [], "embedding": [], "label": []}
    for k in range(copies):
        rng = np.random.default_rng([seed, 1000 + k])
        for i, v in enumerate(vecs):
            a = np.asarray(v, dtype=np.float32)
            if k > 0:
                a = a + rng.normal(0.0, JITTER, a.shape).astype(np.float32)
            eout["vec_id"].append(int(vids[i]) + k * vstride)
            eout["embedding"].append(a.tolist())
            eout["label"].append(labels[i])
    pq.write_table(pa.table(eout, schema=emb.schema), os.path.join(tmp, "embeddings.parquet"))
    open(os.path.join(tmp, "ok"), "w").close()
    _swap(tmp, dst)
    return dst


def fingerprint(d):
    """Digest of the table contents under `d` (not of the file bytes)."""
    h = hashlib.sha256()
    for name in ("documents", "embeddings"):
        t = pq.read_table(os.path.join(d, name + ".parquet"))
        h.update(name.encode())
        for c in t.column_names:
            h.update(repr(t.column(c).to_pylist()).encode())
    return h.hexdigest()


def scaled_fixture(java, src, dst, copies):
    """Runs ScaleFixture.ensure into `dst` once; `java` runs the JVM entry."""
    if os.path.exists(os.path.join(dst, "ok")):
        return dst
    tmp = dst + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    java(["--mode", "prepare", "--src", src, "--dst", tmp, "--copies", str(copies)])
    open(os.path.join(tmp, "ok"), "w").close()
    _swap(tmp, dst)
    return dst
