"""Seeded generator of the `curate` workload's `documents` and `embeddings`.

It keeps the schema, row counts, id ranges and value domains of the
shipped fixture tables it replaces (FIXTURES.md) and plants
near-duplicate clusters: a share of documents copy an earlier original
document with a few tokens replaced, and a share of vectors copy an
earlier original vector plus small noise. The shipped fixture holds
almost no duplicates, so without them the dedup verify stages would do
no work. Copies are only made of originals, never of copies, so every
cluster is a star of diameter at most 2 whatever the seed: the rounds of
an iterative clustering key (q_dedup_cluster's label propagation) do not
change from seed to seed. The same seed always gives byte-identical
files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
DIM = 64
WORDS = (10, 99)           # words per document, inclusive
NEAR_DUP_SHARE = 0.15      # documents / vectors copied from an earlier one
EDITS = (1, 3)             # tokens replaced in a near-duplicate document
NOISE = 0.02               # per-dimension noise of a near-duplicate vector

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
VEC_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def planted(rng, n):
    """The rows that copy an earlier row: exactly NEAR_DUP_SHARE of them,
    so every seed plants the same amount of duplicate work."""
    return set(rng.choice(np.arange(1, n), size=int(NEAR_DUP_SHARE * n),
                          replace=False).tolist())


def source(rng, originals):
    """An earlier original row for a copy to start from."""
    return originals[int(rng.integers(0, len(originals)))]


def documents(rng, n_docs):
    texts, copies, originals = [], planted(rng, n_docs), []
    for i in range(n_docs):
        if i in copies:
            words = texts[source(rng, originals)].split()
            for _ in range(int(rng.integers(EDITS[0], EDITS[1] + 1))):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
        else:
            n = int(rng.integers(WORDS[0], WORDS[1] + 1))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
            originals.append(i)
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, schema=DOC_SCHEMA)
    return table, len(copies)


def embeddings(rng, n_vecs):
    vecs = np.empty((n_vecs, DIM), dtype=np.float64)
    copies, originals = planted(rng, n_vecs), []
    for i in range(n_vecs):
        if i in copies:
            v = vecs[source(rng, originals)] + rng.normal(0, NOISE, DIM)
        else:
            v = rng.normal(0, 1, DIM)
            originals.append(i)
        vecs[i] = v / np.linalg.norm(v)
    table = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }, schema=VEC_SCHEMA)
    return table, len(copies)


def generate(seed, out_dir, n_docs, n_vecs):
    """Write documents.parquet (n_docs rows) and embeddings.parquet (n_vecs
    rows) for `seed` into out_dir; return the planted near-duplicate
    counts."""
    rng = np.random.default_rng(seed)
    docs, doc_dups = documents(rng, n_docs)
    vecs, vec_dups = embeddings(rng, n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("documents", docs), ("embeddings", vecs)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(table), compression="snappy")
    return {"planted_doc_dups": doc_dups, "planted_vec_dups": vec_dups}


def shingles(text, k=3):
    w = text.split()
    return {tuple(w[i:i + k]) for i in range(len(w) - k + 1)}


def near_dup_share(in_dir, jaccard=0.7, cosine=0.98):
    """Measured share of documents with another document at 3-shingle
    Jaccard >= `jaccard`, and of vectors with another vector at cosine >=
    `cosine`. Document candidates come from a bag-of-words cosine filter;
    every candidate pair is then scored exactly."""
    texts = pq.read_table(os.path.join(in_dir, "documents.parquet"),
                          columns=["text"]).column(0).to_pylist()
    index = {w: j for j, w in enumerate(
        sorted({x for t in texts for x in t.split()}))}
    bow = np.zeros((len(texts), len(index)), dtype=np.float32)
    for i, t in enumerate(texts):
        for w in t.split():
            bow[i, index[w]] += 1
    bow /= np.linalg.norm(bow, axis=1, keepdims=True)
    sh = [shingles(t) for t in texts]
    dup = np.zeros(len(texts), dtype=bool)
    for lo in range(0, len(texts), 500):
        sim = bow[lo:lo + 500] @ bow.T
        for a, b in zip(*np.nonzero(sim >= 0.9)):
            a += lo
            if a < b and len(sh[a] | sh[b]) and \
                    len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= jaccard:
                dup[a] = dup[b] = True
    emb = np.stack(pq.read_table(os.path.join(in_dir, "embeddings.parquet"),
                                 columns=["embedding"]).column(0)
                   .to_numpy(zero_copy_only=False)).astype(np.float64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    cos = emb @ emb.T
    np.fill_diagonal(cos, -1)
    return float(dup.mean()), float((cos.max(axis=1) >= cosine).mean())
