"""Seeded copy-and-mutate corpus generator (corpus_dedup and nightly_fold).

A base corpus shaped like the sf0.1 ``documents`` and ``embeddings``
tables (30-word vocabulary, 10 to 95 words a document, five languages,
twenty sources; 64-dimensional float vectors around ten label centroids)
is drawn from the seed, then grown by copies carrying the pathologies of
the scale-stress corpus:

- exact clones (copies 1 and 2, remapped ids);
- near-dup families: copy 3 replaces every 10th word (trigram Jaccard
  about 0.5 against the original), copy 4 every 5th word (about 0.25);
- boilerplate hot shingles: documents with ``orig % 3 == 0`` carry a fixed
  24-token header, ``orig % 11 == 0`` a fixed 12-token footer, in every
  copy;
- a degenerate template family: ``orig % 61 == 0`` documents are replaced
  by one fixed 40-token template.

Copy ``c`` of base document ``orig`` gets ``doc_id = c * stride + orig``,
so ascending ids deliver every copy after its original. Vectors are cloned
the same way with a small per-copy jitter.

Writes ``documents.parquet``, ``embeddings.parquet``, ``queries.parquet``
(a seeded sample of vector ids for the ANN top-k) and ``truth.json``
(clone-family sizes and the planted shares).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
HEADER = ("site nav home products pricing docs blog careers about "
          "contact legal privacy terms cookies help search login "
          "register cart checkout wishlist support faq sitemap")
FOOTER = "copyright holder all rights reserved terms apply see legal page"
TEMPLATE = " ".join(f"tmpl{i}" for i in range(40))
COPIES = 5
DIM = 64


def _mutate(words, copy):
    if copy < 3:
        return words
    step = 10 if copy == 3 else 5
    return [f"c{copy}w{i}" if i % step == step - 1 else w
            for i, w in enumerate(words)]


def generate(out, seed, base_docs=3000, base_vectors=2000, queries=200):
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out, exist_ok=True)
    stride = 10 ** (len(str(max(base_docs, base_vectors))) + 1)
    lengths = rng.integers(10, 96, size=base_docs)
    base = [[VOCAB[j] for j in rng.integers(0, len(VOCAB), size=n)]
            for n in lengths]
    langs = rng.choice(LANGS, size=base_docs, p=LANG_P)
    sources = rng.integers(0, 20, size=base_docs)

    ids, texts, doc_lang, doc_src = [], [], [], []
    for c in range(COPIES):
        for orig in range(base_docs):
            if orig % 61 == 0:
                text = TEMPLATE
            else:
                text = " ".join(_mutate(base[orig], c))
                if orig % 3 == 0:
                    text = HEADER + " " + text
                if orig % 11 == 0:
                    text = text + " " + FOOTER
            ids.append(c * stride + orig)
            texts.append(text)
            doc_lang.append(str(langs[orig]))
            doc_src.append(f"src{sources[orig]}")
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(doc_lang, pa.string()),
        "source": pa.array(doc_src, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out, "documents.parquet"))

    labels = rng.integers(0, 10, size=base_vectors)
    centroids = rng.normal(0, 1, size=(10, DIM))
    vecs = centroids[labels] + rng.normal(0, 0.8, size=(base_vectors, DIM))
    vec_ids, all_vecs, all_labels = [], [], []
    for c in range(COPIES):
        jitter = 0 if c == 0 else rng.normal(0, 0.02 * c, size=vecs.shape)
        v = (vecs + jitter) / 8.0
        vec_ids.extend(c * stride + np.arange(base_vectors))
        all_vecs.append(v.astype(np.float32))
        all_labels.extend(labels.tolist())
    mat = np.concatenate(all_vecs)
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
        "label": pa.array(all_labels, pa.int32())}),
        os.path.join(out, "embeddings.parquet"))
    qids = np.sort(rng.choice(np.asarray(vec_ids), size=queries, replace=False))
    pq.write_table(pa.table({"vec_id": pa.array(qids, pa.int64())}),
                   os.path.join(out, "queries.parquet"))

    n_template = len(range(0, base_docs, 61))
    truth = {
        "seed": seed, "base_docs": base_docs, "copies": COPIES,
        "stride": stride, "docs": len(ids), "vectors": len(vec_ids),
        "queries": queries,
        # every non-template original heads a family of 3 exact clones
        # (itself and copies 1, 2); the template family is one clone set
        "exact_clone_families": base_docs - n_template,
        "exact_clone_family_size": 3,
        "template_family_size": n_template * COPIES,
        "near_dup_share": 2 / COPIES,
        "header_share": len(range(0, base_docs, 3)) / base_docs,
        "footer_share": len(range(0, base_docs, 11)) / base_docs,
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return truth
