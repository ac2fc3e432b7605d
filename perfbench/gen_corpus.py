"""Seeded corpus for the corpus part of the ``analysis_session`` workload.

Documents draw words from a Zipf-distributed vocabulary and span a few
lines. A share of documents is planted as exact copies (groups of 2-4)
and another share as near copies (one or two words replaced), and every
document carries an embedding drawn around one of a fixed set of
centroids. The planted groups and pairs are written next to the data so
the benchmark can check what the program finds.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 4000
ZIPF_A = 1.05
DIM = 64
N_CENTROIDS = 32
LANGS = ["en", "pt", "es", "fr", "de"]
BOILERPLATE_SHARE = 0.3
N_BOILERPLATE = 12


def _word(i: int) -> str:
    """Pronounceable pseudo-word for vocabulary rank ``i``."""
    cons, vows = "bcdfglmnprstv", "aeiou"
    out = []
    i += 1
    while i:
        i, r = divmod(i, len(cons) * len(vows))
        out.append(cons[r % len(cons)] + vows[r // len(cons)])
    return "".join(out)


WORDS = np.array([_word(i) for i in range(VOCAB)])


def _text(rng: np.random.Generator, boilerplate: list[str]) -> str:
    n = int(rng.integers(30, 120))
    ranks = (rng.zipf(ZIPF_A, n) - 1) % VOCAB
    # each document ranks the vocabulary from its own topic offset, so
    # documents share common words only when their topics are close
    ranks = (ranks + rng.integers(0, VOCAB)) % VOCAB
    words = WORDS[ranks]
    cuts = sorted(rng.choice(np.arange(5, n - 5), size=2, replace=False))
    lines = [" ".join(p) for p in np.split(words, cuts)]
    if rng.random() < BOILERPLATE_SHARE:
        # a shared header line: documents that carry the same one overlap
        # partly, so LSH meets candidates that verification rejects
        lines.insert(0, boilerplate[int(rng.integers(len(boilerplate)))])
    return "\n".join(lines)


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """``text`` with one or two words replaced by different words."""
    lines = [ln.split(" ") for ln in text.split("\n")]
    for _ in range(int(rng.integers(1, 3))):
        ln = lines[int(rng.integers(len(lines)))]
        i = int(rng.integers(len(ln)))
        w = ln[i]
        while w == ln[i]:
            w = str(WORDS[int(rng.integers(VOCAB))])
        ln[i] = w
    return "\n".join(" ".join(ln) for ln in lines)


def write(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``docs.parquet``, ``centroids.parquet`` and ``truth.json``;
    return the truth."""
    rng = np.random.default_rng([seed, 11])
    n_exact = n_docs * 4 // 100  # extra copies in exact groups
    n_near = n_docs * 6 // 100
    n_base = n_docs - n_exact - n_near
    boilerplate = [" ".join(WORDS[rng.integers(0, VOCAB, 40)]) for _ in range(N_BOILERPLATE)]
    texts = [_text(rng, boilerplate) for _ in range(n_base)]
    sources = list(range(n_base))  # base doc each row was copied from
    exact_groups: dict[int, int] = {}
    while len(texts) < n_base + n_exact:
        b = int(rng.integers(n_base))
        if b in exact_groups:
            continue
        k = min(int(rng.integers(1, 4)), n_base + n_exact - len(texts))
        exact_groups[b] = k + 1
        texts += [texts[b]] * k
        sources += [b] * k
    near_pairs = []
    near_src = rng.choice(
        [b for b in range(n_base) if b not in exact_groups], size=n_near, replace=False
    )
    for b in near_src:
        near_pairs.append((int(b), len(texts)))
        texts.append(_near_copy(rng, texts[int(b)]))
        sources.append(int(b))
    # shuffle ids so planted copies are not adjacent to their sources
    perm = rng.permutation(len(texts))
    ids = np.empty(len(texts), dtype=np.int64)
    ids[perm] = np.arange(len(texts))
    doc_texts = [None] * len(texts)
    for old, new in enumerate(ids):
        doc_texts[new] = texts[old]
    centroids = rng.normal(0, 1, (N_CENTROIDS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    cluster = rng.integers(0, N_CENTROIDS, len(texts))
    vecs = centroids[cluster] + rng.normal(0, 0.08, (len(texts), DIM))
    vecs = vecs[np.argsort(ids)].astype("float32")
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
            "text": doc_texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), len(texts))],
            "n_chars": pa.array([len(t) for t in doc_texts], pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }),
        os.path.join(out_dir, "docs.parquet"),
    )
    pq.write_table(
        pa.table({
            "centroid_id": pa.array(np.arange(N_CENTROIDS), pa.int32()),
            "embedding": pa.array(list(centroids.astype("float32")), pa.list_(pa.float32())),
        }),
        os.path.join(out_dir, "centroids.parquet"),
    )
    # exact groups as (keeper = min new id, size)
    groups = {}
    for old, b in enumerate(sources):
        if b in exact_groups:
            groups.setdefault(b, []).append(int(ids[old]))
    truth = {
        "docs": len(texts),
        "exact_groups": sorted([min(g), len(g)] for g in groups.values()),
        "near_pairs": sorted(sorted((int(ids[a]), int(ids[b]))) for a, b in near_pairs),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
