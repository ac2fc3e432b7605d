"""Deterministic scale-up generator (round 9 — VERDICT r8 item 1):
tile the driver's sf0.1 fixtures K× (default 10 → "sf1", ~6M lineitem
rows) with RE-KEYED copies so the engine can be certified one decade
above the largest driver-generated SF — the first measurement where
data, not per-job scheduling, dominates.

Design constraints (why this is not a naive concat):

* **Referential integrity**: every foreign key is re-keyed with the
  same stride as its dimension (o_custkey with customer's, l_orderkey/
  l_partkey/l_suppkey with orders'/part's/supplier's), so join
  cardinalities scale exactly linearly. region/nation are fixed dims
  and copy once.
* **No cross-copy exact ties**: copy 0 is the sf0.1 original verbatim;
  copies i>0 perturb continuous measure columns by +i·ε and
  timestamps by +i µs/s. Ten byte-identical copies would put exact
  ties at every top-k boundary (Spark and the DuckDB oracle would
  legitimately pick different rows) and make every near-dup operator
  degenerate (each doc in a 10-clique).
* **Documents**: per-copy DETERMINISTIC word permutation (seeded by
  (doc_id, copy)) — unigram stats, lengths, langs and sources keep
  their distributions, but shingle sets differ across copies, so the
  dedup operators see a realistically grown corpus, not 10× planted
  duplicates. doc_ids stay far below the 1,000,000 planted-near-dup
  namespace the dedup queries reserve.
* **Embeddings**: per-copy seeded Gaussian jitter (σ=0.05) — a pure
  rescale would keep cosines identical and tie every ANN top-k.
* **Schema fidelity**: each output column is cast back to the source
  arrow type (events keeps its TIMESTAMP(NANOS) physical type — the
  `load_table` nanos contract stays exercised at sf1).

Usage:  python tools/gen_sf.py [--src /root/testdata/sf0.1]
                               [--out .data/sf1] [--copies 10]
Output is gitignored; regeneration is byte-stable (seeded, single
file per table, one row group order).
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

COPY_ONCE = {"region", "nation"}

# key column -> stride source table (stride = max(key)+1 of the dim)
KEY_STRIDE = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}

# continuous measure columns perturbed by +i*eps in copies i>0 (kills
# cross-copy top-k ties; copy 0 stays the exact original)
PERTURB = {
    "customer": {"c_acctbal": 0.01},
    "supplier": {"s_acctbal": 0.01},
    "part": {"p_retailprice": 0.01},
    "orders": {"o_totalprice": 0.01},
    "lineitem": {"l_extendedprice": 0.01},
    # whole cents ONLY — the registry's exact-sum oracles cast event
    # values to DECIMAL(18,2), i.e. the fixtures' 2-decimal grid is a
    # DATA CONTRACT. Sub-cent epsilons failed the certification sweep
    # three ways: 1e-6 put p50 midpoints on the round(...,6) boundary
    # (events_latency_bands), 1e-3 landed on DECIMAL(18,2)'s .xx5
    # half-way (range_join_windows, HALF_UP vs HALF_EVEN), and 2e-4
    # made the decimal cast LOSSY against raw-double sums
    # (stateful_running_counts, off by n_events*eps). Cent steps keep
    # every cast exact. Cross-copy value ties are fine — the 2-decimal
    # grid already collides heavily within one copy, so every query
    # already tie-breaks deterministically.
    "events": {"value": 0.01},
}

# timestamp columns shifted by +i units in copies i>0
TS_SHIFT = {
    "orders": {"o_orderdate": ("s", 1)},
    "lineitem": {"l_shipdate": ("s", 1)},
    "events": {"ts": ("us", 1)},
}


def _strides(src: str) -> dict[str, int]:
    """stride name -> max(key)+1, read from each table's OWN key
    columns only (fact tables' foreign keys reuse their dimension's
    stride, so lineitem never needs reading here)."""
    own_keys = {
        "customer": ("customer", "c_custkey"),
        "supplier": ("supplier", "s_suppkey"),
        "part": ("part", "p_partkey"),
        "orders": ("orders", "o_orderkey"),
        "events": ("events", "event_id"),
        "events_user": ("events", "user_id"),
        "documents": ("documents", "doc_id"),
        "embeddings": ("embeddings", "vec_id"),
    }
    out: dict[str, int] = {}
    for stride_name, (table, col) in own_keys.items():
        t = pq.read_table(
            os.path.join(src, f"{table}.parquet"), columns=[col]
        )
        out[stride_name] = pc.max(t.column(col)).as_py() + 1
    return out


def _permute_text(text: str, seed: int) -> str:
    words = text.split(" ")
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(words))
    return " ".join(words[j] for j in order)


def _tile(name: str, tbl: pa.Table, i: int, strides: dict) -> pa.Table:
    """Copy ``i`` of one table (copy 0 = identity)."""
    if i == 0:
        return tbl
    cols = {}
    for field in tbl.schema:
        cols[field.name] = tbl.column(field.name)
    # re-key
    for col, skey in KEY_STRIDE.get(name, {}).items():
        stride = strides[skey]
        shifted = pc.add(cols[col], i * stride)
        cols[col] = pc.cast(shifted, tbl.schema.field(col).type)
    # perturb continuous measures
    for col, eps in PERTURB.get(name, {}).items():
        bumped = pc.round(
            pc.add(cols[col], i * eps), ndigits=6
        )
        cols[col] = pc.cast(bumped, tbl.schema.field(col).type)
    # shift timestamps
    for col, (unit, step) in TS_SHIFT.get(name, {}).items():
        delta = pa.scalar(i * step, type=pa.duration(unit))
        shifted = pc.add(cols[col], delta)
        cols[col] = pc.cast(shifted, tbl.schema.field(col).type)
    if name == "documents":
        ids = cols["doc_id"].to_pylist()
        texts = tbl.column("text").to_pylist()
        new_texts = [
            _permute_text(t_, (d * 1_000 + i) & 0x7FFFFFFF)
            for d, t_ in zip(ids, texts)
        ]
        cols["text"] = pa.array(new_texts, type=pa.string())
        cols["n_chars"] = pc.cast(
            pa.array([len(t_) for t_ in new_texts]),
            tbl.schema.field("n_chars").type,
        )
    if name == "embeddings":
        # FRESH seeded unit vectors per copy, matching the fixture's
        # own distribution (measured: random unit vectors, labels are
        # not geometric clusters). Jittering the originals instead
        # (first attempt) left cross-copy cosines ≈0.93 — 20k mutual
        # near-duplicates that blew every LSH/ANN candidate set up
        # ~100× at 10× data. A grown corpus gets NEW vectors.
        emb = tbl.column("embedding").combine_chunks()
        flat = np.asarray(emb.values, dtype=np.float32)
        dim = len(flat) // len(tbl)
        rng = np.random.default_rng(7919 * i)
        fresh = rng.standard_normal((len(tbl), dim)).astype(np.float32)
        fresh /= np.linalg.norm(fresh, axis=1, keepdims=True)
        cols["embedding"] = pa.ListArray.from_arrays(
            pa.array(
                np.arange(0, len(flat) + 1, dim, dtype=np.int32)
            ),
            pa.array(fresh.reshape(-1), type=pa.float32()),
        ).cast(tbl.schema.field("embedding").type)
    return pa.table(cols, schema=tbl.schema)


# ---------------------------------------------------------------------------
# Zipf-vocabulary corpus (round 10 — VERDICT r9 item 1)
# ---------------------------------------------------------------------------
# The driver fixtures' ~30-word vocabulary makes document-frequency
# selectivity degenerate: prefix filtering (ppjoin), df-pruned postings
# (bm25/tfidf/sparse-cosine) and containment signatures all see every
# token in ~every doc. `--zipf-docs` REGENERATES the documents table's
# text with a Zipf-Mandelbrot-distributed ~50k-word vocabulary and a
# lognormal doc-length distribution — the measured shape of natural
# corpora (Zipf exponent ~1.07, Mandelbrot shift ~2.7; lognormal
# lengths per Mitzenmacher 2004).
#
# Contracts kept:
# * text is a PURE function of doc_id (seeded per doc) — the zipf
#   variants of two SFs agree on their shared doc_ids, and tiled
#   copies get fresh text for free (their doc_ids differ).
# * schema unchanged; n_chars = len(text); doc_id/lang/source ride
#   through from the tiled source rows, so every modulo-planted dedup
#   fixture and stratification contract still holds.
# * the top vocabulary ranks of each doc's recorded lang are that
#   language's REAL function words (llm/text_analysis.LANG_MARKERS),
#   so language-ID / stopword-ratio / quality queries stay
#   non-degenerate; sentences end with '.' every ~8–18 words so the
#   sentence and punctuation features stay live too.

_ZIPF_V = 50_000  # vocabulary size
_ZIPF_A = 1.07    # Zipf exponent
_ZIPF_B = 2.7     # Mandelbrot shift

# mirror llm/text_analysis.LANG_MARKERS for langs the fixture uses;
# other langs keep pseudo-words (their lang-id is legitimately "und")
_LANG_TOP = {
    "en": ("the", "and", "of", "is", "to", "in"),
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "es": ("el", "la", "los", "que", "y", "es"),
}

_CONS = "bcdfgklmnprstvz"
_VOWS = "aeiou"


def _pseudo_word(rank: int) -> str:
    """Deterministic pronounceable surface for a vocabulary rank:
    2–5 consonant+vowel syllables, pure [a-z] (tokenizer-friendly)."""
    n = len(_CONS) * len(_VOWS)  # 75 syllables
    syls = []
    r = rank
    while True:
        syls.append(_CONS[(r // len(_VOWS)) % len(_CONS)]
                    + _VOWS[r % len(_VOWS)])
        r = r // n - 1
        if r < 0:
            break
    return "".join(reversed(syls))


def _zipf_vocab() -> dict[str, "np.ndarray"]:
    """Per-lang vocab arrays (only the top-6 ranks differ) + the
    shared Zipf-Mandelbrot CDF.

    Pseudo-word surfaces that collide with an injected marker word are
    SKIPPED (advice r10 #4: 'to' is both en rank 4 and the CV syllable
    at pseudo-rank 63, 'la' es rank ~1 and pseudo-rank 30 — one surface
    occupying two ranks inflates that token's document frequency
    against the intended Zipf shape), so every surface form maps to
    exactly one vocabulary rank."""
    markers = {w for tops in _LANG_TOP.values() for w in tops}
    surfaces: list[str] = []
    r = 0
    while len(surfaces) < _ZIPF_V:
        w = _pseudo_word(r)
        r += 1
        if w in markers:
            continue
        surfaces.append(w)
    base = np.array(surfaces, dtype=object)
    out = {}
    for lang, tops in _LANG_TOP.items():
        v = base.copy()
        v[: len(tops)] = list(tops)
        out[lang] = v
    out[""] = base
    return out


def _zipf_texts(doc_ids, langs) -> list[str]:
    """Fresh Zipf text per doc — seeded by doc_id ONLY, so the corpus
    for a given id set is identical across SFs and tilings."""
    p = 1.0 / np.power(np.arange(_ZIPF_V) + 1 + _ZIPF_B, _ZIPF_A)
    cdf = np.cumsum(p / p.sum())
    vocabs = _zipf_vocab()
    texts = []
    for did, lang in zip(doc_ids, langs):
        rng = np.random.default_rng(0x5EED0 + 2 * int(did))
        n = int(np.clip(rng.lognormal(np.log(80.0), 1.0), 10, 2000))
        ranks = np.searchsorted(cdf, rng.random(n))
        vocab = vocabs.get(lang, vocabs[""])
        ws = vocab[ranks]
        # sentence boundaries every ~8–18 words; terminal '.' always
        pieces = []
        i = 0
        while i < n:
            step = int(rng.integers(8, 19))
            pieces.append(" ".join(ws[i : i + step]) + ".")
            i += step
        texts.append(" ".join(pieces))
    return texts


def _zipfify_documents(tbl: pa.Table) -> pa.Table:
    cols = {f.name: tbl.column(f.name) for f in tbl.schema}
    texts = _zipf_texts(
        cols["doc_id"].to_pylist(), cols["lang"].to_pylist()
    )
    cols["text"] = pa.array(texts, type=pa.string())
    cols["n_chars"] = pc.cast(
        pa.array([len(t) for t in texts]),
        tbl.schema.field("n_chars").type,
    )
    return pa.table(cols, schema=tbl.schema)


def generate(src: str, out: str, copies: int, zipf_docs: bool = False) -> None:
    os.makedirs(out, exist_ok=True)
    strides = _strides(src)
    for name in TABLES:
        tbl = pq.read_table(os.path.join(src, f"{name}.parquet"))
        n = 1 if name in COPY_ONCE else copies
        parts = [_tile(name, tbl, i, strides) for i in range(n)]
        result = pa.concat_tables(parts).combine_chunks()
        if zipf_docs and name == "documents":
            result = _zipfify_documents(result)
        pq.write_table(
            result, os.path.join(out, f"{name}.parquet")
        )
        print(f"{name}: {len(tbl)} -> {len(result)} rows")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".data",
            "sf1",
        ),
    )
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument(
        "--zipf-docs",
        action="store_true",
        help="regenerate documents.text with the Zipf-Mandelbrot "
        "50k-word vocabulary (realistic df selectivity)",
    )
    args = ap.parse_args()
    generate(args.src, args.out, args.copies, zipf_docs=args.zipf_docs)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
