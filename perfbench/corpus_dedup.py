"""The corpus part of the ``analysis_session`` workload: batch dedup of a
generated corpus, then top-k search.

One dedup pass runs ``curate_corpus`` → ``exact_dup_groups`` →
``minhash_lsh_neardup`` → ``canonicalize_clusters`` (which runs
``connected_components``) over every document. The session then issues
batches of ``ivf_topk`` searches, each batch once fresh and then
repeated, as an analyst refining a search would.

The ``llm`` layer does this work; its shuffles are shaped by shingle
explodes and band self-joins.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from perfbench import gen_corpus
from perfbench.context import Ctx, Outcome

N_DOCS = 600
SMOKE_DOCS = 400
BATCH = 16  # query vectors per top-k batch
K = 10
NPROBE = 3
FRESH_BATCHES = 2  # new top-k batches, each then repeated
NEAR_RECALL_FLOOR = 0.8
IVF_RECALL_FLOOR = 0.8


def prepare(inputs: str, seed: int, smoke: bool) -> None:
    gen_corpus.write(inputs, seed, SMOKE_DOCS if smoke else N_DOCS)


def _dedup_pass(ctx: Ctx, docs, truth: dict, out: Outcome) -> None:
    from pyspark.sql import functions as F

    from fefal_etl_spark.llm.curation import curate_corpus
    from fefal_etl_spark.llm.dedup import (
        canonicalize_clusters,
        exact_dup_groups,
        minhash_lsh_neardup,
    )

    tr = ctx.tracer
    with tr.span("llm.curate"):
        kept_ids = curate_corpus(
            docs.select("doc_id", "text", "lang"), default_fraction=1.0
        ).select("doc_id").persist()
        n_kept = kept_ids.count()
    with tr.span("llm.exact_dedup"):
        groups = (
            exact_dup_groups(docs, "doc_id", "text")
            .filter(F.col("n_copies") > 1)
            .select("keeper_id", "n_copies")
            .collect()
        )
    kept = docs.join(kept_ids, "doc_id", "left_semi")
    with tr.span("llm.minhash"):
        found = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_neardup(kept, "doc_id", "text", threshold=0.5).collect()
        }
    # the pair list is small; handing it over as a fresh frame keeps the
    # near-dup lineage out of the component iterations
    edges = ctx.spark.createDataFrame(sorted(found), "src long, dst long")
    with tr.span("llm.components"):
        clusters = (
            canonicalize_clusters(kept, edges, "doc_id", "n_chars")
            .filter(F.col("cluster_size") > 1)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cluster_size").alias("docs"))
            .collect()[0]
        )
    kept_set = {r["doc_id"] for r in kept_ids.collect()}
    kept_ids.unpersist()

    got = sorted([r["keeper_id"], r["n_copies"]] for r in groups)
    out.check(got == truth["exact_groups"], "exact-dup groups differ from the planted ones")
    # recall over the planted pairs whose documents both passed curation
    planted = {
        tuple(p) for p in truth["near_pairs"] if p[0] in kept_set and p[1] in kept_set
    }
    recall = len(planted & found) / len(planted) if planted else 1.0
    out.check(recall >= NEAR_RECALL_FLOOR, f"near-dup recall {recall:.3f}")
    nodes = {i for p in found for i in p}
    out.check(
        (clusters["docs"] or 0) == len(nodes),
        f"clustered docs {clusters['docs']} != near-dup nodes {len(nodes)}",
    )
    out.counters["corpus.kept"] = n_kept


def _lsh_counts(docs, kept_ids) -> dict:
    """Candidate and verified pair counts of the near-dup stage, taken
    apart from the timed pass (traced runs only)."""
    from fefal_etl_spark.llm.dedup import (
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_lsh_neardup,
        minhash_signatures,
        shingles,
    )

    kept = docs.join(kept_ids, "doc_id", "left_semi")
    sh = shingles(kept, "doc_id", "text", n=3, as_hash=True, distinct=True)
    sig = minhash_signatures(sh, "doc_id", num_hashes=16, input_distinct=True, rows_per_band=4)
    cand = lsh_candidate_pairs(lsh_band_buckets(sig, "doc_id", rows_per_band=4), "doc_id").count()
    verified = minhash_lsh_neardup(kept, "doc_id", "text", threshold=0.5).count()
    return {
        "llm.lsh_candidates": cand,
        "llm.verified_pairs": verified,
        "llm.lsh_precision": verified / cand if cand else 0.0,
    }


def _topk_batch(docs, centroids, ids: list[int]):
    from pyspark.sql import functions as F

    from fefal_etl_spark.llm.similarity import ivf_topk

    queries = docs.filter(F.col("doc_id").isin(ids)).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        docs.select("doc_id", "embedding"), centroids, queries,
        id_col="doc_id", vec_col="embedding", nprobe=NPROBE, k=K,
    ), queries


def _check_ivf_recall(docs, queries, ivf_rows: list, out: Outcome) -> None:
    """IVF results of one batch against exact ``cosine_topk``."""
    from fefal_etl_spark.llm.similarity import cosine_topk

    exact = cosine_topk(
        docs.select("doc_id", "embedding"), queries, id_col="doc_id", k=K
    )
    a = {(r["query_id"], r["doc_id"]) for r in ivf_rows}
    b = {(r["query_id"], r["doc_id"]) for r in exact.collect()}
    recall = len(a & b) / len(b) if b else 1.0
    out.check(recall >= IVF_RECALL_FLOOR, f"ivf recall {recall:.3f}")


def _timed_topk(tr, df, sink: list[float], out: Outcome) -> list:
    t0 = time.perf_counter()
    with tr.span("corpus.topk_batch"):
        with tr.span("llm.topk"):
            rows = df.collect()
    sink.append(time.perf_counter() - t0)
    out.check(len(rows) == BATCH * K, f"top-k batch returned {len(rows)} rows")
    return rows


class Corpus:
    """The session's document corpus: one dedup pass, then top-k batches."""

    def __init__(self, ctx: Ctx, inputs: str, out: Outcome):
        from fefal_etl_spark.sources.readers import read_parquet

        self.ctx, self.out = ctx, out
        with open(os.path.join(inputs, "truth.json")) as f:
            self.truth = json.load(f)
        with ctx.tracer.span("sources.read_parquet"):
            self.docs = read_parquet(ctx.spark, os.path.join(inputs, "docs.parquet"))
            self.centroids = read_parquet(ctx.spark, os.path.join(inputs, "centroids.parquet"))
        self.batches: list = []
        self._queries = self._rows = None

    def dedup_pass(self) -> None:
        """The timed pass over every document: the run's items."""
        out = self.out
        t0 = time.perf_counter()
        with self.ctx.tracer.span("corpus.pass"):
            _dedup_pass(self.ctx, self.docs, self.truth, out)
        out.items_s = time.perf_counter() - t0
        out.items = self.truth["docs"]
        out.attempted += 1

    def fresh_batches(self) -> None:
        """New top-k batches, each timed as a first call. The session's
        first search also compiles the search operators once; it is checked
        but not timed, so fresh-batch latency is per batch."""
        rng = np.random.default_rng([self.ctx.seed, 13])
        for n in range(FRESH_BATCHES + 1):
            ids = [int(i) for i in rng.choice(self.truth["docs"], BATCH, replace=False)]
            df, self._queries = _topk_batch(self.docs, self.centroids, ids)
            self.batches.append(df)
            sink = self.out.first[f"topk_batch{n}"] if n else []
            self._rows = _timed_topk(self.ctx.tracer, df, sink, self.out)

    def repeat(self, n: int, sink: dict[str, list[float]]) -> None:
        """Re-issue batch ``n``, recording its latency in ``sink``."""
        key = f"topk_batch{n}"
        _timed_topk(self.ctx.tracer, self.batches[n], sink[key], self.out)

    def finish(self) -> None:
        _check_ivf_recall(self.docs, self._queries, self._rows, self.out)
        if self.ctx.tracer.enabled:
            from fefal_etl_spark.llm.curation import curate_corpus

            kept_ids = curate_corpus(
                self.docs.select("doc_id", "text", "lang"), default_fraction=1.0
            ).select("doc_id")
            self.out.counters.update(_lsh_counts(self.docs, kept_ids))
