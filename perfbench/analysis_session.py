"""``analysis_session``: one analyst's session over a warehouse and a
document corpus.

The session runs a dedup pass over the corpus (the run's items), then the
first call of every registry query and of every fresh top-k batch, then
repeats all of them in seed-shuffled rounds for the run's measured
seconds.

The repeated calls live in the program's caches: the ``queries`` plan
memo, the ``datasets`` relation cache and Spark scheduling carry them.
The dedup pass and the searches put the ``llm`` layer to work; ``plans``
and ``table`` stay idle. See ``warehouse_queries`` and ``corpus_dedup``
for the two parts.
"""

from __future__ import annotations

import os
import time
from functools import partial

import numpy as np

from perfbench import corpus_dedup, warehouse_queries
from perfbench.context import Ctx, Outcome


def prepare(inputs: str, seed: int, smoke: bool) -> None:
    warehouse_queries.prepare(os.path.join(inputs, "warehouse"), seed, smoke)
    corpus_dedup.prepare(os.path.join(inputs, "corpus"), seed, smoke)


def run(ctx: Ctx) -> Outcome:
    out = Outcome()
    corpus = corpus_dedup.Corpus(ctx, os.path.join(ctx.inputs, "corpus"), out)
    queries = warehouse_queries.QuerySet(ctx, os.path.join(ctx.inputs, "warehouse"), out)

    corpus.dedup_pass()
    queries.first_calls()
    corpus.fresh_batches()

    calls = [partial(queries.invoke, name) for name in queries.names]
    calls += [partial(corpus.repeat, n) for n in range(len(corpus.batches))]
    rng = np.random.default_rng([ctx.seed, 5])

    deadline = ctx.deadline()
    while time.perf_counter() < deadline:
        # whole rounds only, so every call has as many timed repeats
        for i in rng.permutation(len(calls)):
            calls[i](out.repeat)

    queries.finish()
    corpus.finish()
    return out
