"""Deterministic sampling / splitting for training-data curation
(SURVEY.md §2.12 extension surface).

``df.sample()`` is seed-dependent per partitioning and non-reproducible
across engines and re-runs with different file splits. Curation pipelines
need the opposite: membership decided by a *pure function of the row key*,
so a sample is stable across reruns, engines, and cluster layouts, and
train/eval splits can never leak rows when data is re-partitioned.

Everything here is a narrow projection + filter over the portable
60-bit md5 hash (llm.dedup.md5_hash64) — zero shuffles, pushdown-friendly,
reproducible bit-for-bit in any engine with md5 (the DuckDB oracle twin).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fefal_etl_spark.llm.dedup import md5_hash64

# Hash buckets for rate resolution: rates are exact multiples of 1/10000.
BUCKETS = 10_000


def salted_bucket(key: Column, salt: str, modulus: int) -> Column:
    """The shared portable bucketing primitive: md5(salt|key) % modulus.
    Every deterministic sampler/sharder in this module derives from this
    ONE expression so a change to the hash convention lands everywhere."""
    k = F.concat(F.lit(salt), F.lit("|"), key.cast("string"))
    return md5_hash64(k) % modulus


def sample_bucket(key: Column, salt: str = "") -> Column:
    """Stable bucket in [0, BUCKETS) for a row key. ``salt`` decorrelates
    independent samples drawn from the same keys (each salt is a fresh
    hash function)."""
    return salted_bucket(key, salt, BUCKETS)


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep rows whose key-bucket < fraction·BUCKETS — a reproducible
    ``fraction`` sample (exact expectation, binomial variance), invariant
    to partitioning/order/engine."""
    return df.filter(sample_bucket(F.col(key_col), salt) < int(fraction * BUCKETS))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample dominant languages,
    keep all of rare ones). One narrow filter; no shuffle, no per-stratum
    passes."""
    bucket = sample_bucket(F.col(key_col), salt)
    thresh = F.lit(int(default_fraction * BUCKETS))
    for value, frac in fractions.items():
        thresh = F.when(
            F.col(strata_col) == value, F.lit(int(frac * BUCKETS))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def train_test_split(
    df: DataFrame, key_col: str, test_fraction: float = 0.1, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """Leak-proof split: membership is a pure function of the key, so a row
    can never migrate between sides across reruns or repartitions."""
    test_mask = sample_bucket(F.col(key_col), salt) < int(test_fraction * BUCKETS)
    return df.filter(~test_mask), df.filter(test_mask)


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 4096,
    num_shards: int = 32,
) -> DataFrame:
    """Deterministic contiguous sequence packing: assign documents to
    fixed-token-budget training bins. Docs are sharded by ``id % shards``,
    ordered by id within the shard, and each doc lands in the bin where its
    cumulative token count STARTS (``bin_id = floor(start / budget)``).

    Semantics (stream chunking, NOT bounded-bin packing): within a shard
    the docs form one concatenated token stream and bins are its
    consecutive ``budget``-token windows. A doc whose start lies near a
    window boundary STRADDLES it — ``bin_offset + n_tokens`` may exceed
    ``budget`` — which is exactly the GPT-style "concatenate then chunk"
    pretraining layout (the chunker splits straddling docs at materialize
    time). A consumer that instead needs every doc whole within a
    hard-capped bin must run a sequential first-fit pass per shard
    (``applyInPandas``); that fold is order-dependent and deliberately not
    what this operator computes (ADVICE r2: the old docstring claimed
    no-split under-filled bins, which this never was).

    Output adds (shard, bin_id, bin_offset): bin_offset is the token
    position where the doc starts inside its bin's window.

    Scale: ONE shuffle on the shard key, a within-shard ordered cumsum —
    never a global single-partition window; ``num_shards`` scales with the
    cluster (any deterministic function of the id works). Packing is a
    pure function of (id, token counts), so re-runs and both engines agree
    bit-for-bit — no RNG, no driver state.
    """
    shard = (F.col(id_col) % num_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(F.col(token_col)).over(w) - F.col(token_col)).alias("__start")
    return (
        df.select(F.col(id_col), F.col(token_col), shard)
        .withColumn("__start", start)
        .select(
            id_col,
            token_col,
            "shard",
            F.floor(F.col("__start") / budget).cast("long").alias("bin_id"),
            (F.col("__start") % budget).cast("long").alias("bin_offset"),
        )
    )


def temperature_resample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    target_pct: int = 50,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-flattened domain mixing (the multilingual/multi-source
    rebalancing staple, e.g. the α=0.5 sampling of mBERT/XLM-R): draw a
    deterministic sample of ≈``target_pct``% of the corpus whose per-group
    share is proportional to √(group size) instead of group size, boosting
    small domains and damping dominant ones.

    Exactness across engines: the keep decision is an ALL-INTEGER
    multiply-compare. With n_g = group count, w_g = ⌊√n_g⌋, W = Σ w_g,
    N = Σ n_g, T = N·target_pct/100 (integer division), a row is kept iff

        bucket · W · n_g  <  BUCKETS · T · w_g

    — the exact form of "bucket/BUCKETS < (T·w_g/W)/n_g" with zero
    divisions, so there is no float threshold for the two engines to
    disagree about (same convention as dormant_customer_balances).
    ⌊√n⌋ via floor(sqrt(n)) is exact for n < 2^52 in both engines (IEEE
    sqrt is correctly rounded; perfect squares hit exactly). Products are
    carried in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so the compare
    survives 10¹²-row groups where BIGINT would overflow.

    Scale: one tiny groupBy for the per-group counts, one one-row total,
    broadcast-joined back; the corpus itself sees only a narrow filter —
    no corpus shuffle. Groups with a keep rate ≥ 1 keep every row
    (rhs ≥ BUCKETS·lhs-max), small groups are upsampled only to full
    retention (classic cap — this operator never duplicates rows).
    """
    dec = "decimal(38,0)"
    counts = df.groupBy(group_col).agg(F.count("*").alias("__n_g"))
    totals = counts.agg(
        F.sum(F.floor(F.sqrt(F.col("__n_g"))).cast("long")).alias("__w_tot"),
        F.sum("__n_g").alias("__n_tot"),
    )
    dims = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col(group_col).alias("__grp"),
            F.col("__n_g"),
            F.floor(F.sqrt(F.col("__n_g"))).cast("long").alias("__w_g"),
            "__w_tot",
            F.expr(f"CAST(__n_tot * {target_pct} DIV 100 AS BIGINT)").alias("__t"),
        )
    )
    bucket = sample_bucket(F.col(key_col), salt)
    lhs = bucket.cast(dec) * F.col("__w_tot").cast(dec) * F.col("__n_g").cast(dec)
    rhs = (
        F.lit(BUCKETS).cast(dec)
        * F.col("__t").cast(dec)
        * F.col("__w_g").cast(dec)
    )
    return (
        df.join(F.broadcast(dims), df[group_col] == dims["__grp"])
        .filter(lhs < rhs)
        .drop("__grp", "__n_g", "__w_g", "__w_tot", "__t")
    )


def shard_assign(key: Column, num_shards: int = 64, salt: str = "shard") -> Column:
    """Stable training-shard id in [0, num_shards): a pure function of the
    row key, so the shard layout — and therefore the training-data order —
    is reproducible across reruns, engines, and cluster sizes. Feed this to
    ``DataFrameWriter.partitionBy`` (with ``maxRecordsPerFile`` for
    bounded file sizes) to materialize the sharded corpus; the md5 mix
    also serves as the deterministic global shuffle (within-shard order by
    the same hash) that pretraining loaders expect."""
    return salted_bucket(key, salt, num_shards)


def per_group_cap(
    df: DataFrame,
    group_col: str,
    key_col: str,
    cap: int,
    salt: str = "cap",
) -> DataFrame:
    """At most ``cap`` rows per group, chosen DETERMINISTICALLY — the
    domain/source balancing staple ("no more than N documents per
    domain"): rows are ranked inside each group by their salted key hash
    (a reproducible uniform shuffle — no RNG, engine-portable) and rows
    ranked past the cap are dropped. Re-runs, repartitions, and both
    engines select the identical subset; a fresh ``salt`` draws an
    independent cap sample.

    Scale: one group-keyed shuffle for the ranking window. A pathologically
    hot group (one domain = half the corpus) makes one heavy window
    partition — cap such groups in two stages: pre-filter with
    ``deterministic_sample`` at a rate ≈ cap/E[group size] to shed the
    bulk narrow-side, then apply the exact window cap to the survivors.
    """
    rank = F.row_number().over(
        Window.partitionBy(group_col).orderBy(
            md5_hash64(
                F.concat(F.lit(salt), F.lit("|"), F.col(key_col).cast("string"))
            ),
            F.col(key_col),  # total order even under a 60-bit hash collision
        )
    )
    return df.withColumn("__rk", rank).filter(F.col("__rk") <= cap).drop("__rk")


def cluster_safe_split(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    test_fraction: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe train/test split: near-duplicate documents must never
    straddle the split (a doc-level split leaks test content into train
    through its near-dup twins — the contamination vector benchmark-level
    decontamination can't see). Membership is decided per duplicate
    CLUSTER: connected components over the near-dup pair list, then the
    salted-md5 bucket of the COMPONENT id picks the side, so a whole
    cluster lands together; singletons (no edges) fall back to their own
    id and reproduce :func:`train_test_split` exactly.

    Scale shape: components are computed on the driver from the collected
    EDGE list only (≪ corpus — only docs with at least one near-dup pair
    appear; it must fit in driver memory), then joined back to the corpus
    once on the doc key; the corpus itself is never collected. Split
    membership stays a pure function of (salt, component min-id),
    invariant to partitioning, rerun, and engine.

    Output: (id, component, side∈{train,test}).
    """
    from fefal_etl_spark.llm.dedup import connected_components

    comp = connected_components(edges)
    labeled = df.join(comp, df[id_col] == comp["node"], "left").select(
        df[id_col],
        F.coalesce(F.col("component"), df[id_col]).cast("long").alias("component"),
    )
    bucket = sample_bucket(F.col("component"), salt)
    return labeled.withColumn(
        "side",
        F.when(bucket < int(test_fraction * BUCKETS), F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsamp",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (the
    Efraimidis-Spirakis A-ES scheme): each row draws a reproducible
    uniform u from an md5 of (salt, id) and competes with key
    ln(u)/weight — the top-k keys are a weighted sample, exactly as if
    rows were drawn one by one with probability ∝ weight. The standard
    tool for importance-weighted data mixing (sample documents ∝ quality
    score) when the RNG must be replayable across engines and runs.

    All randomness is hash-derived (no RNG state): u = (h+1)/2⁵² from 13
    md5 hex digits, so the sample is a pure function of (salt, id,
    weight) — re-partitioning or re-running cannot change it. Keys are
    rounded to 9 decimals before ranking (ln is libm — one ulp must not
    reorder the cut) with the id as tiebreak. Top-k is
    TakeOrderedAndProject (no global sort); weights must be > 0.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    u = (h + 1) / F.lit(float(2**52))
    key = F.round(F.log(u) / F.col(weight_col), 9)
    top = (
        df.select(
            F.col(id_col),
            F.col(weight_col).alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.col("sample_key").desc(), F.col(id_col))
    return top.withColumn("rk", F.row_number().over(w).cast("long"))
