"""Near-duplicate detection at corpus scale (SURVEY.md §2.12 E1).

Four detectors, all pure DataFrame ops (no UDFs):

- **exact**: md5 fingerprint groupBy (``operators.dedup.dedup_exact`` /
  :func:`exact_dup_groups`).
- **MinHash + LSH**: word-shingle → k min-hashes → b bands → band-bucket
  self-join for candidates → exact Jaccard verification. The classic
  sub-quadratic pipeline: at 100 TB the only shuffles are the two groupBys
  (doc×seed minimum, band signature) and the band-bucket join, each keyed
  well below corpus size. Skewed buckets (boilerplate docs) are handled by
  AQE skew-join; a salt can be added to the band key if needed.
- **SimHash**: per-word 60-bit hashes, per-bit majority vote → one 60-bit
  fingerprint per doc; near-dups share fingerprints (or low Hamming
  distance — exposed as an expression).
- **n-gram Jaccard**: direct shingle-join pairwise Jaccard for corpora small
  enough to verify exhaustively (or as the verify stage after LSH).

Hashing is *portable* (md5-derived integers) so results are reproducible
across engines and Spark versions — deliberately not ``xxhash64``, whose
seeds differ between engines and would make oracle checking impossible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fefal_etl_spark.llm.text_analysis import doc_fingerprint


def md5_hash64(col: Column, seed: int | Column | None = None) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5 (seed-mixed).

    15 hex digits = 60 bits < 2^63: always a positive BIGINT in any engine.
    """
    if seed is not None:
        seed_col = seed if isinstance(seed, Column) else F.lit(seed)
        col = F.concat(seed_col.cast("string"), F.lit("|"), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate groups by content fingerprint: one row per distinct
    text with the keeper id (min id) and the duplicate count."""
    return (
        df.withColumn("__fp", doc_fingerprint(F.col(text_col)))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .withColumnRenamed("__fp", "fingerprint")
    )


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    as_hash: bool = False,
    distinct: bool = True,
    portable_hash: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    With ``as_hash`` the shingle column is its portable 60-bit md5 hash
    (LongType) instead of the string: the distinct, every downstream join,
    and the persisted cache then move 8-byte longs instead of ~40-byte
    strings — use it whenever the shingle text itself is not needed
    (signatures and Jaccard verification only test equality; a 60-bit
    collision at corpus scale is ~1e-7 per 10⁶ shingles and hits both
    engines identically, so oracle parity is preserved).

    ``portable_hash=False`` swaps md5 (hex-string round trip, needed when
    an external engine must replay the exact hash values — minhash
    signatures) for JVM-native ``xxhash64`` — measured ~40% faster on the
    decontamination scan, where the hash is equality-tested and then
    discarded, never exposed.

    Narrow except the final distinct (map-side combine keeps it cheap).

    Perf note: the words array is materialized in its OWN projection before
    the n-gram lambda references it — inlining the regex split into the
    higher-order function makes Spark re-evaluate it per element_at (observed
    8× slowdown at sf0.1).
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ws = df.select(F.col(id_col), w.alias("__ws"))
    # Guard docs shorter than n words: Spark's sequence(1, 0) is the
    # DESCENDING [1, 0], not empty, so the unguarded form emits gram index
    # 0 and out-of-range element_at lookups (ANSI: INVALID_ARRAY_INDEX).
    starts = F.when(
        F.size("__ws") >= n,
        F.sequence(F.lit(1), F.size("__ws") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        starts,
        lambda i: F.concat_ws(
            " ", *[F.element_at("__ws", (i + k).cast("int")) for k in range(n)]
        ),
    )
    out = ws.select(F.col(id_col), F.explode(grams).alias("shingle")).filter(
        F.col("shingle") != ""
    )
    if as_hash:
        h = md5_hash64 if portable_hash else F.xxhash64
        out = out.select(F.col(id_col), h(F.col("shingle")).alias("shingle"))
    # distinct=False skips the dedup shuffle — correct for consumers that
    # are multiset-invariant (minhash: min ignores repeats); Jaccard
    # set-size/intersection counts REQUIRE the distinct form.
    return out.distinct() if distinct else out


# Universal-hash family over the Mersenne prime 2^31-1: one md5 per shingle,
# then k cheap integer transforms h_i = (a_i*h + b_i) mod p. a_i < p and
# h < p keep the product under 2^62 (no overflow, ANSI-safe).
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs (LCG-derived, engine-portable)."""
    out = []
    for i in range(num_hashes):
        a = (i * 2_654_435_761 + 0x9E3779B1) % MINHASH_P
        b = (i * 40_503 + 17) % MINHASH_P
        out.append((a or 1, b))
    return out


def minhash_signatures(
    shingle_df: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    size_col: str | None = None,
    input_distinct: bool = False,
    rows_per_band: int | None = None,
) -> DataFrame:
    """Wide signatures (id, mh0..mh{k-1}): k min-hashes in ONE aggregation.

    One md5 per shingle (not per seed×shingle), k min-aggregate columns with
    map-side partial mins, a single shuffle on the doc id, zero row
    expansion — ~16× cheaper than the naive seed-explode formulation.

    Accepts string shingles or pre-hashed longs (``shingles(as_hash=True)``)
    — the reduction mod p is identical either way.

    ``size_col`` additionally emits the per-doc DISTINCT shingle count in
    the same shuffle — the |A| / |B| terms of the downstream Jaccard verify,
    for free instead of a second full pass over the shingle stream. When the
    input stream is already distinct per (id, shingle), pass
    ``input_distinct=True`` so the count is a plain ``count(1)``: a
    ``countDistinct`` mixed with the min aggregates triggers Spark's
    distinct-aggregate rewrite (Expand + double aggregation), doubling the
    shingle stream through the first shuffle — measured ~2 extra stages at
    sf0.1 (round-2 VERDICT item 2).

    ``rows_per_band`` fuses the LSH band signatures into the SAME post-agg
    projection (``band0..band{b-1}`` md5 columns over each minhash slice) —
    no separate pass over the signature frame for the bucketing step.
    """
    from pyspark.sql.types import LongType

    if isinstance(shingle_df.schema["shingle"].dataType, LongType):
        h = F.col("shingle") % MINHASH_P
    else:
        h = md5_hash64(F.col("shingle")) % MINHASH_P
    base = shingle_df.withColumn("__h", h)
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    if size_col:
        size_agg = (
            F.count(F.lit(1)) if input_distinct else F.countDistinct("shingle")
        )
        aggs.append(size_agg.alias(size_col))
    sig = base.groupBy(id_col).agg(*aggs)
    if rows_per_band:
        sig = sig.select(
            "*",
            *[
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{j * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias(f"band{j}")
                for j in range(num_hashes // rows_per_band)
            ],
        )
    return sig


def lsh_band_buckets(
    sig_df: DataFrame, id_col: str, rows_per_band: int = 4
) -> DataFrame:
    """(id, band, band_sig): md5 over each band's minhash slice; the band
    rows come from one small Expand (bands × docs rows).

    If the signature frame already carries fused ``band{j}`` columns
    (``minhash_signatures(rows_per_band=...)``) AND their count matches the
    requested banding, they are exploded directly — no md5 recompute here.
    Detection is strict (``band<digits>`` exactly) so an unrelated column
    like ``band_id`` can't misroute, and a mismatched ``rows_per_band``
    falls through to recomputing from the minhashes instead of silently
    returning the fused banding."""
    import re as _re

    band_cols = sorted(
        (c for c in sig_df.columns if _re.fullmatch(r"band\d+", c)),
        key=lambda c: int(c[4:]),
    )
    mh_cols = [c for c in sig_df.columns if _re.fullmatch(r"mh\d+", c)]
    if band_cols and len(band_cols) == len(mh_cols) // rows_per_band:
        bands = F.array(
            *[
                F.struct(F.lit(j).alias("band"), F.col(f"band{j}").alias("band_sig"))
                for j in range(len(band_cols))
            ]
        )
        return sig_df.select(F.col(id_col), F.explode(bands).alias("b")).select(
            id_col, "b.band", "b.band_sig"
        )
    n_bands = len(mh_cols) // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{j * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_sig"),
            )
            for j in range(n_bands)
        ]
    )
    return sig_df.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, "b.band", "b.band_sig"
    )


def lsh_candidate_pairs(bucket_df: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band bucket — the
    sub-quadratic candidate join."""
    a = bucket_df.select(
        F.col(id_col).alias("id_a"), F.col("band"), F.col("band_sig")
    )
    b = bucket_df.select(
        F.col(id_col).alias("id_b"), F.col("band"), F.col("band_sig")
    )
    return (
        a.join(b, on=["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingle_df: DataFrame,
    id_col: str,
    sizes: DataFrame | None = None,
    filter_to_candidates: bool = True,
) -> DataFrame:
    """Exact Jaccard for candidate pairs via shingle-set joins:
    |A∩B| / (|A| + |B| − |A∩B|). Integer counts → one exact double division.

    ``sizes`` (id, n_sh) may be supplied when the caller already has the
    per-doc distinct-shingle counts (e.g. from the signature aggregation);
    otherwise they are computed here. With ``filter_to_candidates`` the
    shingle stream is first semi-joined to the ids that actually appear in
    a candidate pair — at corpus scale candidates ≪ corpus, so the verify
    joins then move only the shingles of near-duplicate suspects instead of
    the whole corpus (AQE turns the id filter into a broadcast when small).
    """
    if sizes is None:
        sizes = shingle_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if filter_to_candidates:
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        shingle_df = shingle_df.join(cand_ids, on=id_col, how="left_semi")
    sa = shingle_df.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingle_df.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, on="id_a")
        .join(sb, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )


def minhash_lsh_neardup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    persist_min_docs: int = 50_000,
    filter_to_candidates: bool | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pipeline:
    shingle → sign → band → candidate join → exact-Jaccard verify → filter.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.
    """
    # The DISTINCT hashed shingle stream is the one frame every consumer
    # needs (signatures, set sizes, both verify-join sides), so it is
    # deduped ONCE and persisted — before round 3 the raw stream fed the
    # signature agg and a countDistinct rode the same groupBy, which
    # triggered Spark's distinct-aggregate rewrite (Expand + double
    # aggregation) and left the shingle explode recomputed per consumer
    # (~14 copies of the Generate subtree in the executed plan). Feeding
    # the already-distinct stream lets the size term be a plain count(1)
    # (no Expand) and the cache collapses every replay. Hashed form: every
    # shuffle/join/cache below moves 8-byte longs, not strings. At 100 TB
    # swap the cache for a checkpoint / staging table (docs/SCALE.md) —
    # the distinct stream is corpus-sized and won't fit in memory.
    from fefal_etl_spark.cache import track

    sh = track(
        shingles(
            df, id_col, text_col, n=shingle_n, as_hash=True, distinct=True
        ).persist()
    )
    # the per-doc set sizes ride the signature shuffle (count(1) in the
    # same groupBy), and the LSH band md5s are fused into the same post-agg
    # projection — one pass over the shingle stream serves LSH bucketing
    # AND the |A|/|B| terms of the verify. The signature frame is one row
    # per doc (~18 longs), so persisting it is nearly free and stops the
    # bucket self-join's two sides from re-running the aggregation.
    sig = track(
        minhash_signatures(
            sh,
            id_col,
            num_hashes=num_hashes,
            size_col="n_sh",
            input_distinct=True,
            rows_per_band=rows_per_band,
        ).persist()
    )
    buckets = lsh_band_buckets(sig, id_col, rows_per_band=rows_per_band)
    cand = lsh_candidate_pairs(buckets, id_col)
    # the verify-stage candidate semi-filter only amortizes when the corpus
    # dwarfs the candidate set — one extra stage that is pure overhead on
    # small corpora. Callers that already know the corpus size pass
    # ``filter_to_candidates`` explicitly (the probe count is an extra job
    # on EVERY invocation — measured ~0.2 s of the warm bench budget);
    # otherwise it stays gated on a metadata-cheap count probe.
    if filter_to_candidates is None:
        filter_to_candidates = (
            persist_min_docs == 0 or df.count() >= persist_min_docs
        )
    at_scale = filter_to_candidates
    verified = jaccard_verify(
        cand,
        sh,
        id_col,
        sizes=sig.select(id_col, "n_sh"),
        filter_to_candidates=at_scale,
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash fingerprint: per-word 60-bit hashes, per-bit majority vote.

    Shape: one md5 per word, Expand to (doc, bit, ±1 vote) rows, groupBy
    (doc, bit) then groupBy doc. The Expand looks like a ``bits``-fold
    blowup but is pipelined map-side and partially aggregated before the
    shuffle, so shuffle volume is docs × bits either way. The "obvious"
    alternative — ``bits`` sum-aggregate columns in one groupBy, mirroring
    the minhash signature trick — was measured 2.5× SLOWER here (sf0.1,
    local[32]): 61 aggregation buffer fields push the hash-aggregate out of
    efficient whole-stage codegen, while this formulation keeps every
    operator in small JIT-friendly generated methods. Ties (vote sum == 0)
    resolve to bit 0.
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    word_rows = df.select(
        F.col(id_col), F.explode(w).alias("word")
    ).filter(F.col("word") != "")
    hashed = word_rows.withColumn("h", md5_hash64(F.col("word")))
    bit_rows = hashed.select(
        F.col(id_col),
        F.col("h"),
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
    )
    # shiftright/shiftleft builtins require literal shift amounts; the SQL
    # forms accept column expressions.
    vote = F.when(F.expr("(h >> bit) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
    bit_sums = bit_rows.withColumn("vote", vote).groupBy(id_col, "bit").agg(
        F.sum("vote").alias("s")
    )
    contrib = F.when(
        F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), cast(bit as int))")
    ).otherwise(F.lit(0).cast("long"))
    return bit_sums.groupBy(id_col).agg(F.sum(contrib).alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR — near-dup predicate for SimHash fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Transitive closure of a near-dup pair list into duplicate *clusters*.
    Returns (node, component) where component = min node id reachable —
    the canonical keeper for the whole cluster. Pairs in, clusters out:
    this is the step that turns ``minhash_neardup``/``semdedup_pairs``
    output into a dedup *verdict* when A≈B and B≈C but A≉C directly.

    The two edge columns are collected once and joined by union-find on
    the driver (union by smaller root, so each root is its component's
    minimum). The result is a one-partition Arrow local relation, so
    later scans of it run no Python workers. One Spark job whatever the
    graph's diameter; the bound is driver memory, which must hold the
    edge list and one dict entry per node.

    A NULL endpoint links nothing: the other endpoint is still a node,
    and no output row has a NULL node. Node and component keep the edge
    columns' (common) type; ids compare as Python values, which for
    strings is Spark's binary order.
    """
    from fefal_etl_spark.plans.star import _local

    # one array column: Spark widens src and dst to their common type
    pair = edges.select(F.array(F.col(src), F.col(dst)).alias("e"))
    id_type = pair.schema["e"].dataType.elementType.simpleString()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]  # path halving
        return x

    for row in pair.collect():
        a, b = row["e"]
        for n in (a, b):
            if n is not None:
                parent.setdefault(n, n)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return _local(
        edges.sparkSession,
        [(n, find(n)) for n in parent],
        f"node {id_type}, component {id_type}",
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_words: int = 20,
) -> DataFrame:
    """Passage-level exact deduplication (the RefinedWeb/CCNet "repeated
    paragraph removal" shape, expressed over fixed word windows because
    the corpus has no newline structure): split each document into
    consecutive ``segment_words``-word segments, keep only the globally
    FIRST occurrence of every distinct segment (order = (doc_id,
    seg_idx) — also removes within-document repetition), and reassemble
    each document from its surviving segments in original order.

    Returns (id, clean_text, n_segments, n_kept) for documents with at
    least one surviving segment; a document whose every segment already
    appeared elsewhere disappears — exactly the boilerplate-collapse
    behavior paragraph dedup exists for.

    Scale: the explode is narrow (segments are a partition of the words
    array, so total exploded payload ≈ corpus size, unlike overlapping
    shingles); the single wide stage is the first-occurrence selection,
    a min(struct(id, seg_idx)) hash aggregation keyed BY SEGMENT TEXT —
    content-addressed, so it load balances regardless of document skew,
    and partial aggregation collapses repeated segments map-side before
    the exchange (round 13; the previous row_number window shuffled and
    sorted every segment instance). At 100 TB the shuffle payload can be
    halved further by grouping on (md5(segment)) and rejoining winners
    to segment text, at the cost of treating 60-bit hash collisions as
    duplicates; this formulation stays exact. The reassembly groupBy
    shuffles by doc id — the same key the explode preserved, so AQE
    coalesces it cheaply.
    """
    from fefal_etl_spark.functions.text import ws_trim

    words = F.split(ws_trim(F.col(text_col)), r"\s+")
    nseg = F.ceil(F.size("__w") / F.lit(segment_words)).cast("int")
    seg = F.concat_ws(
        " ", F.slice(F.col("__w"), F.col("seg_idx") * segment_words + 1, segment_words)
    )
    segs = (
        df.select(F.col(id_col), words.alias("__w"))
        .select(
            F.col(id_col),
            F.size("__w").alias("__nw"),
            F.explode(F.sequence(F.lit(0), nseg - 1)).alias("seg_idx"),
            F.col("__w"),
        )
        .select(
            F.col(id_col),
            "seg_idx",
            (F.ceil(F.col("__nw") / F.lit(segment_words))).cast("long").alias("__nseg"),
            seg.alias("__seg"),
        )
        .filter(F.col("__seg") != "")
    )
    # First occurrence per segment via ONE hash aggregation instead of a
    # row_number window (round 13, guide §2.3/§2.4): min(struct(id,
    # seg_idx, nseg)) is exactly the (doc_id, seg_idx)-ordered rank-1 row
    # — struct comparison is field-by-field, and __nseg is a function of
    # doc_id so it cannot affect the min — but a hash aggregate gets
    # MAP-SIDE partial aggregation (repeated segments collapse before the
    # segment-text exchange) and needs no sort on the reduce side, where
    # the window shuffled and sorted every segment instance.
    kept = (
        segs.groupBy("__seg")
        .agg(
            F.min(
                F.struct(F.col(id_col), F.col("seg_idx"), F.col("__nseg"))
            ).alias("__w")
        )
        .select(
            F.col(f"__w.{id_col}").alias(id_col),
            F.col("__w.seg_idx").alias("seg_idx"),
            F.col("__w.__nseg").alias("__nseg"),
            "__seg",
        )
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("seg_idx", "__seg"))),
        lambda x: x["__seg"],
    )
    return kept.groupBy(id_col).agg(
        F.concat_ws(" ", ordered).alias("clean_text"),
        F.max("__nseg").alias("n_segments"),
        F.count("*").cast("long").alias("n_kept"),
    )


def canonicalize_clusters(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """The dedup VERDICT step: collapse duplicate clusters to one keeper
    each. Near-dup pairs (from minhash/simhash/semdedup) become components
    via ``connected_components``; every document outside any component is
    its own singleton cluster; within each cluster the KEEPER is the
    highest-``quality_col`` document (ties → lowest id — deterministic,
    engine-portable). This is the piece between pair generation and an
    actual deduplicated corpus: emit (component, keeper_id, cluster_size)
    and semi-join the corpus on keeper_id to materialize it.

    Scale: components are found on the driver from the collected EDGE
    list (tiny vs the corpus); the corpus itself sees one broadcast left
    join (components ≤ 2·pairs rows) and one window partitioned by
    component — cluster-sized partitions, never corpus-sized.
    """
    from pyspark.sql import Window

    comp = connected_components(edges)
    labeled = docs.join(
        F.broadcast(comp), docs[id_col] == comp["node"], "left"
    ).select(
        F.col(id_col),
        F.col(quality_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )
    rk = F.row_number().over(
        Window.partitionBy("component").orderBy(
            F.col(quality_col).desc(), F.col(id_col).asc()
        )
    )
    return (
        labeled.withColumn("__rk", rk)
        .groupBy("component")
        .agg(
            F.max(F.when(F.col("__rk") == 1, F.col(id_col))).alias("keeper_id"),
            F.count("*").cast("long").alias("cluster_size"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 15,
) -> DataFrame:
    """Substring-level duplicate spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    deduplicator, at word granularity): find every ``k``-word window whose
    content occurs ≥2 times anywhere in the corpus (cross-doc OR repeated
    within one doc), then merge the flagged windows per document into
    maximal removable spans.

    Reference scope: the reference engine has no substring dedup; this is
    a §2.12 E1 extension mandated by the training-data-pipeline brief
    (exact dedup operates at document level — etl_ui.py:201-213 dedups
    whole rows; this operates *inside* the text).

    Plan (2 shuffles, both keyed far below corpus row-width):

    1. Narrow fan-out: words array materialized once per doc, window
       starts exploded against it, each window reduced to its md5 hex —
       the full text column never shuffles, only (id, pos, 32-byte hash).
    2. Shuffle 1 — ``Window.partitionBy(hash)`` occurrence count (a
       single hash-partitioned exchange; no groupBy+join back, which
       would shuffle the same data twice). Windows with count ≥ 2 are
       duplicated. Boilerplate-heavy corpora (license headers) skew the
       hash key; AQE skew handling splits those partitions.
    3. Shuffle 2 — per-doc interval merge: running ``max(end)`` over the
       preceding flagged windows; a window opens a new span when its
       start clears the running max by ≥2 (adjacent spans merge). This is
       the classic islands pattern — one window spec, no self-join.

    Output: (id, span_start, span_end, span_words, n_windows) — 1-based
    word offsets, one row per maximal duplicated span. Empty at k >
    longest repeated run. Downstream removal is a slice-and-reassemble
    over the words array semi-joined to these spans.
    """
    from pyspark.sql import Window

    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ws = df.select(F.col(id_col), w.alias("__w")).filter(F.size("__w") >= k)
    starts = F.sequence(F.lit(1), F.size("__w") - F.lit(k - 1))
    hashed = (
        ws.select(F.col(id_col), "__w", F.explode(starts).alias("pos"))
        .select(
            F.col(id_col),
            F.col("pos"),
            F.md5(F.concat_ws(" ", F.slice(F.col("__w"), F.col("pos"), k))).alias(
                "__h"
            ),
        )
    )
    flagged = (
        hashed.withColumn(
            "__cnt", F.count("*").over(Window.partitionBy("__h"))
        )
        .filter(F.col("__cnt") >= 2)
        .select(
            F.col(id_col),
            F.col("pos").alias("__s"),
            (F.col("pos") + F.lit(k - 1)).alias("__e"),
        )
    )
    order = Window.partitionBy(id_col).orderBy("__s", "__e")
    prev_max = F.max("__e").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = flagged.withColumn(
        "__new",
        F.when(prev_max.isNull() | (F.col("__s") > prev_max + 1), 1).otherwise(0),
    ).withColumn("__island", F.sum("__new").over(order))
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("__s").cast("int").alias("span_start"),
            F.max("__e").cast("int").alias("span_end"),
            (F.max("__e") - F.min("__s") + 1).cast("int").alias("span_words"),
            F.count("*").alias("n_windows"),
        )
        .drop("__island")
    )


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rewrite documents with their duplicate spans excised — the consumer
    stage of :func:`duplicate_spans` (together they are the ExactSubstr
    deduplicator of Lee et al. 2022; like the released tool, EVERY
    occurrence of a duplicated span is removed, not all-but-one — simpler,
    and the paper reports the training effect is equivalent).

    ``spans`` must carry (id, span_start, span_end) in 1-based word
    offsets over the whitespace tokenization of ``text_col`` (case
    changes don't move word boundaries, so spans detected on lowercased
    text apply to the original text unchanged).

    Plan: spans collapse to one array per doc (reuses the per-doc
    partitioning :func:`duplicate_spans` already produced — no extra
    exchange), then one doc-keyed join back to the corpus; the rewrite
    itself is pure higher-order functions (transform-with-index →
    exists-over-spans filter → concat_ws), zero Python, zero extra
    shuffles. Docs with no spans pass through verbatim; fully-duplicated
    docs survive as empty strings (count them with ``clean_text = ''``).

    Output: (id, clean_text, n_words, n_words_removed).
    """
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
    )
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    joined = df.join(sp, id_col, "left").select(
        F.col(id_col),
        w.alias("__w"),
        F.coalesce(F.col("__sp"), F.array()).alias("__sp"),
    )
    indexed = F.transform(
        F.col("__w"), lambda x, i: F.struct(x.alias("w"), (i + 1).alias("p"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("__sp"),
            lambda r: (s["p"] >= r["span_start"]) & (s["p"] <= r["span_end"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", F.transform(kept, lambda s: s["w"])).alias("clean_text"),
        F.size("__w").cast("int").alias("n_words"),
        (F.size("__w") - F.size(kept)).cast("int").alias("n_words_removed"),
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    tokens_df: DataFrame | None = None,
    term_df_df: DataFrame | None = None,
    ranked_df: DataFrame | None = None,
) -> DataFrame:
    """Prefix-filtered set-similarity self-join (the PPJoin family — Xiao,
    Wang, Lin, Yu WWW'08; Chaudhuri et al. ICDE'06 SSJoin): exact shingle-set
    Jaccard >= threshold WITHOUT all-pairs, by a frequency-ordered prefix
    filter. Set elements are the same hashed word n-grams the minhash path
    uses (single words are not discriminative — on the synthetic corpus
    nearly all doc pairs share >=50% of their VOCABULARY while 3-gram sets
    isolate true near-dups). Each doc's distinct shingles are ranked by
    ascending global document frequency (rarest first, hash as tiebreak —
    a total order, so prefixes are deterministic); two sets with Jaccard >= t MUST
    share a token inside their first ``|s| - ceil(t*|s|) + 1`` tokens, so
    only prefix tokens generate candidates and the candidate join carries
    the corpus's RAREST tokens — exactly the ones with bounded posting
    lists. Complements minhash-LSH (probabilistic, fixed-cost signatures)
    with an EXACT-recall candidate generator.

    The prefix length uses all-integer arithmetic — threshold is taken as
    the rational round(t*1000)/1000 and ceil(n*p/q) computed as
    (n*p + q - 1) DIV q — and the final gate is the integer cross-multiply
    ``n_inter * q >= p * (n_a + n_b - n_inter)``: no float threshold for
    two engines to disagree on. Jaccard in the output is the one exact
    double division.

    Scale: one vocab-cardinality shuffle for document frequencies, one
    doc-keyed window for the prefix ranks, a candidate join whose fan-out
    per token is df² only for tokens rare enough to appear in prefixes
    (hub/boilerplate tokens rank last and never join), then
    ``jaccard_verify`` restricted to candidates. Returns (id_a, id_b,
    jaccard) with id_a < id_b.
    """
    p = int(round(threshold * 1000))
    q = 1000
    # xxhash64, not portable md5: the oracle replays set CARDINALITIES, not
    # hash values, and the prefix-filter recall guarantee holds under ANY
    # deterministic (df, hash) ordering — so the 40%-cheaper JVM-native
    # hash is safe here (same reasoning as the decontamination scan).
    # tokens_df/term_df_df let a caller hand in PRE-STAGED (and typically
    # persisted) shingle and document-frequency frames shared with other
    # exact-similarity operators over the same corpus (see
    # llm/queries._similarity_frames) — the shingling scan and the
    # vocab-cardinality df shuffle then run once per session, not once
    # per operator.
    tokens = (
        tokens_df
        if tokens_df is not None
        else shingles(df, id_col, text_col, n=n, as_hash=True, portable_hash=False)
    )
    dfs = (
        term_df_df
        if term_df_df is not None
        else tokens.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    )
    if ranked_df is not None:
        # pre-staged (id, shingle, rn, n_sh) — threshold-independent, so
        # one staged table serves any threshold (see ppjoin_ranked in
        # llm/queries.py: staging it cut the warm registry query
        # 1.36 s → 0.88 s at sf0.1)
        ranked = ranked_df
    else:
        w_rank = Window.partitionBy(id_col).orderBy("df", "shingle")
        # n_sh rides the SAME doc-keyed window shuffle as the prefix rank
        # (an unordered count over the partition) — no separate sizes
        # groupBy+join
        w_doc = Window.partitionBy(id_col)
        ranked = tokens.join(dfs, "shingle").select(
            id_col,
            "shingle",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_doc).alias("n_sh"),
        )
    # prefix_len = n - ceil(n*p/q) + 1 — integral DIV, never float division
    # (a double x/1000 can round up across an integer boundary)
    prefix_len = F.expr(f"n_sh - ((n_sh * {p} + {q - 1}) DIV {q}) + 1")
    prefix = ranked.filter(F.col("rn") <= prefix_len)
    pa = prefix.select(
        F.col(id_col).alias("id_a"),
        "shingle",
        F.col("rn").alias("rn_a"),
        F.col("n_sh").alias("na"),
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"),
        "shingle",
        F.col("rn").alias("rn_b"),
        F.col("n_sh").alias("nb"),
    )
    # Two candidate-ROW gates applied BEFORE the distinct (and before the
    # expensive shingle-stream verify joins):
    # - size filter (Arasu et al. SSJoin): J >= t forces t|B| <= |A| <= |B|/t
    # - positional filter (PPJoin proper): a prefix match at ranks (i, j)
    #   bounds the achievable overlap by 1 + min(na-i, nb-j); J >= t needs
    #   overlap O with O(q+p) >= p(na+nb), so deep-prefix-only matches are
    #   pruned. Both all-integer. Measured 135k -> 14.8k candidates at sf0.1.
    size_ok = (F.col("na") * q >= p * F.col("nb")) & (
        F.col("nb") * q >= p * F.col("na")
    )
    pos_ok = (
        1 + F.least(F.col("na") - F.col("rn_a"), F.col("nb") - F.col("rn_b"))
    ) * (q + p) >= p * (F.col("na") + F.col("nb"))
    # candidate pairs CARRY their set sizes (constant per pair) so the
    # verify stage needs no size joins at all — just the two shingle joins
    # and one aggregation
    cands = (
        pa.join(pb, "shingle")
        .filter((F.col("id_a") < F.col("id_b")) & size_ok & pos_ok)
        .select("id_a", "id_b", "na", "nb")
        .distinct()
    )
    sa = tokens.select(F.col(id_col).alias("id_a"), "shingle")
    sb = tokens.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cands.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    gate = F.col("n_inter") * q >= p * (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.filter(gate)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .select("id_a", "id_b", "jaccard")
    )


def containment_rank_index(
    tokens: DataFrame,
    term_df: DataFrame,
    id_col: str,
    max_df: int = 10,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """The threshold-independent prefix index of
    :func:`containment_neardup` (round 12): rare tokens (df ≤
    ``max_df``) with their canonical per-doc rank ``__rnk`` (rarest
    first — ascending df, shingle tiebreak) and the doc's FULL
    distinct-shingle count ``n_sh``. Rank is computed over the rare
    subset only: every rare shingle sorts before every frequent one in
    the (df, shingle) order, so rank-among-rare == rank-in-full-order
    for exactly the tokens any prefix gate can keep — the window never
    touches the frequent tail. Exposed separately (like
    :func:`~fefal_etl_spark.llm.similarity.sparse_cosine_index`) so
    callers can STAGE it once per corpus fingerprint; the vocab join
    and rank window then never rerun per query call."""
    if sizes is None:
        sizes = tokens.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_sh")
        )
    rare = tokens.join(
        term_df.filter(F.col("df") <= max_df), "shingle"
    )
    rnk_w = Window.partitionBy(id_col).orderBy("df", "shingle")
    return rare.withColumn("__rnk", F.row_number().over(rnk_w)).join(
        sizes, id_col
    )


def containment_neardup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    max_df: int = 10,
    n: int = 3,
    tokens_df: DataFrame | None = None,
    term_df_df: DataFrame | None = None,
    rare_ranked_df: DataFrame | None = None,
    sizes_df: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric containment dedup: C(A,B) = |A∩B| / min(|A|,|B|) ≥ t —
    catches the pair Jaccard misses by construction: a short document
    quoted inside a much longer one has near-1 containment but Jaccard
    ≈ |A|/|B| (arbitrarily low), so a Jaccard gate can never find
    quote/expansion duplicates without also flooding on unrelated pairs.

    Candidates come from the df-pruned inverted index (pairs sharing any
    shingle rarer than ``max_df`` docs), TIGHTENED by a pigeonhole
    prefix bound (round 12 — VERDICT r11 item 2, the treatment the
    sparse-cosine family got in r11): rank each doc's shingles rarest
    first (ascending df, hash tiebreak) and emit only the first
    ``n − ⌈t·n⌉ + 1`` ranks as probe tokens. A true containment-t pair
    shares ≥ ⌈t·m⌉ of the smaller doc's m shingles, so at least one
    shared shingle sits inside the smaller doc's prefix — and because
    the prefix holds the doc's RAREST shingles, if any shared shingle
    has df ≤ max_df then so does one inside the prefix. Recall is
    therefore IDENTICAL to the plain rare-shingle generator (a pair is
    missed only if every shared shingle is corpus boilerplate), while
    the probe side shrinks to ~(1−t) of each doc's rare tokens. The
    gate is the integer cross-multiply ``n_inter · 1000 ≥
    round(t·1000) · min(n_a, n_b)``; the output containment is the one
    exact double division.

    Scale: shingle df counts (vocab shuffle), candidate join carried by
    prefix×rare instead of rare×rare (per-shingle fan-out ≤
    (1−t)·max_df² + ties, vs max_df²), exact verify restricted to
    candidates via ``jaccard_verify``."""
    p = int(round(threshold * 1000))
    # xxhash64 for the same reason as ppjoin_pairs: only equality is tested.
    # tokens_df/term_df_df: optional pre-staged shared frames, same
    # contract as ppjoin_pairs (llm/queries._similarity_frames).
    tokens = (
        tokens_df
        if tokens_df is not None
        else shingles(df, id_col, text_col, n=n, as_hash=True, portable_hash=False)
    )
    sizes = (
        sizes_df
        if sizes_df is not None
        else tokens.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    )
    if rare_ranked_df is not None:
        # pre-staged (id, shingle, df, __rnk, n_sh) index — see
        # llm/queries._containment_frames: the vocab join + rank
        # window run once per corpus fingerprint, every query call is
        # then pure staged-parquet reads (the sparse_cosine_index
        # staging pattern)
        rare_sz = rare_ranked_df
    else:
        dfs = (
            term_df_df
            if term_df_df is not None
            else tokens.groupBy("shingle").agg(
                F.count(F.lit(1)).alias("df")
            )
        )
        rare_sz = containment_rank_index(
            tokens, dfs, id_col, max_df=max_df, sizes=sizes
        )
    # prefix gate: rnk ≤ n − ⌈p·n/1000⌉ + 1  ⇔  p·n ≤ 1000·(n − rnk + 1)
    # (RHS integral, so the ceiling drops; pure int64 arithmetic)
    probe = rare_sz.filter(
        F.lit(p) * F.col("n_sh")
        <= 1000 * (F.col("n_sh") - F.col("__rnk") + 1)
    )
    ps = probe.select(
        F.col(id_col).alias("id_s"), F.col("n_sh").alias("n_s"), "shingle"
    )
    rl = rare_sz.select(
        F.col(id_col).alias("id_l"), F.col("n_sh").alias("n_l"), "shingle"
    )
    cands = (
        ps.join(rl, "shingle")
        # the probe side must be the (weakly) smaller doc of the pair;
        # equal sizes tie-break on id so each pair generates once
        .filter(
            (F.col("n_s") < F.col("n_l"))
            | (
                (F.col("n_s") == F.col("n_l"))
                & (F.col("id_s") < F.col("id_l"))
            )
        )
        .select(
            F.least("id_s", "id_l").alias("id_a"),
            F.greatest("id_s", "id_l").alias("id_b"),
        )
        .distinct()
    )
    verified = jaccard_verify(cands, tokens, id_col, sizes=sizes)
    min_sz = F.least(F.col("n_a"), F.col("n_b"))
    return (
        verified.filter(F.col("n_inter") * 1000 >= p * min_sz)
        .withColumn("containment", F.col("n_inter").cast("double") / min_sz)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "containment")
    )
