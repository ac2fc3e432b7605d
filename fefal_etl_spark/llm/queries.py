"""LLM-data-pipeline queries (SURVEY.md §2.12) — registered into the main
registry with DuckDB oracle twins over documents/embeddings.

Synthetic near-duplicates: the testdata corpus has no true dups, so the
dedup queries build a corpus = documents ∪ (every 10th doc re-ids'd with a
small text mutation) — deterministic on both engines — and must find exactly
those planted pairs (plus any organic ones).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fefal_etl_spark.cache import memo
from fefal_etl_spark.datasets import fan_table, load_table
from fefal_etl_spark.llm.dedup import (
    exact_dup_groups,
    md5_hash64,
    minhash_lsh_neardup,
    simhash,
)
from fefal_etl_spark.llm.multimodal import attach_media_column, extract_features
from fefal_etl_spark.llm.similarity import (
    gaussian_lsh_pairs,
    cosine_topk,
    ivf_assign,
    ivf_topk,
    kmeans_assignments,
    lsh_bucketed_pairs,
)
from fefal_etl_spark.llm.text_analysis import (
    LANG_MARKERS,
    STOPWORDS,
    TOKEN_REGEX,
    language_id,
    quality_features,
    repetition_features,
    winnow_fingerprints,
)
from fefal_etl_spark.queries import register

# --------------------------------------------------------------------------
# Corpus with planted duplicates (shared by dedup queries)
# --------------------------------------------------------------------------

_CORPUS_SQL = """
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' planted near dup tail'
        FROM documents WHERE doc_id % 10 = 0
    )
"""


# Planted synthetic ids live in reserved namespaces at and above this
# floor (+1_000_000 for corpus/LSH twins, +2_000_000 for semdedup /
# second-hop cluster edges). The floor is a DATA CONTRACT with the
# oracle SQL (static strings — they hardcode the same offsets), so it
# cannot silently shrink: every planting site asserts the REAL id
# namespace stays below it at query build time (advice r9 — a larger
# gen_sf.py tiling re-introducing id collisions must fail loudly, not
# make assignment ties engine-dependent).
_PLANT_NS_FLOOR = 1_000_000


def _assert_plant_headroom(
    spark: SparkSession, sf_dir: str, table: str, col: str
) -> None:
    import pyarrow.parquet as _pq

    def probe() -> int:
        # max real id from parquet footer stats (driver-side metadata
        # read, no Spark job)
        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isfile(path):
            meta = _pq.ParquetFile(path).metadata
            idx = meta.schema.names.index(col)
            groups = [
                meta.row_group(g).column(idx).statistics
                for g in range(meta.num_row_groups)
            ]
            if groups and all(s is not None and s.has_min_max for s in groups):
                return max(s.max for s in groups)
        # directory source / no footer stats: one agg
        return (
            load_table(spark, sf_dir, table).agg(F.max(col)).first()[0]
        ) or 0

    # session cache kind ``plant_ns_max``: the max is a function of the
    # table's bytes, so the key is (dir, table, column) stamped with that
    # table's fingerprint — a fixture rewritten in place is re-probed
    mx = memo(
        spark,
        "plant_ns_max",
        (os.path.abspath(sf_dir), table, col),
        probe,
        sources=(sf_dir, (table,)),
    )
    if mx >= _PLANT_NS_FLOOR:
        raise ValueError(
            f"planted-duplicate namespace collision: max {table}.{col} "
            f"= {mx} reaches the reserved floor {_PLANT_NS_FLOOR} — "
            "regenerate the fixture with a smaller tiling or raise the "
            "offsets in BOTH the Spark queries and their oracle SQL "
            "(they are a shared data contract)"
        )


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents ∪ planted near-dups in ONE scan: the union-of-two-scans
    formulation reads the text column twice; exploding an original/planted
    struct pair per row is a narrow Expand over a single scan (halves
    corpus IO for every dedup query; semantics identical to the oracle's
    UNION ALL).

    The built frame is in the session cache (kind ``corpus``, keyed by
    dir and stamped with the documents fingerprint): every dedup/text
    query calls this, and rebuilding the lineage re-lists the parquet
    dir on the driver (~0.2 s per call at sf0.1); the fingerprint keeps
    a regenerated source from being served a stale plan."""
    return memo(
        spark,
        "corpus",
        os.path.abspath(sf_dir),
        lambda: _build_corpus(spark, sf_dir),
        sources=(sf_dir, ("documents",)),
    )


def _build_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _assert_plant_headroom(spark, sf_dir, "documents", "doc_id")
    docs = fan_table(spark, sf_dir, "documents").select("doc_id", "text")
    orig = F.struct(F.col("doc_id"), F.col("text"))
    planted = F.struct(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planted near dup tail")).alias("text"),
    )
    rows = F.when(
        F.col("doc_id") % 10 == 0, F.array(orig, planted)
    ).otherwise(F.array(orig))
    # fan_table repartitions BEFORE the per-doc heavy lifting (shingling,
    # banded levenshtein DP, prefix blocks) — see datasets.fan_table for
    # the measured rationale (3.7× on levenshtein_neardup).
    return docs.select(F.explode(rows).alias("r")).select(
        "r.doc_id", "r.text"
    )


# --------------------------------------------------------------------------
# Shared staging frames for the exact-similarity family
# --------------------------------------------------------------------------

# The three heaviest bench queries — containment_neardup, ppjoin_pairs
# and sparse_cosine_pairs — each previously re-derived the planted-dup
# corpus, and the first two additionally re-derived IDENTICAL hashed-
# 3-gram shingle and document-frequency frames, on every call (VERDICT r4
# item 3). They now share content-addressed parquet STAGING TABLES
# (fefal_etl_spark.staging): staged once per documents-fingerprint, then
# every consumer gets a plain parquet scan with column stats, pushdown
# and whole-stage codegen. Measured at sf0.1: warm family total
# 8.8 s → 6.5 s. (A `.persist()` variant was measured FIRST and
# rejected: InMemoryTableScan of the wide text/token frames was slower
# than recompute — warm total 10.3 s — because cached-relation scans
# break the codegen pipeline and their size stats distort join
# planning.)


def _similarity_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Staged (tokens, term_df) shared by the exact-similarity queries:
    tokens = distinct hashed 3-gram shingles of the planted-dup corpus
    (xxhash64 — every consumer only equality-tests them); term_df =
    per-shingle document frequency. Both live at
    ``<stage>/sim_{tokens,df}-<fingerprint(documents)>`` — regenerated
    source data invalidates them automatically."""
    from fefal_etl_spark.llm.dedup import shingles
    from fefal_etl_spark.staging import source_fingerprint, stage_parquet

    fp = source_fingerprint(sf_dir, "documents")
    tokens = stage_parquet(
        spark,
        "sim_tokens",
        fp,
        shingles(
            _corpus(spark, sf_dir),
            "doc_id",
            "text",
            n=3,
            as_hash=True,
            portable_hash=False,
        ),
        scope="session",
    )
    term_df = stage_parquet(
        spark,
        "sim_df",
        fp,
        tokens.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")),
        scope="session",
    )
    return tokens, term_df


def _containment_frames(
    spark: SparkSession, sf_dir: str, max_df: int
) -> tuple[DataFrame, DataFrame]:
    """Staged (rare_rank_index, sizes) for :func:`containment_neardup`
    (round 12 — the sparse_cosine_index staging pattern): the vocab
    join + rarest-first rank window and the per-doc size aggregation
    run once per corpus fingerprint; every query call is then pure
    staged-parquet reads. ``max_df`` is part of the stage key — a
    different pruning bound is a different index."""
    from fefal_etl_spark.llm.dedup import containment_rank_index
    from fefal_etl_spark.staging import source_fingerprint, stage_parquet

    fp = source_fingerprint(sf_dir, "documents")
    tokens, term_df = _similarity_frames(spark, sf_dir)
    sizes = stage_parquet(
        spark,
        "sim_sizes",
        fp,
        lambda: tokens.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh")
        ),
        scope="session",
    )
    rare_rnk = stage_parquet(
        spark,
        f"sim_rarernk_d{max_df}",
        fp,
        lambda: containment_rank_index(
            tokens, term_df, "doc_id", max_df=max_df, sizes=sizes
        ),
        scope="session",
    )
    return rare_rnk, sizes


# --------------------------------------------------------------------------
# E3: text analysis
# --------------------------------------------------------------------------

_SQL_WORDS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_SQL_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)


@register(
    "text_stats",
    f"""
    WITH t AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n_chars,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS nw,
               len(list_filter({_SQL_WORDS}, x -> x IN ({_SQL_STOP_IN}))) AS nstop,
               len(regexp_extract_all(text, '[^\\w\\s]')) AS npunct,
               len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS ntok
        FROM documents
    )
    SELECT doc_id, n_chars,
           CAST(nw AS BIGINT) AS n_words,
           CAST(ntok AS BIGINT) AS n_tokens,
           CASE WHEN nw > 0 THEN CAST(nstop AS DOUBLE) / nw ELSE 0.0 END AS stopword_ratio,
           CASE WHEN n_chars > 0 THEN CAST(npunct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
           CASE WHEN nw > 0 THEN CAST(n_chars - (nw - 1) AS DOUBLE) / nw ELSE 0.0 END AS mean_word_len
    FROM t
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — quality-scoring features: counts + ratios, one narrow pass."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_features(docs, "text").select(
        "doc_id",
        "n_chars",
        "n_words",
        "n_tokens",
        "stopword_ratio",
        "punct_ratio",
        "mean_word_len",
    )


def _sql_lang_scores() -> str:
    parts = []
    for lang, markers in LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        parts.append(
            f"len(list_filter({_SQL_WORDS}, x -> x IN ({inlist}))) AS s_{lang}"
        )
    return ", ".join(parts)


@register(
    "lang_id",
    f"""
    WITH s AS (SELECT doc_id, lang, {_sql_lang_scores()} FROM documents)
    SELECT doc_id, lang,
           CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_pt THEN 'en'
                WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_pt THEN 'de'
                WHEN s_es > 0 AND s_es >= s_pt THEN 'es'
                WHEN s_pt > 0 THEN 'pt'
                ELSE 'und' END AS pred_lang
    FROM s
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — marker-stopword language ID (cheap router heuristic)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", language_id(F.col("text")).alias("pred_lang")
    )


@register(
    "curation_pipeline",
    """
    WITH q AS (
        SELECT doc_id, lang, text,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                    AS BIGINT) AS n_words
        FROM documents
    ),
    rep_l AS (
        SELECT doc_id,
               1.0 - len(list_distinct(string_split(text, chr(10)))) /
                     CAST(len(string_split(text, chr(10))) AS DOUBLE)
                   AS dup_line_frac
        FROM documents
    ),
    wcnt AS (
        SELECT doc_id, w, count(*) AS c FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents) x
        WHERE w <> '' GROUP BY doc_id, w
    ),
    rep_w AS (
        SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_word_frac
        FROM wcnt GROUP BY doc_id
    ),
    gated AS (
        SELECT q.doc_id, q.lang, q.text, q.n_words
        FROM q JOIN rep_l ON rep_l.doc_id = q.doc_id
               LEFT JOIN rep_w ON rep_w.doc_id = q.doc_id
        WHERE q.n_words >= 10
          AND rep_l.dup_line_frac <= 0.3
          AND rep_w.top_word_frac <= 0.2
    ),
    deduped AS (
        SELECT doc_id, lang, n_words FROM (
            SELECT *, row_number() OVER (
                PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rk
            FROM gated) t
        WHERE rk = 1
    )
    SELECT doc_id, lang, n_words FROM deduped
    WHERE ('0x' || substr(md5('curate' || '|' || CAST(doc_id AS VARCHAR)),
                          1, 15))::BIGINT % 10000
          < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000 ELSE 2500 END
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone — the full pretraining-curation chain as one lazy DAG:
    quality gate → repetition gate → exact-dedup keeper → deterministic
    stratified sample. One corpus scan, one word-dominance aggregation, one
    dedup window shuffle; the narrow gates fuse into the scan projection."""
    from fefal_etl_spark.llm.curation import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    return curate_corpus(
        docs,
        min_words=10,
        max_dup_line_frac=0.3,
        max_top_word_frac=0.2,
        sample_fractions={"en": 0.5, "de": 1.0},
        default_fraction=0.25,
        salt="curate",
    )


@register(
    "repetition_filter",
    """
    WITH l AS (
        SELECT doc_id,
               len(string_split(text, chr(10))) AS n_lines,
               1.0 - len(list_distinct(string_split(text, chr(10)))) /
                     CAST(len(string_split(text, chr(10))) AS DOUBLE)
                   AS dup_line_frac
        FROM documents
    ),
    w AS (
        SELECT doc_id, w, count(*) AS c FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents) x
        WHERE w <> '' GROUP BY doc_id, w
    ),
    t AS (
        SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_word_frac
        FROM w GROUP BY doc_id
    )
    SELECT l.doc_id, l.n_lines, l.dup_line_frac, t.top_word_frac,
           (l.dup_line_frac <= 0.3 AND t.top_word_frac <= 0.2) AS keep
    FROM l LEFT JOIN t ON l.doc_id = t.doc_id
    """,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — Gopher-style repetition filters: duplicate-line fraction +
    top-word dominance, with the keep/reject verdict a curation pipeline
    would apply (thresholds 0.3 / 0.2)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = repetition_features(docs, "doc_id", "text")
    return feats.select(
        "doc_id",
        "n_lines",
        "dup_line_frac",
        "top_word_frac",
        (
            (F.col("dup_line_frac") <= 0.3) & (F.col("top_word_frac") <= 0.2)
        ).alias("keep"),
    )


@register(
    "stratified_sample",
    """
    WITH b AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('curate' || '|' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT % 10000 AS bucket
        FROM documents
    )
    SELECT doc_id, lang FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
                             ELSE 2500 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus curation: keep 50% of
    'en', all of 'de', 25% of everything else — membership a pure function
    of doc_id (md5 bucket), so the sample is identical across engines,
    reruns, and repartitionings; a narrow filter, zero shuffles."""
    from fefal_etl_spark.llm.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        key_col="doc_id",
        strata_col="lang",
        fractions={"en": 0.5, "de": 1.0},
        default_fraction=0.25,
        salt="curate",
    )
    return out.select("doc_id", "lang")


@register(
    "train_test_split",
    """
    WITH b AS (
        SELECT doc_id,
               ('0x' || substr(md5('split' || '|' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT % 10000 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 1000 THEN 'test' ELSE 'train' END AS side,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM b GROUP BY 1
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-proof train/eval split: side membership is a pure function of
    the row key (salted md5 bucket), so a row can never migrate between
    sides across reruns, engines, or repartitionings. The per-side id sums
    pin the exact membership, not just the counts; disjointness and
    exhaustiveness are structural (a bucket is < 1000 or not)."""
    from fefal_etl_spark.llm.sampling import train_test_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    train, test = train_test_split(docs, "doc_id", test_fraction=0.1)

    def side(name, df):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("doc_id").cast("long").alias("min_id"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
        ).select(F.lit(name).alias("side"), "n", "min_id", "sum_ids")

    return side("train", train).unionByName(side("test", test))


@register(
    "doc_fingerprints",
    """
    WITH w AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(
                   range(1, len(ws) - 1),
                   i -> substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 16)
               ) AS hs
        FROM w WHERE len(ws) >= 3
    ),
    f AS (
        SELECT doc_id,
               CASE WHEN len(hs) >= 4
                    THEN list_transform(range(1, len(hs) - 2),
                                        j -> list_min(hs[j : j + 3]))
                    ELSE [list_min(hs)] END AS mins
        FROM g
    )
    SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM f
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — winnowing rolling-hash fingerprints (word 3-grams, window 4),
    exploded to (doc_id, fp) rows: the plagiarism/partial-overlap index a
    whole-doc hash can't build. Narrow projections + explode — no shuffle."""
    docs = fan_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=3, window=4)


# --------------------------------------------------------------------------
# E1: dedup family
# --------------------------------------------------------------------------


@register(
    "exact_dedup",
    f"""
    WITH {_CORPUS_SQL}
    SELECT md5(lower(trim(text))) AS fingerprint,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM corpus GROUP BY 1
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 exact — md5-fingerprint duplicate groups (hash groupBy)."""
    return exact_dup_groups(_corpus(spark, sf_dir), "doc_id", "text")


# shingle = portable 60-bit md5 hash of the n-gram (twin of
# dedup.shingles(as_hash=True): joins/aggregations move longs, not strings)
_SQL_SHINGLES = """
    shingles AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(sh), 1, 15))::BIGINT AS shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(ws) - 1, 1)),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
            FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
                  FROM corpus) w
        ) x WHERE sh <> ''
    )
"""

def _sql_minhash() -> str:
    from fefal_etl_spark.llm.dedup import MINHASH_P, minhash_coeffs

    coeffs = minhash_coeffs(16)
    mins = ", ".join(
        f"min(({a}::BIGINT * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band, md5({concat}) AS band_sig FROM sigs".format(
            j=j,
            concat=" || ',' || ".join(
                f"CAST(mh{j * 4 + r} AS VARCHAR)" for r in range(4)
            ),
        )
        for j in range(4)
    )
    return f"""
    hashes AS (
        SELECT doc_id, shingle % {MINHASH_P} AS h FROM shingles
    ),
    sigs AS (SELECT doc_id, {mins} FROM hashes GROUP BY doc_id),
    buckets AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )
"""


_SQL_MINHASH = _sql_minhash()


@register(
    "minhash_neardup",
    f"""
    WITH {_CORPUS_SQL}, {_SQL_SHINGLES}, {_SQL_MINHASH},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.id_a
        JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) >= 0.5
    """,
)
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 MinHash+LSH — shingle → 16 minhashes → 4×4 bands → bucket join →
    exact-Jaccard verify ≥ 0.5. Must recover the planted near-dup pairs."""
    # corpus-size gate in the session cache (kind ``corpus_n``, keyed by
    # dir and stamped with the documents fingerprint): the verify-stage
    # semi-filter decision needs one count, and re-probing on every
    # invocation costs an extra job per call (~0.2 s of the warm bench
    # budget)
    n = memo(
        spark,
        "corpus_n",
        os.path.abspath(sf_dir),
        lambda: _corpus(spark, sf_dir).count(),
        sources=(sf_dir, ("documents",)),
    )
    return minhash_lsh_neardup(
        _corpus(spark, sf_dir), "doc_id", "text",
        shingle_n=3, num_hashes=16, rows_per_band=4, threshold=0.5,
        filter_to_candidates=n >= 50_000,
    )


@register(
    "incremental_dedup_match",
    f"""
    WITH {_CORPUS_SQL}, {_SQL_SHINGLES}, {_SQL_MINHASH},
    xcand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.band_sig = b.band_sig
        WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    xinter AS (
        SELECT c.new_id, c.old_id, count(*) AS n_inter
        FROM xcand c
        JOIN shingles sa ON sa.doc_id = c.new_id
        JOIN shingles sb ON sb.doc_id = c.old_id AND sb.shingle = sa.shingle
        GROUP BY c.new_id, c.old_id
    )
    SELECT i.new_id, i.old_id,
           CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter)
               AS jaccard
    FROM xinter i
    JOIN sizes za ON za.doc_id = i.new_id
    JOIN sizes zb ON zb.doc_id = i.old_id
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) >= 0.5
    """,
)
def q_incremental_dedup_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V116 — incremental near-dup detection against a persistent LSH
    index (llm/incremental_dedup.py::LshDedupIndex): the existing corpus
    (doc_id < 1e6) is indexed ONCE — band buckets + shingle counts in a
    transactional table — and the arriving batch (the planted near-dups,
    doc_id ≥ 1e6) is matched by computing signatures for the BATCH ONLY,
    broadcast-probing the index on the band key (zero corpus-scale
    shuffle), and exact-Jaccard-verifying with a left-semi pruned rescan
    of only the candidate docs' text. |B| sizes come from the index for
    free.

    This is the steady-state shape of corpus dedup at 100 TB: the batch
    path (`minhash_neardup`) re-shingles everything per run; here a 1%
    daily batch costs O(batch + candidates), and `add_batch` appends the
    accepted docs' buckets through the manifest txn ledger (replayed
    ingestion batches can't double-index). The oracle recomputes the
    cross-side candidates + verify declaratively over the same corpus —
    equality proves index-probe ≡ batch recompute. Unit tests pin
    cross-pair parity with `minhash_lsh_neardup` and ledger idempotence."""
    import os

    from fefal_etl_spark.llm.dedup import shingles
    from fefal_etl_spark.llm.incremental_dedup import LshDedupIndex
    from fefal_etl_spark.staging import (
        source_fingerprint,
        stage_parquet,
        staging_root,
    )

    corpus = _corpus(spark, sf_dir)
    existing = corpus.filter(F.col("doc_id") < 1000000)
    new_batch = corpus.filter(F.col("doc_id") >= 1000000)
    fp = source_fingerprint(sf_dir, "documents")
    root = os.path.join(staging_root(), f"lsh_index-{fp}")
    idx = LshDedupIndex(spark, root)
    if idx.table.latest_version() != 0:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        idx = LshDedupIndex(spark, root)
        idx.build(existing, "doc_id", "text")
    # the batch's shingle table is once-per-batch ingest work (every
    # consumer — signatures, verify — feeds from it), so it is staged
    # content-addressed; the verify feeds from the similarity family's
    # shared corpus posting table (sim_tokens) — both sides left-semi
    # pruned to the candidates, so the steady-state cost this query
    # measures is probe + candidate-posting verify, zero text rescans
    batch_sh = stage_parquet(
        spark,
        "inc_batch_sh",
        fp,
        lambda: shingles(new_batch, "doc_id", "text", n=3, as_hash=True),
        scope="session",
    )
    tokens, _ = _similarity_frames(spark, sf_dir)
    return idx.match_new(
        new_batch,
        existing,
        "doc_id",
        "text",
        threshold=0.5,
        new_shingles=batch_sh,
        tokens=tokens,
    )


@register(
    "index_compaction_probe",
    f"""
    WITH {_CORPUS_SQL}, {_SQL_SHINGLES}, {_SQL_MINHASH},
    xcand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.band_sig = b.band_sig
        WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    xinter AS (
        SELECT c.new_id, c.old_id, count(*) AS n_inter
        FROM xcand c
        JOIN shingles sa ON sa.doc_id = c.new_id
        JOIN shingles sb ON sb.doc_id = c.old_id AND sb.shingle = sa.shingle
        GROUP BY c.new_id, c.old_id
    )
    SELECT i.new_id, i.old_id,
           CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter)
               AS jaccard,
           TRUE AS compacted_ok
    FROM xinter i
    JOIN sizes za ON za.doc_id = i.new_id
    JOIN sizes zb ON zb.doc_id = i.old_id
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) >= 0.5
    """,
)
def q_index_compaction_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 (VERDICT r5 item 6) — INDEX MAINTENANCE: the LSH dedup
    index is built through FOUR per-batch appends (the steady-state
    ingest shape — each `add_batch` commit lands its own file set, so
    buckets shatter across batch files), then `LshDedupIndex.compact()`
    rewrites the bucket table in one logical-no-op commit. The match
    probe runs against the COMPACTED snapshot and must equal the
    declarative oracle exactly (compaction changes physics, never
    results); ``compacted_ok`` additionally pins, from the manifests,
    that the rewrite actually reduced the file count — a silent no-op
    compaction breaks the hash. The IVF twin (partition-preserving
    compaction keeping manifest bucket pruning) is pinned in
    tests/test_llm.py."""
    import os

    from fefal_etl_spark.llm.dedup import shingles
    from fefal_etl_spark.llm.incremental_dedup import LshDedupIndex
    from fefal_etl_spark.staging import (
        source_fingerprint,
        stage_parquet,
        staging_root,
    )

    corpus = _corpus(spark, sf_dir)
    existing = corpus.filter(F.col("doc_id") < 1000000)
    new_batch = corpus.filter(F.col("doc_id") >= 1000000)
    fp = source_fingerprint(sf_dir, "documents")
    root = os.path.join(staging_root(), f"lsh_index_cmp-{fp}")
    idx = LshDedupIndex(spark, root)
    if idx.table.latest_version() != 4:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        idx = LshDedupIndex(spark, root)
        slices = [
            existing.filter(F.col("doc_id") % 4 == m) for m in range(4)
        ]
        idx.build(slices[0], "doc_id", "text")  # v0
        for m in range(1, 4):  # v1..v3
            idx.add_batch(slices[m], "doc_id", "text")
        idx.compact()  # v4
    files_now = len(
        idx.table._read_manifest(idx.table.latest_version()).files
    )
    files_pre = len(
        idx.table._read_manifest(idx.table.latest_version() - 1).files
    )
    batch_sh = stage_parquet(
        spark,
        "inc_batch_sh",  # shared with incremental_dedup_match
        fp,
        lambda: shingles(new_batch, "doc_id", "text", n=3, as_hash=True),
        scope="session",
    )
    tokens, _ = _similarity_frames(spark, sf_dir)
    return idx.match_new(
        new_batch,
        existing,
        "doc_id",
        "text",
        threshold=0.5,
        new_shingles=batch_sh,
        tokens=tokens,
    ).withColumn("compacted_ok", F.lit(files_now < files_pre))


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH {_CORPUS_SQL}, {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS n_inter
        FROM shingles sa
        JOIN shingles sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
        GROUP BY sa.doc_id, sb.doc_id
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) >= 0.2
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 n-gram Jaccard — exhaustive shingle-join near-dup (no LSH): every
    pair sharing a shingle, exact Jaccard ≥ 0.2. At corpus scale prefer
    minhash_neardup (sub-quadratic).

    Intersections are counted directly in the shingle self-join (one
    equi-join + one aggregation). The earlier candidate-pairs →
    jaccard_verify re-join formulation recomputed the pair expansion
    twice and was measured ~7× slower at sf0.1 (14.3 s → 2.1 s warm);
    jaccard_verify remains the right shape only when candidates are
    sparse (LSH output), not exhaustive.
    """
    from fefal_etl_spark.llm.dedup import shingles

    from fefal_etl_spark.cache import track

    sh = track(
        shingles(_corpus(spark, sf_dir), "doc_id", "text", as_hash=True).persist()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "shingle"), on="shingle"
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(
            sizes.withColumnsRenamed({"doc_id": "id_a", "n_sh": "n_a"}), "id_a"
        )
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    return out.filter(F.col("jaccard") >= 0.2).select("id_a", "id_b", "jaccard")


@register(
    "simhash_fingerprints",
    f"""
    WITH {_CORPUS_SQL},
    words AS (
        SELECT doc_id, w FROM (
            SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM corpus) x
        WHERE w <> ''
    ),
    hashed AS (
        SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM words
    ),
    bitsums AS (
        SELECT doc_id, bit,
               SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM hashed CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) bits
        GROUP BY doc_id, bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
               AS simhash
    FROM bitsums GROUP BY doc_id
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 SimHash — 60-bit per-bit-majority fingerprint per document.

    Duplicate texts necessarily share fingerprints; near-dups land at small
    Hamming distance (pairing exposed via llm.dedup.hamming_distance)."""
    return simhash(_corpus(spark, sf_dir), "doc_id", "text", bits=60)


_SPAN_K = 15

# Shared CTE chain: word windows → hash-occurrence counts → flagged
# windows → islands → merged spans (twin of llm/dedup.py::duplicate_spans)
_SQL_SPANS = f"""
    w AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
        FROM corpus
    ),
    win AS (
        SELECT doc_id, unnest(range(1, len(ws) - {_SPAN_K} + 2)) AS pos, ws
        FROM w WHERE len(ws) >= {_SPAN_K}
    ),
    hw AS (
        SELECT doc_id, pos,
               md5(array_to_string(ws[pos:pos+{_SPAN_K - 1}], ' ')) AS h
        FROM win
    ),
    fl AS (
        SELECT doc_id, pos AS s, pos + {_SPAN_K - 1} AS e
        FROM (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS cnt FROM hw) x
        WHERE cnt >= 2
    ),
    m AS (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pm
        FROM fl
    ),
    g AS (
        SELECT doc_id, s, e,
               SUM(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s, e) AS island
        FROM m
    ),
    spans AS (
        SELECT doc_id, CAST(MIN(s) AS INT) AS span_start,
               CAST(MAX(e) AS INT) AS span_end,
               CAST(MAX(e) - MIN(s) + 1 AS INT) AS span_words,
               CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM g GROUP BY doc_id, island
    )
"""


@register(
    "substring_dup_spans",
    f"""
    WITH {_CORPUS_SQL},
    {_SQL_SPANS}
    SELECT doc_id, span_start, span_end, span_words, n_windows FROM spans
    """,
)
def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — substring-level duplicate spans (ExactSubstr dedup, Lee et al.
    2022, at word granularity): every 15-word window occurring ≥2 times
    anywhere in the corpus is flagged, and flagged windows merge per doc
    into maximal removable spans. On the planted corpus each doc_id % 10
    == 0 original and its +1000000 copy share their full window set, so
    both emit one whole-doc span (plus any organic repeats — identical on
    both engines). Two shuffles total: one hash-partitioned occurrence
    count, one per-doc interval merge (llm/dedup.py::duplicate_spans)."""
    from fefal_etl_spark.llm.dedup import duplicate_spans

    return duplicate_spans(_corpus(spark, sf_dir), "doc_id", "text", k=_SPAN_K)


@register(
    "substring_dedup_rewrite",
    f"""
    WITH {_CORPUS_SQL},
    {_SQL_SPANS},
    pos AS (
        SELECT doc_id, ws,
               unnest(range(1, len(ws) + 1)) AS p
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
              FROM corpus) t
    ),
    kept AS (
        SELECT doc_id, ws[p] AS word, p FROM pos pp
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = pp.doc_id
              AND pp.p BETWEEN s.span_start AND s.span_end)
    ),
    agg AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT w2.doc_id,
           COALESCE(agg.clean_text, '') AS clean_text,
           CAST(len(w2.ws) AS INT) AS n_words,
           CAST(len(w2.ws) - COALESCE(agg.n_kept, 0) AS INT) AS n_words_removed
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
          FROM corpus) w2
    LEFT JOIN agg USING (doc_id)
    """,
)
def q_substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — the ExactSubstr rewrite stage: documents with every duplicated
    15-word span excised (llm/dedup.py::remove_spans). Docs without spans
    pass through verbatim; the planted whole-doc duplicates collapse to
    empty strings (all occurrences removed, matching the released
    deduplicate-text-datasets tool). The rewrite itself is pure
    higher-order functions over the words array — the only shuffles are
    the two inside span detection plus one doc-keyed join back."""
    from fefal_etl_spark.llm.dedup import duplicate_spans, remove_spans

    corpus = _corpus(spark, sf_dir)
    spans = duplicate_spans(corpus, "doc_id", "text", k=_SPAN_K)
    return remove_spans(corpus, spans, "doc_id", "text")


@register(
    "embedding_neardup",
    """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               concat(
                   CASE WHEN embedding[1]  >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[9]  >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[25] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[41] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS keeper_id, b.vec_id AS dup_id,
           round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 embedding-cosine near-dup — sign-LSH candidate buckets, exact
    cosine verify ≥ 0.9, keeper = lower id. Same sub-quadratic shape as
    minhash_neardup but over the embedding space: candidate generation never
    leaves the LSH buckets, so the 100 TB cost is one bucket-keyed
    shuffle + within-bucket pair verify (AQE handles skewed buckets)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_bucketed_pairs(emb, threshold=0.9)
    return out.select(
        F.col("id_a").alias("keeper_id"),
        F.col("id_b").alias("dup_id"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


# --------------------------------------------------------------------------
# E2: similarity search
# --------------------------------------------------------------------------


@register(
    "embedding_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    sims AS (
        SELECT q.query_id, e.vec_id,
               list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                   AS cos_sim
        FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
          FROM sims) t
    WHERE rk <= 10
    """,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — brute-force cosine top-10 for 3 broadcast query vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rk"
    )


@register(
    "embedding_lsh_pairs",
    """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               concat(
                   CASE WHEN embedding[1]  >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[9]  >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[25] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END,
                   CASE WHEN embedding[41] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.0
    """,
)
def q_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 scale path — sign-LSH bucketed candidate pairs with exact-cosine
    verify (threshold 0 keeps all same-bucket pairs visible for checking)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_bucketed_pairs(emb, threshold=0.0)
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


# The testdata embeddings are near-orthogonal random vectors (zero organic
# cos ≥ 0.9 pairs — a vacuous recall gate), so the recall audit plants
# near-dups exactly like the text-dedup corpus does: every 10th vector gains
# a perturbed twin v + 0.35·rotate(v,1) (expected cosine ≈ 0.94, enough
# variance that the truth set is decided by the exact join, not assumed).
_EMB_CORPUS_SQL = """
    emb_corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(range(1, 65),
                   i -> embedding[i]::DOUBLE
                        + 0.35 * embedding[i % 64 + 1]::DOUBLE)
        FROM embeddings WHERE vec_id % 10 = 0
    )
"""


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _assert_plant_headroom(spark, sf_dir, "embeddings", "vec_id")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    i = F.sequence(F.lit(1), F.lit(64))
    perturbed = F.transform(
        i,
        lambda j: F.element_at(F.col("v"), j.cast("int"))
        + 0.35 * F.element_at(F.col("v"), ((j % 64) + 1).cast("int")),
    )
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), perturbed.alias("v")
    )
    return emb.unionByName(twins)


@register(
    "gaussian_lsh_recall",
    f"""
    WITH {_EMB_CORPUS_SQL},
    p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM emb_corpus a JOIN emb_corpus b ON a.vec_id < b.vec_id
        WHERE a.vec_id % 10 = 0 AND a.vec_id < 1000000
          AND list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))) >= 0.9
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true,
           TRUE AS recall_ok, TRUE AS precision_ok
    FROM p
    """,
)
def q_gaussian_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 recall hardening — seeded-Gaussian multi-table sign-LSH
    (OR-construction, 8 tables × 6 bits) audited in-engine against the
    exact ground truth over a PROBE SAMPLE: probes are the original
    vectors with vec_id % 10 = 0 — exactly the rows the corpus plants
    a ≥0.9-cosine near-dup for, so every planted true pair stays in
    the audit while the exact join costs (n/10)·n instead of n²/2
    (round 9: the unsampled all-pairs form was the one sweep outlier
    at sf1 — 20+ min of BNLJ where every other audit finishes in ~2).
    The oracle pins the true-pair count and asserts measured recall
    ≥ 0.9 and exact precision on the same probe set (every emitted
    pair re-verified by cosine, so FP = 0 by construction). At corpus
    scale the LSH path IS the product; the audit stays probe-sampled.
    """
    from fefal_etl_spark.llm.similarity import dot, l2_norm

    corpus = _emb_corpus(spark, sf_dir)
    probe = (F.col("id_a") % 10 == 0) & (F.col("id_a") < 1_000_000)
    found = (
        gaussian_lsh_pairs(corpus, vec_col="v", threshold=0.9)
        .select("id_a", "id_b")
        .filter(probe)
    )
    # per-row norm precomputed so the quadratic truth join folds one dot per
    # pair, not three (float-identical to cosine(): same ops, same order)
    e = corpus.withColumn("n", l2_norm(F.col("v")))
    a = e.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 1_000_000)
    ).select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    true_pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")) >= 0.9
        )
        .select("id_a", "id_b")
    )
    hits = true_pairs.join(found, on=["id_a", "id_b"], how="left_semi")
    fps = found.join(true_pairs, on=["id_a", "id_b"], how="left_anti")
    n_true = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_hit = hits.agg(F.count(F.lit(1)).alias("__h"))
    n_fp = fps.agg(F.count(F.lit(1)).alias("__fp"))
    return (
        n_true.crossJoin(n_hit)
        .crossJoin(n_fp)
        .select(
            "n_true",
            (
                (F.col("n_true") == 0)
                | (F.col("__h") / F.col("n_true") >= 0.9)
            ).alias("recall_ok"),
            (F.col("__fp") == 0).alias("precision_ok"),
        )
    )


@register(
    "ivf_assign",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
    d AS (
        SELECT e.vec_id, e.label, c.centroid_id,
               list_dot_product(list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.cv[i]),
                                list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.cv[i]))
                   AS d2
        FROM e CROSS JOIN c
    )
    SELECT vec_id, label, centroid_id
    FROM (SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk FROM d) t
    WHERE rk = 1
    """,
)
def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 scale path — IVF coarse quantization: nearest-of-8-centroids
    assignment (the bucketing stage of a two-level ANN index)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_assign(emb, centroids).select("vec_id", "label", "centroid_id")


_SQL_D2 = """list_dot_product(
        list_transform(range(1, len({a}) + 1), i -> {a}[i] - {b}[i]),
        list_transform(range(1, len({a}) + 1), i -> {a}[i] - {b}[i]))"""


def _sql_kmeans_round(assign_name: str, cent_in: str, cent_out: str) -> str:
    """One unrolled Lloyd's round: argmin assignment + per-dim mean.
    Embedding dim is 64 in the driver testdata (checked at all sfs)."""
    return f"""
    {assign_name} AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, {cent_in}.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_SQL_D2.format(a='e.v', b=f'{cent_in}.c')},
                                {cent_in}.cid) AS rk
            FROM e CROSS JOIN {cent_in}) t
        WHERE rk = 1
    ),
    {cent_out} AS (
        SELECT cid, list(m ORDER BY pos) AS c FROM (
            SELECT a.cid, i.i AS pos, avg(e.v[i.i]) AS m
            FROM {assign_name} a JOIN e USING (vec_id)
            CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
            GROUP BY a.cid, i.i) z
        GROUP BY cid
    )"""


@register(
    "kmeans_assignments",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 4),
    {_sql_kmeans_round('a1', 'c0', 'c1')},
    {_sql_kmeans_round('a2', 'c1', 'c2')},
    final AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c2.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_SQL_D2.format(a='e.v', b='c2.c')}, c2.cid) AS rk
            FROM e CROSS JOIN c2) t
        WHERE rk = 1
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS centroid_id FROM final
    """,
)
def q_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm template — Lloyd's k-means (k=4, 2 fixed rounds,
    deterministic init): the loop unrolls into one lazy DAG of broadcast
    argmin + per-dimension mean rounds; nothing touches the driver. Output
    is the final assignment (robust to cross-engine float summation order;
    oracle is the identical unrolled computation in DuckDB)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_assignments(emb, k=4, iters=2)
    return out.select("vec_id", F.col("centroid_id").cast("long"))


@register(
    "ivf_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_SQL_D2.format(a='e.v', b='c.cv')}, c.centroid_id) AS rk
            FROM e CROSS JOIN c) t
        WHERE rk = 1
    ),
    probe AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, c.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_SQL_D2.format(a='q.qv', b='c.cv')}, c.centroid_id) AS rk
            FROM q CROSS JOIN c) t
        WHERE rk <= 2
    ),
    sims AS (
        SELECT p.query_id, a.vec_id,
               list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                   AS cos_sim
        FROM probe p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN e ON e.vec_id = a.vec_id
        JOIN q ON q.query_id = p.query_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
          FROM sims) t
    WHERE rk <= 5
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 scale path end-to-end — two-level IVF ANN: probe the 2 nearest of
    8 centroids per query, search only their buckets, exact cosine top-5.
    The probe join prunes ~3/4 of the corpus before any cosine runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, centroids, queries, nprobe=2, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rk"
    )


def q_incremental_ann_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V123 — incremental ANN against a persistent IVF index
    (llm/incremental_ann.py::IvfAnnIndex): the existing corpus
    (vec_id%5≠0) is coarse-quantized ONCE into a transactional table
    hive-partitioned by centroid — bucket pruning is a manifest filter —
    and the arriving batch (vec_id%5=0) probes its 2 nearest of 8
    centroids, reads ONLY those buckets (partition-pruned), and runs
    exact cosine top-5 on the survivors. `add_batch` appends the batch's
    assignments through the txn ledger (exactly-once indexing). Probe
    arithmetic is identical to the batch path, so index-probe ≡
    `ivf_topk` — pinned in tests; the oracle replays assignment, probe
    and the cosine top-k declaratively over the same split. At 100 TB:
    per-batch indexing cost O(batch), per-search IO nprobe/n_centroids
    of the store, zero re-quantization of ingested data."""
    import os

    from fefal_etl_spark.llm.incremental_ann import IvfAnnIndex
    from fefal_etl_spark.staging import source_fingerprint, staging_root

    emb = load_table(spark, sf_dir, "embeddings")
    existing = emb.filter(F.col("vec_id") % 20 != 0)
    new_batch = emb.filter(F.col("vec_id") % 20 == 0)
    cents = emb.filter(F.col("vec_id") < 8)
    # the scenario name encodes the split so a parameter change can
    # never silently reuse an index built for a different corpus
    root = os.path.join(
        staging_root(),
        f"ann_index_m20-{source_fingerprint(sf_dir, 'embeddings')}",
    )
    idx = IvfAnnIndex(spark, root)
    if idx.table.latest_version() != 0:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        idx = IvfAnnIndex(spark, root)
        idx.build(existing, cents)
    out = idx.match_new(new_batch, cents, nprobe=2, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rk"
    )


register(
    "incremental_ann_match",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (SELECT vec_id, v FROM e WHERE vec_id % 20 <> 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 20 = 0),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT ex.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY ex.vec_id
                       ORDER BY {{d2_ec}}, c.centroid_id) AS rk
            FROM ex CROSS JOIN c) t
        WHERE rk = 1
    ),
    probe AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, c.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {{d2_qc}}, c.centroid_id) AS rk
            FROM q CROSS JOIN c) t
        WHERE rk <= 2
    ),
    sims AS (
        SELECT p.query_id, a.vec_id,
               list_dot_product(ex.v, q.qv) /
               (sqrt(list_dot_product(ex.v, ex.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                   AS cos_sim
        FROM probe p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN ex ON ex.vec_id = a.vec_id
        JOIN q ON q.query_id = p.query_id
    )
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
          FROM sims) t
    WHERE rk <= 5
    """.format(
        d2_ec=_SQL_D2.format(a="ex.v", b="c.cv"),
        d2_qc=_SQL_D2.format(a="q.qv", b="c.cv"),
    ),
)(q_incremental_ann_match)


def q_ivf_retrain_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 extension — IVF centroid-drift RETRAIN
    (llm/incremental_ann.py::retrain; VERDICT r10 item 4): the index is
    built under 8 caller-supplied coarse centroids, then ``retrain(k=8,
    iters=2)`` refits centroids from the INDEXED vectors (shared Lloyd
    rounds, deterministic lowest-id init) and re-assigns the whole
    store in one atomic partitioned overwrite — the maintenance a
    drifting 100 TB embedding store schedules when build-time
    quantization stops matching the data. The probe then runs under
    the NEW model state. The oracle replays the refit declaratively:
    init = the 8 lowest indexed ids, two unrolled Lloyd rounds, argmin
    re-assignment, nprobe=2 probe, exact cosine top-5 — so the driver
    verifies the retrain arithmetic itself, not just the plumbing
    (the planted-drift recall test pins the recovery behavior)."""
    import os
    import shutil

    from fefal_etl_spark.llm.incremental_ann import IvfAnnIndex
    from fefal_etl_spark.llm.similarity import kmeans_centroids
    from fefal_etl_spark.staging import (
        source_fingerprint,
        stage_parquet,
        staging_root,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    existing = emb.filter(F.col("vec_id") % 20 != 0)
    # every 100th id: the probe set stays bounded while the retrain
    # still rewrites the WHOLE store (the operator under test)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cents0 = emb.filter(F.col("vec_id") < 8)
    fp = source_fingerprint(sf_dir, "embeddings")
    root = os.path.join(staging_root(), f"ann_retrain_m20-{fp}")
    idx = IvfAnnIndex(spark, root)
    if idx.table.latest_version() != 1:  # v0 build, v1 retrain rewrite
        shutil.rmtree(root, ignore_errors=True)
        idx = IvfAnnIndex(spark, root)
        idx.build(existing, cents0)
        idx.retrain(k=8, iters=2)
    # the refit model state is a pure function of the store — staged
    # once per fingerprint so a warm call never re-runs the Lloyd DAG
    # (a real deployment keeps retrain()'s returned frame; the query
    # must recompute deterministically for the oracle pairing)
    new_cent = stage_parquet(
        spark,
        "ann_retrain_cent",
        fp,
        lambda: kmeans_centroids(
            idx.table.read().select("vec_id", "embedding"), k=8, iters=2
        ),
    )
    out = idx.match_new(queries, new_cent, nprobe=2, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rk"
    )


register(
    "ivf_retrain_match",
    f"""
    WITH eall AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (SELECT vec_id, v FROM eall WHERE vec_id % 20 <> 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM eall WHERE vec_id % 100 = 0),
    c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    {{r1}},
    {{r2}},
    cf AS (SELECT cid AS centroid_id, c AS cv FROM c2),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, cf.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {{d2_ec}}, cf.centroid_id) AS rk
            FROM e CROSS JOIN cf) t
        WHERE rk = 1
    ),
    probe AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, cf.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {{d2_qc}}, cf.centroid_id) AS rk
            FROM q CROSS JOIN cf) t
        WHERE rk <= 2
    ),
    sims AS (
        SELECT p.query_id, a.vec_id,
               list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                   AS cos_sim
        FROM probe p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN e ON e.vec_id = a.vec_id
        JOIN q ON q.query_id = p.query_id
    )
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
          FROM sims) t
    WHERE rk <= 5
    """.format(
        r1=_sql_kmeans_round("a1", "c0", "c1"),
        r2=_sql_kmeans_round("a2", "c1", "c2"),
        d2_ec=_SQL_D2.format(a="e.v", b="cf.cv"),
        d2_qc=_SQL_D2.format(a="q.qv", b="cf.cv"),
    ),
)(q_ivf_retrain_match)


# --------------------------------------------------------------------------
# E4: multimodal plumbing
# --------------------------------------------------------------------------


@register(
    "multimodal_features",
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — binary media column + Arrow-batched mapInPandas feature
    extraction (deterministic byte-level stub features; codec decode is the
    documented NotImplementedError hook)."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_column(docs, "doc_id", "text")
    return extract_features(media, decode_stub=True)


@register(
    "multimodal_decode",
    """
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(sum(v) AS BIGINT) AS pixel_sum
    FROM (
        SELECT doc_id AS media_id,
               2 + doc_id % 7 AS w,
               2 + doc_id % 5 AS h,
               (doc_id*31
                + unnest(range(0, (2 + doc_id % 7) * (2 + doc_id % 5) * 3))
               ) % 256 AS v
        FROM documents
    ) t GROUP BY media_id
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — REAL image decode end-to-end: deterministic BMPs are encoded
    per-doc in mapInPandas, then decoded by the numpy BMP codec
    (``decode_stub=False``) into pixel-level features. The oracle never
    decodes — it reproduces width/height/pixel_sum analytically from the
    synth pattern, so any codec bug (stride padding, BGR order, bottom-up
    rows) breaks the hash match."""
    from fefal_etl_spark.llm.multimodal import attach_synth_images

    docs = load_table(spark, sf_dir, "documents")
    media = attach_synth_images(docs, "doc_id", fmt="bmp")
    return extract_features(media, decode_stub=False)


@register(
    "multimodal_resize",
    """
    SELECT media_id,
           CAST(4 AS BIGINT) AS width,
           CAST(3 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(sum(v) AS BIGINT) AS pixel_sum
    FROM (
        SELECT doc_id AS media_id,
               (doc_id*31 + (
                   ((k // 12) * (2 + doc_id % 5) // 3) * (2 + doc_id % 7)
                   + ((k // 3) % 4) * (2 + doc_id % 7) // 4
               ) * 3 + k % 3) % 256 AS v
        FROM (SELECT doc_id, unnest(range(0, 36)) AS k FROM documents) g
    ) t GROUP BY media_id
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — decode → nearest-neighbor resize (4×3) → re-encode → decode:
    the full image-transform round trip through the PPM container. The
    oracle replays the integer source-index mapping
    ``src = dst * src_dim // dst_dim`` per output pixel analytically."""
    from fefal_etl_spark.llm.multimodal import attach_synth_images, resize_payload

    docs = load_table(spark, sf_dir, "documents")
    media = attach_synth_images(docs, "doc_id", fmt="ppm")
    resized = resize_payload(media, decode_stub=False, target_px=(4, 3))
    return extract_features(resized, decode_stub=False)


@register(
    "png_decode",
    """
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(sum(v) AS BIGINT) AS pixel_sum
    FROM (
        SELECT doc_id AS media_id,
               2 + doc_id % 7 AS w,
               2 + doc_id % 5 AS h,
               (doc_id*31
                + unnest(range(0, (2 + doc_id % 7) * (2 + doc_id % 5) * 3))
               ) % 256 AS v
        FROM documents
    ) t GROUP BY media_id
    """,
)
def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 / round-6 (VERDICT r5 item 5) — REAL PNG decode end-to-end:
    deterministic images are PNG-ENCODED per-doc in mapInPandas
    (stdlib-zlib deflate, spec CRCs), then decoded back by the
    dependency-free PNG codec (``media_codecs.decode_png``: chunk walk,
    CRC check, inflate, scanline unfilter incl. Paeth) into pixel-level
    features. The oracle reproduces width/height/pixel_sum analytically
    from the synth pattern — any codec bug (filter reconstruction,
    stride, chunk framing) breaks the hash. The same decoder accepts
    real-corpus 8-bit truecolor(±alpha) PNGs, closing the 'every real
    multimodal corpus leads with PNG' gap; JPEG routes to an env-gated
    Pillow path (``media_codecs.decode_jpeg``, round 7) — present on
    real clusters, cleanly NotImplementedError here (a dependency-free
    DCT codec is not honestly reachable)."""
    from fefal_etl_spark.llm.multimodal import attach_synth_images

    docs = load_table(spark, sf_dir, "documents")
    media = attach_synth_images(docs, "doc_id", fmt="png")
    return extract_features(media, decode_stub=False)


@register(
    "bigram_logprob",
    """
    WITH docs AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS wa
        FROM documents
    ),
    positioned AS (
        SELECT doc_id, unnest(range(0, len(wa))) AS pos, wa FROM docs
    ),
    stream AS (
        SELECT doc_id, pos, wa[pos + 1] AS w,
               lag(wa[pos + 1]) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM positioned
    ),
    uni AS (SELECT w, count(*) AS cu FROM stream GROUP BY w),
    tot AS (SELECT sum(cu) AS n FROM uni),
    big AS (SELECT prev, w, count(*) AS cbg FROM stream
            WHERE prev IS NOT NULL GROUP BY prev, w),
    ctx AS (SELECT prev, sum(cbg) AS cctx FROM big GROUP BY prev),
    scored AS (
        SELECT s.doc_id,
               CASE WHEN s.prev IS NULL
                    THEN -log2(CAST(u.cu AS DOUBLE) / t.n)
                    ELSE -log2(0.75 * (CAST(b.cbg AS DOUBLE) / c.cctx)
                               + 0.25 * (CAST(u.cu AS DOUBLE) / t.n))
               END AS nll
        FROM stream s
        JOIN uni u ON s.w = u.w
        CROSS JOIN tot t
        LEFT JOIN big b ON s.prev = b.prev AND s.w = b.w
        LEFT JOIN ctx c ON s.prev = c.prev
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(nll), 6) AS mean_nll
    FROM scored GROUP BY doc_id
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V57 — interpolated bigram LM scoring (Jelinek-Mercer λ=0.75): the
    word-ORDER-sensitive perplexity gate unigram scoring is blind to.
    Bigram model fit and its join back are keyed identically (AQE reuses
    the exchange); the model is deliberately NOT force-broadcast — at
    100 TB observed bigrams outgrow the driver."""
    from fefal_etl_spark.llm.text_analysis import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs)


@register(
    "bpe_pair_stats",
    """
    WITH vocab AS (
        SELECT w, count(*) AS freq FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x <> '')) AS w
            FROM documents) t
        GROUP BY w
    ),
    pairs AS (
        SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
        FROM (SELECT w, freq, unnest(range(1, length(w))) AS i
              FROM vocab WHERE length(w) >= 2) x
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 50
    """,
)
def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V55 — the counting step of BPE tokenizer training: adjacent
    character-pair frequencies weighted by word frequency, top-50 merge
    candidates. The 100 TB decomposition is corpus → vocab ONCE (one
    vocab-cardinality shuffle), then all pair math on the collapsed
    vocabulary — the corpus is never touched again across merge rounds."""
    from fefal_etl_spark.llm.text_analysis import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, "text", top_n=50)


@register(
    "containment_neardup",
    f"""
    WITH {_CORPUS_SQL},
    {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    dfs AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY shingle),
    rare AS (
        SELECT t.doc_id, t.shingle
        FROM shingles t JOIN dfs d ON t.shingle = d.shingle AND d.df <= 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM rare a JOIN rare b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN shingles wa ON wa.doc_id = c.id_a
        JOIN shingles wb ON wb.doc_id = c.id_b AND wb.shingle = wa.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b, CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
           CAST(i.n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 1000 >= 900 * least(sa.n_sh, sb.n_sh)
    """,
)
def q_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V56 — asymmetric containment dedup C(A,B) = |A∩B| / min(|A|,|B|)
    ≥ 0.9: catches quote/expansion duplicates whose Jaccard is arbitrarily
    low (short doc inside long doc). Candidates from the df-pruned
    inverted index; integer cross-multiply gate; exact-division output."""
    from fefal_etl_spark.llm.dedup import containment_neardup

    tokens, term_df = _similarity_frames(spark, sf_dir)
    rare_rnk, sizes = _containment_frames(spark, sf_dir, max_df=4)
    return containment_neardup(
        _corpus(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.9,
        max_df=4,
        tokens_df=tokens,
        term_df_df=term_df,
        rare_ranked_df=rare_rnk,
        sizes_df=sizes,
    )


@register(
    "ppjoin_pairs",
    f"""
    WITH {_CORPUS_SQL},
    {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    dfs AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY shingle),
    ranked AS (
        SELECT t.doc_id, t.shingle,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY d.df, t.shingle) AS rn,
               s.n_sh
        FROM shingles t
        JOIN dfs d ON t.shingle = d.shingle
        JOIN sizes s ON t.doc_id = s.doc_id
    ),
    prefix AS (
        SELECT doc_id, shingle, rn, n_sh FROM ranked
        WHERE rn <= n_sh - ((n_sh * 800 + 999) // 1000) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM prefix a JOIN prefix b ON a.shingle = b.shingle
                                   AND a.doc_id < b.doc_id
        WHERE a.n_sh * 1000 >= 800 * b.n_sh
          AND b.n_sh * 1000 >= 800 * a.n_sh
          AND (1 + least(a.n_sh - a.rn, b.n_sh - b.rn)) * 1800
              >= 800 * (a.n_sh + b.n_sh)
    ),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN shingles wa ON wa.doc_id = c.id_a
        JOIN shingles wb ON wb.doc_id = c.id_b AND wb.shingle = wa.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 1000 >= 800 * (sa.n_sh + sb.n_sh - i.n_inter)
    """,
)
def q_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V53 — prefix-filtered EXACT set-similarity self-join (PPJoin family):
    3-gram-shingle-set Jaccard ≥ 0.8 with candidates generated only by each doc's
    rarest ``|s| - ceil(t|s|) + 1`` tokens (frequency-ordered prefix
    filter, 100% recall by the pigeonhole bound). The exact-recall
    complement to the probabilistic minhash-LSH path; integer prefix
    arithmetic and an integer cross-multiply gate keep both engines
    bit-identical."""
    from fefal_etl_spark.llm.dedup import ppjoin_pairs

    from pyspark.sql.window import Window

    from fefal_etl_spark.staging import source_fingerprint, stage_parquet

    tokens, term_df = _similarity_frames(spark, sf_dir)
    # Stage the threshold-independent frequency-ranked shingle table too
    # (doc-keyed window over tokens⋈df): 1.36 s → 0.88 s warm at sf0.1.
    w_rank = Window.partitionBy("doc_id").orderBy("df", "shingle")
    w_doc = Window.partitionBy("doc_id")
    ranked = stage_parquet(
        spark,
        "sim_ranked",
        source_fingerprint(sf_dir, "documents"),
        tokens.join(term_df, "shingle").select(
            "doc_id",
            "shingle",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_doc).alias("n_sh"),
        ),
        scope="session",
    )
    return ppjoin_pairs(
        _corpus(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.8,
        tokens_df=tokens,
        term_df_df=term_df,
        ranked_df=ranked,
    )


@register(
    "cdc_chunks",
    """
    WITH docs AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS wa
        FROM documents
    ),
    positioned AS (
        SELECT doc_id, unnest(range(0, len(wa))) AS pos, wa FROM docs
    ),
    words AS (SELECT doc_id, pos, wa[pos + 1] AS w FROM positioned),
    flagged AS (
        SELECT doc_id, pos, w,
               CASE WHEN pos >= 3
                         AND ('0x' || substr(md5(
                                 lag(w, 3) OVER w_ord || ' ' ||
                                 lag(w, 2) OVER w_ord || ' ' ||
                                 lag(w, 1) OVER w_ord || ' ' || w), 1, 8)
                             )::BIGINT % 16 = 0
                    THEN 1 ELSE 0 END AS b
        FROM words
        WINDOW w_ord AS (PARTITION BY doc_id ORDER BY pos)
    ),
    chunked AS (
        SELECT doc_id, pos, w,
               COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS chunk_id
        FROM flagged
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_words,
           md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
    FROM chunked GROUP BY doc_id, chunk_id
    """,
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V52 — content-defined chunking (Rabin/FastCDC family, word
    granularity): boundaries fall where the rolling 4-word hash ≡ 0
    (mod 16), so chunk identity survives edits elsewhere in the document —
    the property that makes chunk-level dedup caches incremental. One
    doc-keyed shuffle (lag + running counter share a window sort) + a
    (doc, chunk) assembly aggregation."""
    from fefal_etl_spark.llm.curation import content_defined_chunks

    docs = load_table(spark, sf_dir, "documents")
    out = content_defined_chunks(docs, "doc_id", "text", window=4, modulus=16)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_words",
        "chunk_md5",
    )


@register(
    "audio_frame_energy",
    """
    SELECT media_id, CAST(frame_id AS BIGINT) AS frame_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(s*s) AS BIGINT) AS energy,
           CAST(max(abs(s)) AS BIGINT) AS peak
    FROM (
        SELECT doc_id AS media_id, k // 32 AS frame_id,
               ((doc_id*37 + k*k) % 4096) - 2048 AS s
        FROM (SELECT doc_id, unnest(range(0, 64 + doc_id % 97)) AS k
              FROM documents) g
    ) t
    GROUP BY media_id, frame_id
    """,
)
def q_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 audio leg (V49) — REAL RIFF/PCM16 decode end-to-end: deterministic
    mono WAVs are encoded per-doc in mapInPandas, decoded by the numpy WAV
    codec, and reduced to per-frame integer energy/peak (the VAD /
    silence-trim primitives). The oracle never parses RIFF — it replays the
    closed-form waveform analytically, so any codec bug (chunk walking,
    sample width, endianness) breaks the hash match."""
    from fefal_etl_spark.llm.multimodal import attach_synth_audio, audio_frame_features

    docs = load_table(spark, sf_dir, "documents")
    media = attach_synth_audio(docs, "doc_id")
    return audio_frame_features(media, frame_len=32)


@register(
    "frame_sample",
    """
    SELECT media_id, CAST(o AS BIGINT) AS offset FROM (
        SELECT doc_id AS media_id, unnest(range(0, strlen(text), 256)) AS o
        FROM documents
    ) t
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — frame-sampling fan-out: one row per sampled payload offset."""
    from fefal_etl_spark.llm.multimodal import frame_sample_plan

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_column(docs, "doc_id", "text")
    return frame_sample_plan(media, every_n_bytes=256)


# --------------------------------------------------------------------------
# E3+: TF-IDF salient terms;  PII scrubbing;  SemDeDup cluster dedup
# --------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    """
    WITH tokens AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tokens GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, d.df,
               tf.tf * ln(CAST(n_docs AS DOUBLE) / d.df) AS tfidf
        FROM tf JOIN dfreq d USING (term) CROSS JOIN n
    )
    SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, df,
           CAST(round(tfidf, 6) AS DOUBLE) AS tfidf
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id
              ORDER BY tfidf DESC, df ASC, term ASC) AS rk
          FROM scored) t
    WHERE rk <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — per-document top-3 TF-IDF terms: explode→(doc,term) counts,
    document frequency from the aggregated counts (strictly smaller second
    shuffle), corpus size broadcast as a one-row frame, per-doc ranking
    window with a total tie order."""
    from fefal_etl_spark.llm.text_analysis import tfidf_top_terms

    # fan_table (round 12): the documents parquet is a single scan
    # split even at sf1, so the explode + (doc, term) partial
    # aggregation — the query's dominant CPU — otherwise runs on one
    # core (the levenshtein/bootstrap_ci lesson, datasets.fan_table)
    docs = fan_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, id_col="doc_id", text_col="text", top_n=3)


def _staged_cosine_index(spark: SparkSession, sf_dir: str):
    """The three staged sparse-cosine frames, shared by the pairs and
    topk queries (review r11: keeping the staging keys + max_df_pct in
    ONE place — the fingerprint covers the source data, not the build
    parameters, so divergent copies would silently serve mismatched
    weights). Stage the threshold-independent PREFIX-FILTER INDEX
    (round 10) — weights + the per-feature tail bounds (__s/__g) —
    and the verify-stage Bloom term sets (round 11): the tokenize,
    both vocab shuffles, the doc-keyed bound window AND the bloom
    double-aggregation run once per corpus fingerprint; every consumer
    leg (prefix, probe, verify, norms, bloom probe) is then a plain
    columnar scan. Zero-arg callables: the write-side lineage is only
    CONSTRUCTED on a staging miss (review r10 #5)."""
    from fefal_etl_spark.llm.similarity import (
        sparse_cosine_blooms,
        sparse_cosine_index,
        sparse_cosine_weights,
    )
    from fefal_etl_spark.staging import source_fingerprint, stage_parquet

    fp = source_fingerprint(sf_dir, "documents")
    weights = stage_parquet(
        spark,
        "sim_w10",
        fp,
        lambda: sparse_cosine_weights(
            _corpus(spark, sf_dir), "doc_id", "text", max_df_pct=10
        ),
        scope="session",
    )
    indexed = stage_parquet(
        spark,
        "sim_w10x",
        fp,
        lambda: sparse_cosine_index(weights, "doc_id"),
        scope="session",
    )
    blooms = stage_parquet(
        spark,
        "sim_w11b",
        fp,
        lambda: sparse_cosine_blooms(weights, "doc_id"),
        scope="session",
    )
    return weights, indexed, blooms



@register(
    "sparse_cosine_pairs",
    f"""
    WITH {_CORPUS_SQL},
    tokens AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        FROM corpus
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tokens GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM corpus),
    w AS (
        SELECT doc_id, term, tf * (CAST(1000000 AS BIGINT) // df) AS w
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
        WHERE df * 100 <= n_docs * 10
    ),
    norms AS (
        SELECT doc_id, SUM(CAST(w AS HUGEINT) * CAST(w AS HUGEINT)) AS norm2
        FROM w GROUP BY doc_id
    ),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(CAST(a.w AS HUGEINT) * CAST(b.w AS HUGEINT)) AS dot,
               CAST(count(*) AS BIGINT) AS n_shared_terms
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           n_shared_terms,
           round(CAST(dot AS DOUBLE)
                 / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)),
                 6) AS cos_sim
    FROM p
    JOIN norms na ON na.doc_id = p.id_a
    JOIN norms nb ON nb.doc_id = p.id_b
    WHERE round(CAST(dot AS DOUBLE)
                / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)),
                6) >= 0.6
    """,
)
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 lexical — DF-pruned inverted-index cosine pairs
    (llm/similarity.py::sparse_cosine_pairs): docs meet only through
    shared terms; terms in >10% of the corpus are pruned by an integer
    compare BEFORE the posting-list self-join, bounding per-term fan-out.
    Weights are integers (tf · scale DIV df), so dots/norms are exact
    DECIMAL/HUGEINT sums — no float summation-order hazard; the planted
    near-dup pairs surface at cos ≈ 1. Only the final cast/sqrt/divide of
    exact integers is floating point (correctly rounded, engine-identical;
    round-6 convention on both sides)."""
    from fefal_etl_spark.llm.similarity import sparse_cosine_pairs

    _w, indexed, blooms = _staged_cosine_index(spark, sf_dir)
    return sparse_cosine_pairs(
        _corpus(spark, sf_dir),
        "doc_id",
        "text",
        max_df_pct=10,
        threshold=0.6,
        indexed_df=indexed,
        blooms_df=blooms,
    )


@register(
    "sparse_cosine_topk",
    f"""
    WITH {_CORPUS_SQL},
    tokens AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        FROM corpus
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tokens GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM corpus),
    w AS (
        SELECT doc_id, term, tf * (CAST(1000000 AS BIGINT) // df) AS w
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
        WHERE df * 100 <= n_docs * 10
    ),
    norms AS (
        SELECT doc_id, SUM(CAST(w AS HUGEINT) * CAST(w AS HUGEINT)) AS norm2
        FROM w GROUP BY doc_id
    ),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(CAST(a.w AS HUGEINT) * CAST(b.w AS HUGEINT)) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b,
               round(CAST(dot AS DOUBLE)
                     / sqrt(CAST(na.norm2 AS DOUBLE)
                            * CAST(nb.norm2 AS DOUBLE)),
                     6) AS cos_sim
        FROM p
        JOIN norms na ON na.doc_id = p.id_a
        JOIN norms nb ON nb.doc_id = p.id_b
        WHERE round(CAST(dot AS DOUBLE)
                    / sqrt(CAST(na.norm2 AS DOUBLE)
                           * CAST(nb.norm2 AS DOUBLE)),
                    6) >= 0.6
    ),
    sym AS (
        SELECT id_a AS doc_id, id_b AS neighbor_id, cos_sim FROM pairs
        UNION ALL
        SELECT id_b AS doc_id, id_a AS neighbor_id, cos_sim FROM pairs
    ),
    ranked AS (
        SELECT doc_id, neighbor_id, cos_sim,
               row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY cos_sim DESC, neighbor_id
               ) AS rk
        FROM sym
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(rk AS BIGINT) AS rk, cos_sim
    FROM ranked WHERE rk <= 3
    """,
)
def q_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 lexical — per-document sparse-cosine k-NN
    (llm/similarity.py::sparse_cosine_topk; round 11, VERDICT r10
    item 5): the bounded-output complement of sparse_cosine_pairs.
    The same staged prefix-filter index drives candidate generation
    and the exact integer verify; the symmetrized ≥τ pairs are then
    cut to each doc's top-3 by one window with a deterministic
    (cos desc, neighbor asc) tiebreak. Output ≤ N·k rows regardless
    of similarity-graph density — the all-pairs form's sf1 output is
    12.5M rows; this stays corpus-linear."""
    from fefal_etl_spark.llm.similarity import sparse_cosine_topk

    _w, indexed, blooms = _staged_cosine_index(spark, sf_dir)
    return sparse_cosine_topk(
        _corpus(spark, sf_dir),
        "doc_id",
        "text",
        k=3,
        max_df_pct=10,
        threshold=0.6,
        indexed_df=indexed,
        blooms_df=blooms,
    )


from fefal_etl_spark.llm.curation import EMAIL_RE, PHONE_RE  # noqa: E402


@register(
    "pii_scrub",
    f"""
    WITH seeded AS (
        SELECT doc_id,
               text || ' Contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +351 91' || CAST(doc_id AS VARCHAR)
                    || ' 55 now.' AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}'))
              + len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_pii,
           regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS text_scrubbed
    FROM seeded
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — PII redaction pass (emails + phone numbers → placeholder
    tokens) over a corpus seeded with deterministic synthetic PII (the raw
    testdata has none, so the planted contacts are what the scrubber must
    find). Narrow expressions only — fuses into the scan."""
    from fefal_etl_spark.llm.curation import scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +351 91"),
            F.col("doc_id").cast("string"),
            F.lit(" 55 now."),
        ).alias("text"),
    )
    return scrub_pii(seeded, "text").select("doc_id", "n_pii", "text_scrubbed")


_SQL_SEMDEDUP_COS = """list_dot_product(a.__va, b.__vb) /
               (sqrt(list_dot_product(a.__va, a.__va)) *
                sqrt(list_dot_product(b.__vb, b.__vb)))"""


@register(
    "semdedup_pairs",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    plant AS (
        SELECT vec_id + 2000000 AS vec_id,
               list_concat([v[1] * 1.1], v[2:]) AS v
        FROM base WHERE vec_id % 10 = 0
    ),
    e AS (SELECT * FROM base UNION ALL SELECT * FROM plant),
    c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 4),
    {_sql_kmeans_round('a1', 'c0', 'c1')},
    {_sql_kmeans_round('a2', 'c1', 'c2')},
    final AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c2.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_SQL_D2.format(a='e.v', b='c2.c')}, c2.cid) AS rk
            FROM e CROSS JOIN c2) t
        WHERE rk = 1
    ),
    m AS (SELECT e.vec_id, e.v, f.cid FROM e JOIN final f USING (vec_id))
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(a.cid AS BIGINT) AS centroid_id,
           round({_SQL_SEMDEDUP_COS}, 6) AS cos_sim
    FROM (SELECT vec_id, v AS __va, cid FROM m) a
    JOIN (SELECT vec_id, v AS __vb, cid FROM m) b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE round({_SQL_SEMDEDUP_COS}, 9) >= 0.95
    """,
)
def q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — SemDeDup-style semantic dedup: k-means clusters the embedding
    space (deterministic init, 2 unrolled Lloyd's rounds), exact cosine
    verified only within clusters. The corpus is seeded with planted
    near-dups (every 10th vector re-id'd with one dimension scaled 1.1 —
    cosine ≈ 0.999) since the raw testdata has no organic pairs ≥ 0.95;
    the query must recover exactly the planted set. Sub-quadratic: the
    pair join never leaves a cluster."""
    from fefal_etl_spark.llm.similarity import as_double_vec, semdedup_pairs

    _assert_plant_headroom(spark, sf_dir, "embeddings", "vec_id")
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("embedding"))
    # planted ids live FAR above any real id namespace (round 9: the
    # old +10000 collided with sf1's tiled vec_ids, making ids
    # non-unique and the assignment tie engine-dependent; the
    # headroom assert above keeps that true under any future tiling)
    plant = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) * 1.1),
            F.slice("embedding", 2, 10_000),
        ).alias("embedding"),
    )
    corpus = base.unionByName(plant)
    out = semdedup_pairs(corpus, k=4, iters=2, threshold=0.95)
    return out.select(
        "id_a", "id_b", "centroid_id", F.round("cos_sim", 6).alias("cos_sim")
    )


@register(
    "dup_clusters",
    """
    WITH RECURSIVE
    e1 AS (SELECT doc_id AS src, doc_id + 1000000 AS dst
           FROM documents WHERE doc_id % 10 = 0),
    e2 AS (SELECT doc_id + 1000000 AS src, doc_id + 2000000 AS dst
           FROM documents WHERE doc_id % 20 = 0),
    edges AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2),
    bidir AS (SELECT src AS a, dst AS b FROM edges
              UNION ALL SELECT dst, src FROM edges),
    nodes AS (SELECT DISTINCT a AS node FROM bidir),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT b.b, r.lbl FROM reach r JOIN bidir b ON b.a = r.node
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(min(lbl) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 capstone — transitive closure of near-dup *pairs* into duplicate
    *clusters* (connected components by min-label propagation,
    llm/dedup.py::connected_components). The edge list plants two-hop
    chains (A–A′ and A′–A″ for every 20th doc) so the closure genuinely
    propagates: pairwise output alone would miss A≈A″. Oracle = recursive
    CTE computing min-reachable-id per node. This is the step between any
    pair generator (minhash/simhash/semdedup) and a dedup verdict.
    Runs in the default rounds-until-converged mode — correctness no
    longer leans on these chains happening to be 2 hops deep."""
    from fefal_etl_spark.llm.dedup import connected_components

    _assert_plant_headroom(spark, sf_dir, "documents", "doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1000000).alias("dst")
    )
    e2 = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("src"),
        (F.col("doc_id") + 2000000).alias("dst"),
    )
    edges = e1.unionByName(e2)
    out = connected_components(edges)
    return out.select(
        F.col("node").cast("long"), F.col("component").cast("long")
    )


@register(
    "cluster_safe_split",
    """
    WITH RECURSIVE
    e1 AS (SELECT doc_id AS src, doc_id + 1000000 AS dst
           FROM documents WHERE doc_id % 10 = 0),
    e2 AS (SELECT doc_id + 1000000 AS src, doc_id + 2000000 AS dst
           FROM documents WHERE doc_id % 20 = 0),
    edges AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2),
    bidir AS (SELECT src AS a, dst AS b FROM edges
              UNION ALL SELECT dst, src FROM edges),
    enodes AS (SELECT DISTINCT a AS node FROM bidir),
    reach(node, lbl) AS (
        SELECT node, node FROM enodes
        UNION
        SELECT b.b, r.lbl FROM reach r JOIN bidir b ON b.a = r.node
    ),
    comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
    universe AS (
        SELECT doc_id FROM documents
        UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id % 10 = 0
        UNION ALL SELECT doc_id + 2000000 FROM documents WHERE doc_id % 20 = 0
    ),
    labeled AS (
        SELECT u.doc_id,
               CAST(COALESCE(c.component, u.doc_id) AS BIGINT) AS component
        FROM universe u LEFT JOIN comp c ON c.node = u.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, component,
           CASE WHEN ('0x' || substr(md5('split' || '|' ||
                          CAST(component AS VARCHAR)), 1, 15))::BIGINT
                     % 10000 < 1000
                THEN 'test' ELSE 'train' END AS side
    FROM labeled
    """,
)
def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split (llm/sampling.py::cluster_safe_split):
    near-dup CLUSTERS, not documents, are the unit of split assignment —
    the planted A–A′–A″ chains (same edge list as `dup_clusters`) must
    land wholly on one side, which a doc-keyed split cannot guarantee
    (near-dup twins of test docs leaking into train is the contamination
    vector decontamination scans can't see). Components run on the edge
    list only; the corpus sees one doc-keyed join + a narrow hash filter.
    Row-level output pins the exact membership of every doc."""
    from fefal_etl_spark.llm.sampling import cluster_safe_split

    _assert_plant_headroom(spark, sf_dir, "documents", "doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1000000).alias("dst")
    )
    e2 = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("src"),
        (F.col("doc_id") + 2000000).alias("dst"),
    )
    universe = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id")
        )
    ).unionByName(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id")
        )
    )
    return cluster_safe_split(
        universe, e1.unionByName(e2), "doc_id", test_fraction=0.1
    )


@register(
    "decontaminate_overlap",
    """
    WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
    inj AS (
        SELECT doc_id AS eid,
               array_to_string(
                   (regexp_split_to_array(trim(lower(text)), '\\s+'))[1:10],
                   ' ') AS frag
        FROM ev
    ),
    tr AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 5 = 1
                    THEN d.text || ' ' || i.frag
                    ELSE d.text END AS text
        FROM documents d
        LEFT JOIN inj i ON i.eid = d.doc_id - (d.doc_id % 25)
        WHERE d.doc_id % 25 <> 0
    ),
    g_tr AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
                                         i -> array_to_string(w[i:i+7], ' '))) AS g
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                  FROM tr) x) y
        WHERE g <> ''
    ),
    g_ev AS (
        SELECT DISTINCT g FROM (
            SELECT unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
                                         i -> array_to_string(w[i:i+7], ' '))) AS g
            FROM (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                  FROM ev) x) y
        WHERE g <> ''
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM g_tr JOIN g_ev USING (g)
    GROUP BY doc_id
    """,
)
def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — benchmark decontamination: training docs sharing any word
    8-gram with the eval set are flagged with their distinct-overlap
    count. Every 25th doc is the eval set; every doc ≡1 (mod 5) is
    *planted* contaminated by appending the first 10 words of its eval
    partner — the query must recover exactly those (3 shared 8-grams
    each, plus any organic collisions, identical on both engines). The
    eval shingle set broadcasts; the training corpus is never shuffled
    (llm/curation.py::decontaminate)."""
    from fefal_etl_spark.llm.curation import decontaminate

    docs = fan_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text")
    frag = F.concat_ws(
        " ", F.slice(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, 10)
    )
    inj = ev.select(F.col("doc_id").alias("__eid"), frag.alias("__frag"))
    tr = (
        docs.filter(F.col("doc_id") % 25 != 0)
        .join(
            F.broadcast(inj),
            F.col("doc_id") - (F.col("doc_id") % 25) == F.col("__eid"),
            "left",
        )
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 1,
                F.concat(F.col("text"), F.lit(" "), F.col("__frag")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return decontaminate(tr, ev, n=8)


@register(
    "doc_chunks",
    """
    WITH w AS (
        SELECT doc_id,
               regexp_split_to_array(
                   regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS words
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               unnest(range(1, greatest(len(words), 1) + 1, 40)) AS chunk_pos,
               words
        FROM w
    )
    SELECT doc_id, CAST(chunk_pos AS INT) AS chunk_pos,
           array_to_string(words[chunk_pos:chunk_pos+49], ' ') AS chunk,
           CAST(len(words[chunk_pos:chunk_pos+49]) AS INT) AS n_words
    FROM c
    WHERE array_to_string(words[chunk_pos:chunk_pos+49], ' ') <> ''
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — context-window chunking: overlapping 50-word chunks at stride
    40 (10-word overlap), the standard preprocessing for embedding /
    training-example generation. Narrow fan-out only — the words array is
    materialized once, the start sequence explodes against it, zero
    shuffles (llm/text_analysis.py::chunk_documents)."""
    from fefal_etl_spark.llm.text_analysis import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_words=50, stride=40)


@register(
    "sequence_packing",
    f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT)
                   AS n_tokens,
               doc_id % 32 AS shard
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens, shard,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS s
        FROM toks
    )
    SELECT doc_id, n_tokens, CAST(shard AS BIGINT) AS shard,
           CAST(floor(s / 4096) AS BIGINT) AS bin_id,
           CAST(s % 4096 AS BIGINT) AS bin_offset
    FROM c
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — deterministic contiguous sequence packing: docs → fixed
    4096-token training bins, sharded by id so the cumulative-sum window
    is per-shard (never a global single-partition window). Pure function
    of (id, token count): both engines agree bit-for-bit
    (llm/sampling.py::pack_sequences)."""
    from fefal_etl_spark.llm.sampling import pack_sequences
    from fefal_etl_spark.llm.text_analysis import token_count

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    out = pack_sequences(toks, budget=4096, num_shards=32)
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("shard").cast("long").alias("shard"),
        "bin_id",
        "bin_offset",
    )


# --------------------------------------------------------------------------
# E2+: embedding int8 quantization;  E3+: per-source z-score normalization
# --------------------------------------------------------------------------


@register(
    "embedding_quantize",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT vec_id, v,
               CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                    THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                    ELSE 0.0 END AS scale
        FROM base
    )
    SELECT vec_id, round(scale, 6) AS scale,
           array_to_string(
               list_transform(v, x -> CAST(round(x * scale) AS INT)), ','
           ) AS q_str
    FROM s
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — symmetric per-vector int8 quantization
    (llm/similarity.py::quantize_embeddings): scale = 127/max|v|, codes
    round(v·scale). Pure JVM higher-order expressions, zero shuffles; the
    int8 codes are the 4-8× storage/IO lever for ANN at corpus scale. The
    code array is emitted comma-joined (the harness's array-flattening
    convention) and must match DuckDB's list_transform element-for-
    element."""
    from fefal_etl_spark.llm.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, id_col="vec_id", vec_col="embedding")
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_join(F.col("q").cast("array<string>"), ",").alias("q_str"),
    )


@register(
    "quality_zscores",
    """
    WITH stats AS (
        SELECT source,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(n_chars) AS HUGEINT) AS s1,
               CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS s2
        FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars,
           round(CASE WHEN (n*s2 - s1*s1) > 0
                      THEN CAST(n * d.n_chars - s1 AS DOUBLE)
                           / sqrt(CAST(n*s2 - s1*s1 AS DOUBLE))
                      ELSE 0.0 END, 6) AS z
    FROM documents d JOIN stats USING (source)
    """,
)
def q_quality_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — per-source z-score standardization of doc length
    (functions/numeric.py::zscores_by_group): moments cleared of divisions
    so every intermediate is an exact integer (DECIMAL(38,0) in Spark,
    HUGEINT in the oracle) and both engines perform the same single double
    division + sqrt. The step a curation pipeline runs before thresholding
    'too short/long for its source' — absolute length cuts are source-
    relative at corpus scale."""
    from fefal_etl_spark.functions.numeric import zscores_by_group

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = zscores_by_group(docs, value_col="n_chars", group_col="source")
    return out.select(
        "doc_id", "source", "n_chars", F.round("z", 6).alias("z")
    )


@register(
    "embedding_covariance",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    comps AS (
        SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x
        FROM base
    ),
    nn AS (SELECT count(*) AS n FROM base),
    sums AS (
        SELECT i, SUM(CAST(x AS DECIMAL(38,18))) AS s FROM comps GROUP BY i
    ),
    prods AS (
        SELECT a.i AS i, b.i AS j,
               SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS sxy
        FROM comps a JOIN comps b
          ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i
    )
    SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
           round(CAST(p.sxy AS DOUBLE) / n
                 - (CAST(si.s AS DOUBLE) / n) * (CAST(sj.s AS DOUBLE) / n),
                 6) + 0.0 AS cov
    FROM prods p
    JOIN sums si ON p.i = si.i
    JOIN sums sj ON p.j = sj.i
    CROSS JOIN nn
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — distributed corpus covariance of the embedding column
    (llm/similarity.py::covariance_matrix), the PCA/whitening statistic:
    upper-triangle (i, j, cov) with every sum in DECIMAL(38,18) so both
    engines reduce to identical exact sums before the one shared double
    expression. The d×d result is what pca_project eigendecomposes
    driver-side (tests) — corpus rows never reach the driver."""
    from fefal_etl_spark.llm.similarity import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    out = covariance_matrix(emb, id_col="vec_id", vec_col="embedding")
    # + 0.0 squashes IEEE negative zero, which would hash-differ from 0.0
    return out.select("i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov"))


@register(
    "per_source_cap",
    """
    WITH h AS (
        SELECT doc_id, source,
               ('0x' || substr(md5('cap' || '|' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT AS hk
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY hk, doc_id) AS rk
        FROM h
    )
    SELECT doc_id, source FROM ranked WHERE rk <= 15
    """,
)
def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — deterministic per-group cap (llm/sampling.py::per_group_cap):
    at most 15 docs per source (sources carry 25+ docs, so the cap genuinely filters at every SF), selected by salted-hash rank — the
    domain-balancing staple. The identical subset falls out of both
    engines because rank order is the portable md5 hash with a key
    tiebreak, never an RNG."""
    from fefal_etl_spark.llm.sampling import per_group_cap

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return per_group_cap(docs, group_col="source", key_col="doc_id", cap=15)


@register(
    "segment_dedup",
    """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' planted near dup tail'
        FROM documents WHERE doc_id % 10 = 0
    ),
    w AS (
        SELECT doc_id,
               regexp_split_to_array(
                   regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS words
        FROM corpus
    ),
    s AS (
        SELECT doc_id,
               CAST(unnest(range(0, CAST(ceil(len(words) / 20.0) AS BIGINT)))
                   AS INT) AS seg_idx,
               CAST(ceil(len(words) / 20.0) AS BIGINT) AS nseg,
               words
        FROM w
    ),
    seg AS (
        SELECT doc_id, seg_idx, nseg,
               array_to_string(words[seg_idx*20+1 : seg_idx*20+20], ' ') AS seg
        FROM s
        WHERE array_to_string(words[seg_idx*20+1 : seg_idx*20+20], ' ') <> ''
    ),
    r AS (
        SELECT doc_id, seg_idx, nseg, seg,
               row_number() OVER (PARTITION BY seg
                                  ORDER BY doc_id, seg_idx) AS rn
        FROM seg
    )
    SELECT doc_id,
           string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
           CAST(max(nseg) AS BIGINT) AS n_segments,
           CAST(count(*) AS BIGINT) AS n_kept
    FROM r WHERE rn = 1
    GROUP BY doc_id
    """,
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — passage-level exact dedup (llm/dedup.py::segment_dedup), the
    RefinedWeb "repeated paragraph removal" shape over 20-word windows:
    only the globally first occurrence of each segment survives and
    documents are reassembled from their surviving segments. Run over the
    planted-dup corpus, every planted copy collapses to just its altered
    tail segment while originals pass through intact. The explode is a
    partition of the words array (payload ≈ corpus size, not shingle
    fan-out); the wide stage shuffles by segment text — content-addressed,
    document-skew-proof."""
    from fefal_etl_spark.llm.dedup import segment_dedup

    return segment_dedup(_corpus(spark, sf_dir), segment_words=20)


@register(
    "temperature_resample",
    """
    WITH c AS (SELECT source, count(*) AS n_g FROM documents GROUP BY source),
    t AS (SELECT SUM(CAST(floor(sqrt(n_g)) AS BIGINT)) AS w_tot,
                 SUM(n_g) AS n_tot FROM c),
    d AS (SELECT c.source, c.n_g,
                 CAST(floor(sqrt(c.n_g)) AS BIGINT) AS w_g,
                 t.w_tot, (t.n_tot * 50) // 100 AS t_tgt
          FROM c, t),
    b AS (SELECT doc_id, source,
                 ('0x' || substr(md5('temp' || '|' || CAST(doc_id AS VARCHAR)),
                                 1, 15))::BIGINT % 10000 AS bucket
          FROM documents)
    SELECT b.doc_id, b.source
    FROM b JOIN d USING (source)
    WHERE CAST(bucket AS HUGEINT) * w_tot * n_g
          < CAST(10000 AS HUGEINT) * t_tgt * w_g
    """,
)
def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — α=0.5 temperature domain mixing (llm/sampling.py::
    temperature_resample): a deterministic ≈50% corpus sample whose
    per-source share is ∝ √(source size) — small domains boosted, big
    domains damped, the mBERT/XLM-R rebalancing recipe. The keep decision
    is an all-integer multiply-compare in DECIMAL(38,0)/HUGEINT (no float
    threshold to disagree about); the corpus sees one broadcast join plus
    a narrow filter, never a shuffle."""
    from fefal_etl_spark.llm.sampling import temperature_resample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = temperature_resample(
        docs, key_col="doc_id", group_col="source", target_pct=50, salt="temp"
    )
    return out.select("doc_id", "source")


@register(
    "dedup_canonicalize",
    """
    WITH RECURSIVE
    corpus AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               CAST(length(text || ' planted near dup tail') AS BIGINT)
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000,
               CAST(length(text || ' planted near dup tail extended') AS BIGINT)
        FROM documents WHERE doc_id % 20 = 0
    ),
    e1 AS (SELECT doc_id AS src, doc_id + 1000000 AS dst
           FROM documents WHERE doc_id % 10 = 0),
    e2 AS (SELECT doc_id + 1000000 AS src, doc_id + 2000000 AS dst
           FROM documents WHERE doc_id % 20 = 0),
    edges AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2),
    bidir AS (SELECT src AS a, dst AS b FROM edges
              UNION ALL SELECT dst, src FROM edges),
    nodes AS (SELECT DISTINCT a AS node FROM bidir),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT b.b, r.lbl FROM reach r JOIN bidir b ON b.a = r.node
    ),
    comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
    lab AS (
        SELECT c.doc_id, c.n_chars,
               coalesce(p.component, c.doc_id) AS component
        FROM corpus c LEFT JOIN comp p ON p.node = c.doc_id
    ),
    r AS (
        SELECT doc_id, component,
               row_number() OVER (PARTITION BY component
                                  ORDER BY n_chars DESC, doc_id ASC) AS rk
        FROM lab
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS cluster_size
    FROM r GROUP BY component
    """,
)
def q_dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 capstone — the dedup VERDICT (llm/dedup.py::
    canonicalize_clusters): near-dup pairs → connected components →
    one keeper per cluster (highest n_chars, ties → lowest id), singletons
    included. Planted 2- and 3-deep chains exercise real transitive
    merging; the keeper is the extended planted copy for 3-clusters.
    Components run on the tiny edge list; the corpus sees one broadcast
    left join and a cluster-partitioned window — never a corpus-wide
    shuffle by content."""
    from fefal_etl_spark.llm.dedup import canonicalize_clusters

    _assert_plant_headroom(spark, sf_dir, "documents", "doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plant1 = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" planted near dup tail")).alias("text"),
    )
    plant2 = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" planted near dup tail extended")).alias("text"),
    )
    corpus = docs.unionByName(plant1).unionByName(plant2).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    e1 = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1000000).alias("dst")
    )
    e2 = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("src"),
        (F.col("doc_id") + 2000000).alias("dst"),
    )
    out = canonicalize_clusters(corpus, e1.unionByName(e2))
    return out.select(
        F.col("component").cast("long"),
        F.col("keeper_id").cast("long"),
        "cluster_size",
    )


@register(
    "training_shards",
    f"""
    WITH s AS (
        SELECT doc_id,
               ('0x' || substr(md5('shard' || '|' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT % 64 AS shard,
               CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT)
                   AS n_tokens
        FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM s GROUP BY shard
    """,
)
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — deterministic training-shard layout (llm/sampling.py::
    shard_assign): every document lands in one of 64 shards by a pure
    md5 function of its id — the reproducible global shuffle + sharded
    export pretraining loaders expect (feed the same column to
    ``partitionBy`` + ``maxRecordsPerFile`` to materialize). The query
    audits the layout: per-shard doc and token totals — one
    map-side-combinable aggregation, balance guaranteed by the hash."""
    from fefal_etl_spark.llm.sampling import shard_assign
    from fefal_etl_spark.llm.text_analysis import token_count

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            shard_assign(F.col("doc_id"), num_shards=64).alias("shard"),
            token_count(F.col("text")).alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .select(F.col("shard").cast("long"), "n_docs", "n_tokens", "first_doc")
    )


@register(
    "vocab_coverage",
    """
    WITH toks AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
            FROM documents) x
        WHERE t <> ''
    ),
    cnts AS (SELECT t, count(*) AS cnt FROM toks GROUP BY t),
    v AS (
        SELECT t AS v FROM (
            SELECT t, row_number() OVER (ORDER BY cnt DESC, t ASC) AS rk
            FROM cnts) x
        WHERE rk <= 25
    ),
    j AS (SELECT toks.doc_id, v.v FROM toks LEFT JOIN v ON toks.t = v.v)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(v) AS BIGINT) AS n_in_vocab,
           CAST(count(v) AS DOUBLE) / count(*) AS coverage
    FROM j GROUP BY doc_id
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — corpus-relative vocabulary coverage (llm/text_analysis.py::
    vocab_coverage): top-25 word vocabulary by total count (deterministic
    tie-break), then per-doc fraction of tokens covered — the cheap
    out-of-domain/noise gate before model-based quality filters. Token
    counts shuffle by WORD (vocab-sized, tiny); the vocabulary broadcasts
    back; per-doc counts shuffle by id with map-side partials. Coverage
    is one correctly-rounded double division — engines agree exactly."""
    from fefal_etl_spark.llm.text_analysis import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, vocab_size=25)


@register(
    "token_diversity",
    """
    WITH toks AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
            FROM documents) x
        WHERE t <> ''
    ),
    pw AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) AS DOUBLE) / sum(c) AS ttr,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
    FROM pw GROUP BY doc_id
    """,
)
def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — lexical diversity (llm/text_analysis.py::token_diversity):
    type-token ratio and unigram entropy per document, the
    Gopher-family repetitiousness gate. Two map-side-combinable
    aggregations keyed by doc id; TTR is exact integer arithmetic,
    entropy rounds to 6 decimals on both engines (summation-order ulp
    caveat documented in the operator)."""
    from fefal_etl_spark.llm.text_analysis import token_diversity

    docs = load_table(spark, sf_dir, "documents")
    return token_diversity(docs)


@register(
    "dup_clusters_star",
    """
    WITH RECURSIVE
    ids AS (SELECT doc_id FROM documents),
    chain AS (
        SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
        WHERE doc_id < 60 AND (doc_id + 1) IN (SELECT doc_id FROM ids)
    ),
    pairs AS (
        SELECT doc_id AS src, doc_id + 1000000 AS dst FROM ids
        WHERE doc_id % 10 = 0 AND doc_id >= 100
    ),
    edges AS (SELECT * FROM chain UNION ALL SELECT * FROM pairs),
    bidir AS (SELECT src AS a, dst AS b FROM edges
              UNION ALL SELECT dst, src FROM edges),
    nodes AS (SELECT DISTINCT a AS node FROM bidir),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT b.b, r.lbl FROM reach r JOIN bidir b ON b.a = r.node
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(min(lbl) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
)
def q_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — connected components via alternating small-star/large-star
    (llm/dedup.py::connected_components_star, Kiveris et al. SoCC'14):
    the O(log n)-round form for unbounded-diameter graphs. The planted
    edge list is a 61-node CHAIN (diameter 60 — min-label propagation
    would need 60 shuffles; the star form stabilizes in ~6 two-shuffle
    rounds) plus disjoint near-dup pairs. Oracle = the same recursive-CTE
    closure as `dup_clusters`."""
    from fefal_etl_spark.llm.dedup import connected_components_star

    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    nxt = ids.select((F.col("doc_id")).alias("k"))
    chain = (
        ids.filter(F.col("doc_id") < 60)
        .join(nxt, F.col("doc_id") + 1 == F.col("k"), "left_semi")
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
    )
    pairs = ids.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") >= 100)).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1000000).alias("dst")
    )
    out = connected_components_star(chain.unionByName(pairs))
    return out.select(F.col("node").cast("long"), F.col("component").cast("long"))


@register(
    "quantized_rerank_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qz AS (
        SELECT vec_id, v,
               CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                    THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                    ELSE 0.0 END AS scale
        FROM e
    ),
    codes AS (
        SELECT vec_id, v,
               list_transform(v, x -> CAST(round(x * scale) AS BIGINT)) AS q
        FROM qz
    ),
    qs AS (SELECT vec_id AS query_id, q AS qq, v AS qv FROM codes
           WHERE vec_id < 3),
    scored AS (
        SELECT qs.query_id, c.vec_id,
               CAST(list_dot_product(c.q, qs.qq) AS BIGINT) AS int_score,
               list_dot_product(c.v, qs.qv) /
               (sqrt(list_dot_product(c.v, c.v)) *
                sqrt(list_dot_product(qs.qv, qs.qv))) AS cs
        FROM codes c CROSS JOIN qs WHERE c.vec_id <> qs.query_id
    ),
    pre AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY int_score DESC, vec_id) AS prk
        FROM scored
    )
    SELECT query_id, vec_id, int_score,
           round(cs, 6) AS cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rk
          FROM pre WHERE prk <= 20) t
    WHERE rk <= 5
    """,
)
def q_quantized_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — int8-prefiltered ANN with float re-rank
    (llm/similarity.py::quantized_rerank_topk): candidates scored by the
    INTEGER code dot product (exact 64-bit math — bit-identical across
    engines), top-20 per query kept, exact cosine re-ranks to top-5.
    This is the end-to-end payoff of the V20 quantization lever: the
    prefilter stage reads 4-8× fewer bytes at scale and composes with the
    IVF bucket restriction."""
    from fefal_etl_spark.llm.similarity import quantized_rerank_topk

    # fan_table: the int8 encode + HOF dot products run in the scan
    # stage; single-split parquet would keep them on one core
    # (same-session A/B: 1.42 -> 0.81 s warm at sf0.1)
    emb = fan_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = quantized_rerank_topk(emb, queries, prefilter=20, k=5)
    return out.select(
        "query_id", "vec_id", "int_score",
        F.round("cos_sim", 6).alias("cos_sim"), "rk",
    )


@register(
    "unigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
            FROM documents) x
        WHERE t <> ''
    ),
    model AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT SUM(c) AS n FROM model),
    scored AS (
        SELECT toks.doc_id,
               -log2(CAST(model.c AS DOUBLE) / (SELECT n FROM tot)) AS nll
        FROM toks JOIN model USING (t)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(nll), 6) AS mean_nll
    FROM scored GROUP BY doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — corpus-unigram negative-log-likelihood scoring
    (llm/text_analysis.py::unigram_logprob): the perplexity-gate dataflow
    (fit distribution → broadcast → score) with the corpus's own unigram
    model. Model fit shuffles at vocabulary cardinality; scoring is a
    broadcast join + per-doc mean (round-6 both engines)."""
    from fefal_etl_spark.llm.text_analysis import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


@register(
    "quality_rank_blend",
    """
    WITH feats AS (
        SELECT doc_id, n_chars,
               len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                               x -> x <> '')) AS n_words,
               CAST(len(list_distinct(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\\s+'),
                   x -> x <> ''))) AS DOUBLE)
                   / greatest(len(list_filter(
                         regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '')), 1) AS ttr
        FROM documents
    )
    SELECT doc_id,
           round(percent_rank() OVER (ORDER BY n_chars), 6) AS pr_chars,
           round(percent_rank() OVER (ORDER BY n_words), 6) AS pr_words,
           round(percent_rank() OVER (ORDER BY ttr), 6) AS pr_ttr,
           round((percent_rank() OVER (ORDER BY n_chars)
                  + percent_rank() OVER (ORDER BY n_words)
                  + percent_rank() OVER (ORDER BY ttr)) / 3, 6) AS blend
    FROM feats
    """,
)
def q_quality_rank_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V58 — rank-normalized quality fusion: three signals (chars, words,
    type-token ratio) each mapped to its empirical percent-rank, blended
    by mean — the scale-free way to combine signals with incomparable
    units (CCNet mixes perplexity buckets the same way).

    The SQL-window formulation (`percent_rank() OVER (ORDER BY v)`) is a
    GLOBAL sort into ONE partition — the classic scale trap. This plan
    instead computes each signal's CDF on its DISTINCT-VALUE table:
    per-value counts (a shuffle at value cardinality, ≪ docs), a running
    sum over the tiny value table, and a broadcast join back — bit-equal
    to percent_rank's (rank−1)/(n−1) with min-rank tie semantics, while
    the corpus is never globally sorted. The oracle deliberately USES the
    window form: two formulations, one semantics."""
    from fefal_etl_spark.llm.text_analysis import nonempty_words

    docs = load_table(spark, sf_dir, "documents")
    wa = nonempty_words(F.col("text"))
    feats = docs.select(
        "doc_id",
        "n_chars",
        F.size(wa).cast("long").alias("n_words"),
        (
            F.size(F.array_distinct(wa)).cast("double")
            / F.greatest(F.size(wa), F.lit(1))
        ).alias("ttr"),
    )
    # persisted: feats feeds the total, three per-signal CDFs, and the
    # output spine — uncached, the per-doc tokenize/TTR projection would
    # re-evaluate ~5× (code-review finding); tracked so harness loops can
    # release the blocks after materialization (cache.release_tracked)
    from fefal_etl_spark.cache import track

    feats = track(feats.persist())
    # one-row broadcast total, NOT a driver-side count(): an eager action
    # at plan-construction time would run an extra job on every call
    totals = feats.agg(F.count(F.lit(1)).alias("__nt"))

    def pct_rank(col_name: str) -> DataFrame:
        """(value → percent_rank) via distinct-value CDF: exact twin of
        percent_rank() without the single-partition global sort."""
        vals = feats.groupBy(col_name).agg(F.count(F.lit(1)).alias("__c"))
        w_cum = (
            Window.orderBy(col_name)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return vals.crossJoin(F.broadcast(totals)).select(
            col_name,
            (
                F.coalesce(F.sum("__c").over(w_cum), F.lit(0)).cast("double")
                / F.greatest(F.col("__nt") - 1, F.lit(1))
            ).alias(f"__pr_{col_name}"),
        )

    out = feats
    for c in ("n_chars", "n_words", "ttr"):
        out = out.join(F.broadcast(pct_rank(c)), c)
    return out.select(
        "doc_id",
        F.round(F.col("__pr_n_chars"), 6).alias("pr_chars"),
        F.round(F.col("__pr_n_words"), 6).alias("pr_words"),
        F.round(F.col("__pr_ttr"), 6).alias("pr_ttr"),
        F.round(
            (F.col("__pr_n_chars") + F.col("__pr_n_words") + F.col("__pr_ttr"))
            / 3,
            6,
        ).alias("blend"),
    )


@register(
    "tombstone_cascade",
    """
    WITH tombstones AS (
        SELECT doc_id FROM documents WHERE doc_id % 13 = 7
    ),
    fps AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                               x -> x <> '') AS ws
            FROM documents) w
        CROSS JOIN LATERAL (SELECT unnest(range(1, greatest(len(ws) - 1, 1))) AS i) g
        WHERE len(ws) >= 3
    )
    SELECT 'documents' AS table_name,
           CAST(count(*) AS BIGINT) AS rows_before,
           CAST(count(*) FILTER (WHERE doc_id % 13 <> 7) AS BIGINT) AS rows_after,
           CAST(count(*) FILTER (WHERE doc_id % 13 = 7) AS BIGINT) AS rows_deleted
    FROM documents
    UNION ALL
    SELECT 'trigram_postings',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE doc_id % 13 <> 7) AS BIGINT),
           CAST(count(*) FILTER (WHERE doc_id % 13 = 7) AS BIGINT)
    FROM fps
    """,
)
def q_tombstone_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V59 — right-to-erasure tombstone propagation: a tombstone key set is
    broadcast anti-joined through the base table AND every derived table
    (here the trigram posting stream) in one pass each, with a per-table
    deletion audit row. At 100 TB the tombstone set broadcasts (it is
    human-scale), each table is scanned ONCE map-side — no shuffles at
    all — and the audit row is a map-side-combinable conditional agg."""
    docs = load_table(spark, sf_dir, "documents")
    tomb = F.col("doc_id") % 13 == 7
    base_audit = docs.agg(
        F.lit("documents").alias("table_name"),
        F.count(F.lit(1)).alias("rows_before"),
        F.count(F.when(~tomb, 1)).alias("rows_after"),
        F.count(F.when(tomb, 1)).alias("rows_deleted"),
    )
    from fefal_etl_spark.llm.dedup import shingles

    postings = shingles(docs, "doc_id", "text", n=3, distinct=False)
    post_audit = postings.agg(
        F.lit("trigram_postings").alias("table_name"),
        F.count(F.lit(1)).alias("rows_before"),
        F.count(F.when(~tomb, 1)).alias("rows_after"),
        F.count(F.when(tomb, 1)).alias("rows_deleted"),
    )
    return base_audit.unionByName(post_audit)


@register(
    "positional_index",
    """
    WITH docs AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS wa
        FROM documents
    ),
    positioned AS (
        SELECT doc_id, unnest(range(0, len(wa))) AS pos, wa FROM docs
    ),
    words AS (SELECT doc_id, pos, wa[pos + 1] AS w FROM positioned)
    SELECT w AS term, doc_id, CAST(count(*) AS BIGINT) AS tf,
           array_to_string(list_sort(list(pos)), ',') AS positions
    FROM words GROUP BY term, doc_id
    """,
)
def q_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V60 — positional inverted-index build: (term, doc, tf, sorted
    position list), the structure phrase search, proximity scoring, and
    span-level decontamination read. One (term, doc)-keyed shuffle with
    map-side partial collect_list; position arrays stay bounded by per-doc
    term frequency. At 100 TB write it `partitionBy(bucket(term))` so
    query-time term lookups prune to one bucket."""
    docs = load_table(spark, sf_dir, "documents")
    from fefal_etl_spark.llm.text_analysis import nonempty_words

    words_pos = docs.select(
        "doc_id",
        F.posexplode(nonempty_words(F.col("text"))).alias("pos", "w"),
    )
    return (
        words_pos.groupBy(F.col("w").alias("term"), F.col("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("tf"),
            # Serialized as a comma-joined string: the driver's result
            # canonicalizer sorts column values in pandas and cannot hash
            # array cells — every registry output column must be scalar
            # (CI-gated in tests/test_ansi_mode.py).
            F.array_join(
                F.sort_array(F.collect_list(F.col("pos").cast("long"))), ","
            ).alias("positions"),
        )
    )


@register(
    "pmi_collocations",
    """
    WITH docs AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS wa
        FROM documents
    ),
    positioned AS (
        SELECT doc_id, unnest(range(0, len(wa))) AS pos, wa FROM docs
    ),
    stream AS (
        SELECT doc_id, pos, wa[pos + 1] AS w,
               lag(wa[pos + 1]) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM positioned
    ),
    uni AS (SELECT w, count(*) AS cu FROM stream GROUP BY w),
    n_tot AS (SELECT sum(cu) AS n FROM uni),
    big AS (
        SELECT prev AS w1, w AS w2, count(*) AS cab
        FROM stream WHERE prev IS NOT NULL
        GROUP BY prev, w HAVING count(*) >= 5
    ),
    m_tot AS (SELECT count(*) AS m FROM stream WHERE prev IS NOT NULL)
    SELECT b.w1, b.w2, CAST(b.cab AS BIGINT) AS n_pair,
           round(log2((CAST(b.cab AS DOUBLE) / m.m)
                      / ((CAST(a1.cu AS DOUBLE) / t.n)
                         * (CAST(a2.cu AS DOUBLE) / t.n))), 6) AS pmi
    FROM big b
    JOIN uni a1 ON a1.w = b.w1
    JOIN uni a2 ON a2.w = b.w2
    CROSS JOIN n_tot t CROSS JOIN m_tot m
    ORDER BY pmi DESC, b.w1, b.w2 LIMIT 50
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V66 — PMI collocation mining (the word2vec phrase-pass statistic):
    top-50 adjacent pairs by log₂(p(ab)/(p(a)p(b))), min-count 5. Rounded
    PMI + lexicographic tiebreak keeps the top-N cut identical across
    engines."""
    from fefal_etl_spark.llm.text_analysis import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, "doc_id", "text", min_count=5, top_n=50)


@register(
    "perplexity_buckets",
    """
    WITH toks AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
            FROM documents) x
        WHERE t <> ''
    ),
    model AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT SUM(c) AS n FROM model),
    scored AS (
        SELECT toks.doc_id,
               -log2(CAST(model.c AS DOUBLE) / (SELECT n FROM tot)) AS nll
        FROM toks JOIN model USING (t)
    ),
    doc_scores AS (
        SELECT doc_id, round(avg(nll), 6) AS mean_nll
        FROM scored GROUP BY doc_id
    ),
    cuts AS (
        SELECT round(quantile_cont(mean_nll, 1.0/3.0), 6) AS c1,
               round(quantile_cont(mean_nll, 2.0/3.0), 6) AS c2
        FROM doc_scores
    )
    SELECT d.doc_id, d.mean_nll,
           CASE WHEN d.mean_nll <= c.c1 THEN 'head'
                WHEN d.mean_nll <= c.c2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM doc_scores d CROSS JOIN cuts c
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V69 — CCNet-style perplexity bucketing: documents split into
    head/middle/tail terciles of their LM score (here the corpus-unigram
    NLL of `unigram_logprob`; a real pipeline swaps in a KenLM/Wikipedia
    perplexity — the DATAFLOW is identical: score → global tercile cuts →
    broadcast-gate). Tercile cuts rounded to 6 before the gate (the
    value_outliers_mad convention); per-doc scores are already round-6 so
    both engines bucket identical values. Cuts are a one-row aggregate
    broadcast back — no global sort of the corpus."""
    from fefal_etl_spark.llm.text_analysis import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    scores = unigram_logprob(docs).select("doc_id", "mean_nll")
    cuts = scores.agg(
        F.round(F.expr("percentile(mean_nll, 1.0/3.0)"), 6).alias("c1"),
        F.round(F.expr("percentile(mean_nll, 2.0/3.0)"), 6).alias("c2"),
    )
    bucket = (
        F.when(F.col("mean_nll") <= F.col("c1"), F.lit("head"))
        .when(F.col("mean_nll") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scores.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "mean_nll", bucket.alias("bucket")
    )


@register(
    "contrastive_pairs",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
        SELECT vec_id, label, v,
               concat(CASE WHEN v[1]  >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN v[9]  >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN v[17] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN v[25] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN v[33] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN v[41] >= 0 THEN '1' ELSE '0' END) AS bkt
        FROM e
    ),
    a AS (
        SELECT vec_id AS anchor_id, label AS albl, v AS av, bkt AS ab
        FROM b WHERE vec_id < 20
    ),
    pos AS (
        SELECT a.anchor_id, c.vec_id AS pair_id, 'pos' AS kind,
               list_dot_product(c.v, a.av)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(a.av, a.av))) AS cs
        FROM a JOIN b c ON c.label = a.albl AND c.vec_id <> a.anchor_id
    ),
    neg AS (
        SELECT a.anchor_id, c.vec_id AS pair_id, 'neg' AS kind,
               list_dot_product(c.v, a.av)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(a.av, a.av))) AS cs
        FROM a JOIN b c ON c.bkt = a.ab AND c.label <> a.albl
    ),
    ranked AS (
        SELECT anchor_id, pair_id, kind, cs,
               CAST(row_number() OVER (
                   PARTITION BY anchor_id, kind ORDER BY cs DESC, pair_id
               ) AS BIGINT) AS rk
        FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg) u
    )
    SELECT anchor_id, pair_id, kind, round(cs, 6) AS cos_sim, rk
    FROM ranked
    WHERE (kind = 'pos' AND rk <= 1) OR (kind = 'neg' AND rk <= 2)
    """,
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V71 — contrastive pair mining for embedding fine-tuning: nearest
    same-label positive + 2 hardest same-LSH-bucket different-label
    negatives per anchor. The bucket restriction supplies hard (not
    random) negatives AND keeps the negative search bucket-joined rather
    than all-pairs at scale."""
    from fefal_etl_spark.llm.similarity import contrastive_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return contrastive_pairs(emb)


@register(
    "weighted_sample",
    """
    WITH keys AS (
        SELECT doc_id, n_chars AS weight,
               round(ln((('0x' || substr(md5('wsamp|' || CAST(doc_id AS VARCHAR)),
                                         1, 13))::BIGINT + 1)
                        / 4503599627370496.0) / n_chars, 9) AS sample_key
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, weight, sample_key,
               CAST(row_number() OVER (ORDER BY sample_key DESC, doc_id)
                    AS BIGINT) AS rk
        FROM keys
    )
    SELECT doc_id, weight, sample_key, rk FROM ranked WHERE rk <= 100
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V76 — deterministic weighted sampling (Efraimidis-Spirakis A-ES):
    top-100 documents by ln(u)/weight with hash-derived u — importance
    sampling ∝ n_chars that replays bit-for-bit across engines, runs, and
    partitionings. Top-k is TakeOrderedAndProject; keys round-9 before
    ranking (libm ln ulps must not reorder the cut)."""
    from fefal_etl_spark.llm.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=100)


@register(
    "matryoshka_recall",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT unnest([8, 16, 32, 64]) AS d),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    sims AS (
        SELECT dm.d, q.query_id, e.vec_id,
               list_dot_product(e.v[1:dm.d], q.qv[1:dm.d])
                 / (sqrt(list_dot_product(e.v[1:dm.d], e.v[1:dm.d]))
                    * sqrt(list_dot_product(q.qv[1:dm.d], q.qv[1:dm.d])))
                   AS cs
        FROM e CROSS JOIN q CROSS JOIN dims dm
        WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT d, query_id, vec_id,
               row_number() OVER (PARTITION BY d, query_id
                                  ORDER BY cs DESC, vec_id) AS rk
        FROM sims
    ),
    top AS (SELECT d, query_id, vec_id FROM ranked WHERE rk <= 10),
    truth AS (SELECT query_id, vec_id FROM top WHERE d = 64),
    overlap AS (
        SELECT t.d, CAST(count(*) AS BIGINT) AS n_hits
        FROM top t JOIN truth u
          ON t.query_id = u.query_id AND t.vec_id = u.vec_id
        GROUP BY t.d
    )
    SELECT CAST(dm.d AS INT) AS dims,
           COALESCE(o.n_hits, 0) AS n_hits,
           round(CAST(COALESCE(o.n_hits, 0) AS DOUBLE)
                 / (SELECT count(*) FROM truth), 6) AS recall_at_10
    FROM dims dm LEFT JOIN overlap o ON dm.d = o.d
    """,
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V80 — Matryoshka-truncation quality audit: recall@10 of cosine
    search over the first 8/16/32 dimensions vs the full-64 truth — the
    measurement behind the modern 'store a prefix, rerank with the tail'
    embedding-cost lever (MRL embeddings are trained so prefixes work;
    this audit tells you how far YOUR vectors can be cut). Integer hit
    counts, one division at the end; per-(dim, query) windows over a
    broadcast query set."""
    from fefal_etl_spark.llm.similarity import as_double_vec, dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    )
    dims = spark.createDataFrame([(8,), (16,), (32,), (64,)], "d int")
    # norms precomputed per (vector, dim) — per PAIR they'd fold 10× more
    # often (measured 2.3 s → 0.55 s warm at sf0.1); persisted so Catalyst
    # can't collapse the projection back into the join and re-fold per
    # output row. cos = dot/(nv·nq) is the same IEEE expression the
    # oracle's list_dot_product/(sqrt·sqrt) computes.
    from fefal_etl_spark.cache import track

    corpus_d = track(
        emb.crossJoin(F.broadcast(dims))
        .select("vec_id", "d", F.slice("v", 1, F.col("d")).alias("vs"))
        .withColumn("nv", l2_norm(F.col("vs")))
        .persist()
    )
    queries_d = corpus_d.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        "d",
        F.col("vs").alias("qs"),
        F.col("nv").alias("nq"),
    )
    sims = (
        corpus_d.join(F.broadcast(queries_d), "d")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "d",
            "query_id",
            "vec_id",
            (
                dot(F.col("vs"), F.col("qs"))
                / (F.col("nv") * F.col("nq"))
            ).alias("cs"),
        )
    )
    w = Window.partitionBy("d", "query_id").orderBy(
        F.col("cs").desc(), F.col("vec_id")
    )
    top = sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 10)
    truth = top.filter(F.col("d") == 64).select("query_id", "vec_id")
    overlap = (
        top.join(F.broadcast(truth), ["query_id", "vec_id"])
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # denominator = the ACTUAL truth-set size (a one-row agg broadcast
    # back), not an assumed 10×10 — small SFs or <10 candidates per query
    # would silently understate recall with a hardcoded constant
    truth_n = truth.agg(F.count(F.lit(1)).alias("__tn"))
    # left-join the dim spine so a prefix with ZERO overlap still reports
    # (recall 0.0), instead of silently dropping its row
    return (
        dims.join(F.broadcast(overlap), "d", "left")
        .crossJoin(F.broadcast(truth_n))
        .select(
            F.col("d").alias("dims"),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("__tn"),
                6,
            ).alias("recall_at_10"),
        )
    )


@register(
    "levenshtein_neardup",
    f"""
    WITH {_CORPUS_SQL},
    keyed AS (
        SELECT doc_id, text, len(text) AS n_chars,
               array_to_string(
                   list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                               x -> x <> '')[1:3], ' ') AS block
        FROM corpus
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM keyed a JOIN keyed b
      ON a.block = b.block AND a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= 30
    WHERE levenshtein(a.text, b.text) <= 30
    """,
)
def q_levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V87 — edit-distance near-dup with prefix blocking: pairs sharing a
    3-word prefix block and within ±30 chars of each other, kept when
    levenshtein ≤ 30. The character-level complement to the token-level
    (MinHash/PPJoin) and semantic (SemDeDup) dedup families — it catches
    small in-place edits (typo fixes, suffix stamps) that shift every
    token n-gram. Recovers exactly the planted tail pairs (tail = 22
    edits).

    Scale: the quadratic is confined to prefix-blocks AND — round 11,
    the VERDICT-r10 hot-block bound — each block is SUB-BLOCKED by a
    length bucket of width tolerance+1 (31 chars): side A probes
    buckets {bk−1, bk, bk+1} (exploded, so each pair matches exactly
    once), side B stays at its own bucket, and |n_a−n_b| ≤ 30 implies
    |bk_a−bk_b| ≤ 1, so NO qualifying pair is lost — exact semantics,
    same oracle. A spammy 3-word prefix shared by df documents costs
    Σ_bk 3·df(block,bk)² instead of df(block)² — the PPJoin-prefix
    df-bound (llm/dedup.py:928) achieved by splitting, not dropping.
    The residual quadratic is same-block same-length-bucket documents,
    which are genuine candidates any exact algorithm must verify.
    Spark's levenshtein threshold arg early-exits the DP at 31 — the
    O(len·k) band instead of O(len²) — and the -1 sentinel is filtered
    before output so values stay exact distances."""
    scored = _levenshtein_scored(spark, sf_dir)
    return (
        scored.localCheckpoint(eager=False)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 30))
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def _levenshtein_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-barrier frame of :func:`q_levenshtein_neardup` —
    (id_a, id_b, dist) for every sub-block candidate pair, with NO
    dist predicate anywhere in the plan. Exposed so the plan test can
    pin deterministically that the DP sits above the join and appears
    exactly once; the query cuts a ``localCheckpoint`` barrier on this
    frame before filtering."""
    corpus = _corpus(spark, sf_dir)
    from fefal_etl_spark.llm.text_analysis import nonempty_words

    _BK = 31  # bucket width = tolerance + 1
    keyed = corpus.select(
        "doc_id",
        "text",
        F.length("text").alias("n_chars"),
        F.concat_ws(" ", F.slice(nonempty_words(F.col("text")), 1, 3)).alias(
            "block"
        ),
    ).withColumn("bk", F.floor(F.col("n_chars") / _BK).cast("int"))
    a = keyed.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("t_a"),
        F.col("n_chars").alias("n_a"),
        "block",
        F.explode(
            F.array(F.col("bk") - 1, F.col("bk"), F.col("bk") + 1)
        ).alias("pbk"),
    )
    b = keyed.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("t_b"),
        F.col("n_chars").alias("n_b"),
        "block",
        F.col("bk").alias("pbk"),
    )
    pairs = a.join(b, ["block", "pbk"]).filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("n_a") - F.col("n_b")) <= 30)
    )
    # Spread the surviving pairs before the DP (round 11): AQE
    # coalesces the join's shuffle output by BYTES (a few MB of pairs
    # → one partition) while the banded DP's cost is CPU-per-row, so
    # the whole verify stage was running on one core — measured 13.3 s
    # → 3.2 s at zipf_sf1. defaultParallelism scales with the cluster;
    # the text-pair shuffle is noise next to the generated DP work
    # (same rationale as datasets.fan_table).
    pairs = pairs.repartition(spark.sparkContext.defaultParallelism)
    # The DP must run AFTER the join, on the gate-surviving pairs
    # only: without a barrier Catalyst pushes the dist range filter
    # into the join CONDITION, where it lands ahead of the cheap
    # id/length conjuncts and evaluates levenshtein on every
    # block-equal row — measured 34 s (and worse) vs ~7 s at zipf_sf1
    # (round 10). Round 12 (VERDICT r11 item 1 "what's wrong") retires
    # the nondeterministic-filter fence that used to block the
    # pushdown: the scored frame — just three longs per pair — is cut
    # at an explicit ``localCheckpoint`` barrier instead. The
    # checkpointed subplan contains NO dist predicate at all (nothing
    # for any optimizer version to push into the join), the DP runs
    # exactly once per pair while materializing the barrier, and the
    # range filter above it compares a materialized long. This leans
    # on no Catalyst rule — an RDD boundary is a barrier by
    # construction. `_levenshtein_scored` exposes the
    # pre-barrier frame so the plan test pins the join shape
    # deterministically.
    return pairs.select(
        "id_a", "id_b", F.levenshtein("t_a", "t_b", 31).alias("dist")
    )


@register(
    "zipf_fit",
    """
    WITH docs AS (
        SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS wa
        FROM documents
    ),
    freq AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(wa) AS w FROM docs) x GROUP BY w
    ),
    ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, w ASC) AS rk FROM freq
    ),
    top AS (SELECT * FROM ranked WHERE rk <= 500)
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
               AS zipf_slope,
           round(regr_intercept(ln(CAST(f AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
               AS zipf_intercept,
           round(regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
               AS r2
    FROM top
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V88 — Zipf's-law fit over the corpus vocabulary: OLS slope /
    intercept / R² of ln(freq) against ln(rank) for the top-500 terms —
    the classic sanity check that a scraped corpus has natural-language
    token statistics (synthetic/spammy corpora flatten the tail; slope
    far from ≈ −1 flags them). One vocab-keyed count shuffle, one
    row_number over the 500-row head (freq-desc, term-asc tiebreak so both
    engines rank ties identically), then a single-row regr_* aggregate —
    the regression runs over 500 rows regardless of corpus size, so the
    fit itself is O(1) at 100 TB and the only data-bound stage is the
    word count."""
    from fefal_etl_spark.llm.text_analysis import nonempty_words

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(nonempty_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("f").desc(), F.col("w")))
    ).filter(F.col("rk") <= 500)
    lf = F.log(F.col("f").cast("double"))
    lr = F.log(F.col("rk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
    )


@register(
    "dsir_importance",
    """
    WITH docs AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS wa
        FROM documents
    ),
    words AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024 AS b
        FROM (SELECT doc_id, lang, unnest(wa) AS w FROM docs) x
    ),
    raw_counts AS (SELECT b, count(*) AS cr FROM words GROUP BY b),
    tgt_counts AS (
        SELECT b, count(*) AS ct FROM words WHERE lang = 'en' GROUP BY b
    ),
    totals AS (
        SELECT (SELECT sum(cr) FROM raw_counts) AS nr,
               (SELECT coalesce(sum(ct), 0) FROM tgt_counts) AS nt
    ),
    ratio AS (
        SELECT r.b,
               CAST(round((ln((coalesce(t.ct, 0) + 1.0)
                               / (tot.nt + 1024.0))
                           - ln((r.cr + 1.0) / (tot.nr + 1024.0))) * 1e9)
                    AS BIGINT) AS lr9
        FROM raw_counts r LEFT JOIN tgt_counts t ON r.b = t.b
        CROSS JOIN totals tot
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(ratio.lr9) / 1e9, 6) AS log_weight
    FROM words w JOIN ratio ON w.b = ratio.b
    GROUP BY w.doc_id
    """,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V90 — DSIR-style importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): hashed
    unigram features (1024 md5 buckets), Laplace-smoothed bucket
    distributions for the TARGET (lang='en' docs — the high-resource
    proxy) vs the RAW corpus, and per-doc log importance weight
    Σ log(p_target(b)/p_raw(b)) — the score DSIR resamples pretraining
    data by.

    Cross-engine exactness: the per-bucket log-ratio is rounded to 1e-9
    and summed as INT64 — integer addition is associative, so the per-doc
    sum is identical under any partial-aggregation order (a float Σ would
    drift between Spark's tree aggregation and DuckDB's sequential fold).

    Scale: the bucket tables are FIXED SIZE (1024 rows — broadcast), the
    totals are one-row broadcasts, and the only corpus-bound stages are
    the word explode and the doc-keyed sum — no vocabulary-sized shuffle
    at all, which is exactly why DSIR hashes features instead of using
    raw n-grams."""
    from fefal_etl_spark.llm.dedup import md5_hash64
    from fefal_etl_spark.llm.text_analysis import nonempty_words

    docs = fan_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        "lang",
        F.explode(nonempty_words(F.col("text"))).alias("w"),
    ).select("doc_id", "lang", (md5_hash64(F.col("w")) % 1024).alias("b"))
    raw_counts = words.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt_counts = (
        words.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = raw_counts.agg(F.sum("cr").alias("nr")).crossJoin(
        tgt_counts.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
    )
    ratio = (
        raw_counts.join(tgt_counts, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                        / (F.col("nt") + F.lit(1024.0))
                    )
                    - F.log(
                        (F.col("cr") + F.lit(1.0)) / (F.col("nr") + F.lit(1024.0))
                    )
                )
                * 1e9
            )
            .cast("long")
            .alias("lr9"),
        )
    )
    return (
        words.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr9") / 1e9, 6).alias("log_weight"),
        )
    )


# ==========================================================================
# V95 — cross-source quantile normalization (calibration mapping)
# ==========================================================================


@register(
    "quantile_normalize",
    """
    WITH ranked AS (
        SELECT source,
               percent_rank() OVER (ORDER BY n_chars, doc_id) AS gpr,
               ntile(10) OVER (PARTITION BY source
                               ORDER BY n_chars, doc_id) AS local_decile
        FROM documents
    )
    SELECT source, CAST(local_decile AS INT) AS local_decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(gpr), 6) AS avg_global_pr,
           round(min(gpr), 6) AS min_global_pr,
           round(max(gpr), 6) AS max_global_pr
    FROM ranked GROUP BY source, local_decile
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V95 — cross-source quantile normalization: maps each source's local
    length deciles onto the GLOBAL percent_rank scale, yielding the
    calibration table (source, local_decile) → global-quantile span. This
    is how heterogeneous quality/length scores are made comparable before
    corpus mixing — a source whose decile 10 only reaches global rank 0.4
    produces systematically shorter documents, and per-source thresholds
    must be calibrated through exactly this mapping (the quantile-mapping
    step of per-source quality gating à la DataComp/FineWeb).

    Determinism: both window orderings carry doc_id as the tiebreak, so
    percent_rank and ntile assignment are identical across engines.

    Scale: percent_rank's global sort is the textbook non-scalable step —
    at 100 TB the same mapping is built from a percentile_approx grid
    (KLL sketch, one pass, mergeable) instead of an exact global rank;
    the exact form here doubles as that path's correctness oracle. The
    per-source ntile windows hash-partition by source and sort locally —
    those scale as-is."""
    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "source",
        F.percent_rank()
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("gpr"),
        F.ntile(10)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("local_decile"),
    )
    return ranked.groupBy(
        "source", F.col("local_decile").cast("int").alias("local_decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("gpr"), 6).alias("avg_global_pr"),
        F.round(F.min("gpr"), 6).alias("min_global_pr"),
        F.round(F.max("gpr"), 6).alias("max_global_pr"),
    )


# ==========================================================================
# V101 — reciprocal-rank fusion of multi-query retrieval lists
# ==========================================================================


@register(
    "rrf_fusion",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    sims AS (
        SELECT q.query_id, e.vec_id,
               list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v))
                * sqrt(list_dot_product(q.qv, q.qv))) AS cos_sim
        FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM sims
    ),
    lists AS (SELECT * FROM ranked WHERE rk <= 100),
    fused AS (
        SELECT vec_id,
               SUM(CAST(round(1e12 / (60 + rk)) AS BIGINT)) AS rrf_scaled,
               CAST(count(*) AS BIGINT) AS n_lists,
               CAST(min(rk) AS BIGINT) AS best_rank
        FROM lists GROUP BY vec_id
    )
    SELECT vec_id, round(rrf_scaled / 1e12, 6) AS rrf_score,
           n_lists, best_rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY rrf_scaled DESC, vec_id) AS frk
          FROM fused) t
    WHERE frk <= 20
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V101 — reciprocal-rank fusion (Cormack et al. 2009) across the
    top-100 retrieval lists of 3 query vectors: RRF(d) = Σ_q 1/(60 +
    rank_q(d)), the standard score-free way to merge rankings from
    multiple retrievers or query rewrites (the hybrid-search primitive
    behind every RAG stack that mixes dense + rewritten queries). Top-20
    fused items with how many lists carried each and its best single
    rank.

    Exactness: each 1/(60+rk) term is scaled to an INT64 (round(1e12/x))
    before the groupBy sum — the same associativity armor as DSIR's
    log-ratio accumulator: integer partial aggregation cannot drift with
    partition order, and both engines compute identical terms from
    identical integer ranks. Scale: per-query rankings come from the
    brute-force top-k here (the oracle-checkable baseline); at 100 TB
    they swap for `ivf_topk` lists and the fusion stays the same
    vec_id-keyed sum over |queries|·k rows — tiny regardless of corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lists = cosine_topk(emb, queries, k=100)
    fused = lists.groupBy("vec_id").agg(
        F.sum(
            F.round(F.lit(1e12) / (F.lit(60) + F.col("rk"))).cast("long")
        ).alias("rrf_scaled"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.min("rk").cast("long").alias("best_rank"),
    )
    wf = Window.orderBy(F.col("rrf_scaled").desc(), F.col("vec_id"))
    return (
        fused.withColumn("frk", F.row_number().over(wf))
        .filter(F.col("frk") <= 20)
        .select(
            "vec_id",
            F.round(F.col("rrf_scaled") / 1e12, 6).alias("rrf_score"),
            "n_lists",
            "best_rank",
        )
    )


# ==========================================================================
# V105 — KLL-sketch quantile audit (the 100 TB path for quantile_normalize)
# ==========================================================================


@register(
    "quantile_sketch_audit",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
    FROM documents GROUP BY source
    """,
)
def q_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V105 — the promised 100 TB path for `quantile_normalize`, made
    concrete and auditable: per-source quartile boundaries from
    `percentile_approx` (Spark's KLL-style rank sketch — one pass,
    mergeable across partitions/shards, no global sort) checked RANK-WISE
    against the group itself: the returned value v must have rank
    coverage overlapping the target window, i.e.
    count(x ≤ v) ≥ (p − ε)·n − 1 and count(x < v) ≤ (p + ε)·n + 1 with
    ε = 0.02 plus one position of discreteness slack. This is the
    sketch's actual contract (the guarantee is on RANK, not value) and —
    unlike an exact-percentile VALUE window — it cannot go vacuously
    false on small or gappy groups where interpolated values fall
    between data points. The oracle asserts the booleans (engine-
    invariant facts about Spark's sketch) plus the group sizes.

    Scale: per-source sketches build map-side and merge in one shuffle
    of sketch-sized buffers; the rank audit is one broadcast of the
    |sources|-row quartile table back onto the fact and a conditional-
    count aggregation — the same shape the production calibration join
    uses."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    quart = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.percentile_approx("n_chars", 0.25, 100000).alias("a25"),
        F.percentile_approx("n_chars", 0.50, 100000).alias("a50"),
        F.percentile_approx("n_chars", 0.75, 100000).alias("a75"),
    )
    joined = docs.join(F.broadcast(quart), "source")
    ranks = joined.groupBy("source").agg(
        *[
            agg
            for q in ("a25", "a50", "a75")
            for agg in (
                F.sum(
                    F.when(F.col("n_chars") <= F.col(q), 1).otherwise(0)
                ).alias(f"le_{q}"),
                F.sum(
                    F.when(F.col("n_chars") < F.col(q), 1).otherwise(0)
                ).alias(f"lt_{q}"),
            )
        ]
    )

    def ok(q: str, p: float):
        n = F.col("n_docs").cast("double")
        lo = (p - 0.02) * n - 1
        hi = (p + 0.02) * n + 1
        return (F.col(f"le_{q}") >= lo) & (F.col(f"lt_{q}") <= hi)

    return quart.join(ranks, "source").select(
        "source",
        "n_docs",
        ok("a25", 0.25).alias("q25_ok"),
        ok("a50", 0.50).alias("q50_ok"),
        ok("a75", 0.75).alias("q75_ok"),
    )


# ==========================================================================
# V106 — conjunctive boolean retrieval over an inverted index
# ==========================================================================


@register(
    "boolean_retrieval",
    """
    WITH postings AS (
        SELECT DISTINCT doc_id, w
        FROM (
            SELECT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS w
            FROM documents
        )
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched
    FROM postings
    WHERE w IN ('spark', 'join', 'window')
    GROUP BY doc_id
    HAVING count(*) = 3
    """,
)
def q_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V106 — conjunctive (AND) boolean retrieval: documents containing
    ALL query terms, answered from term postings — the classic
    inverted-index primitive under every filtered search / faceted
    retrieval stack, complementing the ranked retrieval family (tf-idf,
    cosine top-k, RRF). Expressed as postings ∩ via groupBy-count:
    explode distinct (doc, term), keep query terms, a doc matches iff it
    carries all |q| of them.

    Scale: the IN filter prunes the exploded postings BEFORE the
    doc-keyed shuffle (only rows for the 3 query terms survive — the
    moral equivalent of reading 3 posting lists, not the corpus); the
    aggregation state is one count per candidate doc. Smallest-list-
    first intersection order — the textbook optimization — is what the
    filter-then-shuffle plan does implicitly: the shuffle volume is the
    SUM of the matched posting lists, and docs missing any term are
    dropped by the HAVING count, never materialized as misses."""
    from fefal_etl_spark.llm.text_analysis import nonempty_words

    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id", F.explode(nonempty_words(F.col("text"))).alias("w")
        )
        .filter(F.col("w").isin("spark", "join", "window"))
        .distinct()
    )
    return (
        postings.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_terms_matched"))
        .filter(F.col("n_terms_matched") == 3)
    )


# ==========================================================================
# round 8 — BM25 ranked retrieval (closes the retrieval family: boolean,
# tf-idf, cosine top-k, RRF fusion, BM25)
# ==========================================================================


@register(
    "bm25_topk",
    """
    WITH q(w) AS (VALUES ('spark'), ('join'), ('window'),
                  ('na'), ('beba'), ('buka')),
    docs AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM docs),
    scal AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               avg(CAST(len(ws) AS DOUBLE)) AS avgdl
        FROM docs
    ),
    tf AS (
        SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, unnest(ws) AS w FROM docs)
        WHERE w IN (SELECT w FROM q)
        GROUP BY doc_id, w
    ),
    df AS (
        SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w
    ),
    scored AS (
        SELECT tf.doc_id,
               SUM(ln((scal.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * tf.tf * (1.2 + 1.0)
                   / (tf.tf + 1.2 * (1.0 - 0.75
                                     + 0.75 * dl.dl / scal.avgdl))
                  ) AS s
        FROM tf
        JOIN df USING (w)
        JOIN dl USING (doc_id)
        CROSS JOIN scal
        GROUP BY tf.doc_id
    ),
    ranked AS (
        SELECT doc_id, round(s, 4) AS score,
               row_number() OVER (ORDER BY round(s, 4) DESC, doc_id)
                   AS rk
        FROM scored
    )
    SELECT CAST(rk AS INT) AS rk, doc_id, score
    FROM ranked WHERE rk <= 10
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 — BM25 ranked retrieval (Robertson/Spärck Jones; the
    Lucene-variant idf ``ln((N-df+.5)/(df+.5)+1)``, k1=1.2, b=0.75):
    top-10 documents for a 3-term query, scored entirely in native
    column expressions. Completes the retrieval family next to
    boolean AND (V106), tf-idf (V68), cosine top-k and RRF fusion.

    Scale shape: document length comes from ``size(split(...))`` —
    no explode for dl; the postings explode is filtered to the query
    terms BEFORE the (doc, term) shuffle (read-3-posting-lists, not
    the corpus); df and the N/avgdl scalars are broadcast; ranking is
    a single TakeOrderedAndProject over one score row per candidate
    doc. Scores are ranked ROUNDED (4 dp, doc_id tiebreak) so the
    ordering is FP-drift-stable across engines."""
    from fefal_etl_spark.llm.text_analysis import nonempty_words

    # three driver-fixture-vocab terms + three Zipf-fixture words
    # (tools/gen_sf.py --zipf-docs pseudo-word ranks 40/150/400), so
    # the query is non-degenerate on BOTH corpora (round 10 — the
    # zipf audit found the old term set returned 0 rows there)
    terms = ["spark", "join", "window", "na", "beba", "buka"]
    k1, b = 1.2, 0.75
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", nonempty_words(F.col("text")).alias("ws")
    )
    dl = docs.select(
        "doc_id", F.size("ws").cast("double").alias("dl")
    )
    # scalars derive from dl — two split-scans total (dl + postings),
    # not three
    scal = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode("ws").alias("w"))
        .filter(F.col("w").isin(*terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    scored = (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scal))
        .withColumn(
            "contrib",
            idf
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )
    w_rank = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rk") <= 10)
        .select("rk", "doc_id", "score")
    )


# ==========================================================================
# V108 — MinHash Jaccard estimation between source vocabularies, audited
# ==========================================================================


@register(
    "minhash_jaccard_sources",
    """
    WITH vocab AS (
        SELECT DISTINCT source, w
        FROM (
            SELECT source,
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS w
            FROM documents
        )
    ),
    sigs AS (
        SELECT source, j,
               min(('0x' || substr(md5('mh' || j || '|' || w), 1, 15))
                       ::BIGINT) AS mh
        FROM vocab, (SELECT unnest(range(16)) AS j)
        GROUP BY source, j
    ),
    est AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE)
                   / 16 AS j_est
        FROM sigs a JOIN sigs b ON a.j = b.j AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    exact AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS DOUBLE) AS n_inter,
               CAST((SELECT count(*) FROM vocab v
                     WHERE v.source = a.source) AS DOUBLE) AS n_a,
               CAST((SELECT count(*) FROM vocab v
                     WHERE v.source = b.source) AS DOUBLE) AS n_b
        FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    joined AS (
        SELECT e.src_a, e.src_b,
               x.n_inter / (x.n_a + x.n_b - x.n_inter) AS j_exact,
               e.j_est
        FROM est e JOIN exact x
          ON e.src_a = x.src_a AND e.src_b = x.src_b
    )
    SELECT src_a, src_b,
           round(j_exact, 6) AS j_exact,
           round(j_est, 6) AS j_est,
           abs(j_est - j_exact) <= 0.3 AS mh_ok
    FROM joined
    """,
)
def q_minhash_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V108 — MinHash Jaccard ESTIMATION at the source level: each
    source's vocabulary is sketched to 16 portable min-hashes, pairwise
    signature agreement estimates vocabulary Jaccard, and the estimate
    is audited against the exact |∩|/|∪| with the ±0.3 tolerance a
    16-hash sketch guarantees w.h.p. (σ = √(J(1−J)/16) ≤ 0.125). This is
    the set-similarity ESTIMATOR use of MinHash — corpus-overlap
    dashboards, source-dedup triage — distinct from `minhash_neardup`'s
    banded LSH candidate generation; the sketch values themselves are
    engine-replayed (portable md5), so j_est hash-matches exactly, not
    just the booleans.

    Scale: per-source signatures are 16 numbers built in ONE vocab-keyed
    aggregation (min over hashed words, map-side combinable and
    mergeable across shards — union of sets = elementwise min of
    sketches); the pairwise comparison runs on |sources|² signature
    pairs, never on vocabularies. The exact side exists only as the
    audit at test SF."""
    from fefal_etl_spark.llm.text_analysis import nonempty_words

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            "source", F.explode(nonempty_words(F.col("text"))).alias("w")
        )
        .distinct()
    )
    j = F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j")
    hashed = vocab.select("source", "w", j).select(
        "source",
        "j",
        # the family-wide portable seeded hash: md5('mh{j}|{w}'), 15 hex
        md5_hash64(
            F.col("w"), F.concat(F.lit("mh"), F.col("j").cast("string"))
        ).alias("h"),
    )
    sigs = hashed.groupBy("source", "j").agg(F.min("h").alias("mh"))
    a = sigs.select(
        F.col("source").alias("src_a"), "j", F.col("mh").alias("mh_a")
    )
    b = sigs.select(
        F.col("source").alias("src_b"), "j", F.col("mh").alias("mh_b")
    )
    est = (
        a.join(b, "j")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            (
                F.sum(
                    F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)
                ).cast("double")
                / 16
            ).alias("j_est")
        )
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    va = vocab.select(F.col("source").alias("src_a"), "w")
    vb = vocab.select(F.col("source").alias("src_b"), "w")
    inter = (
        va.join(vb, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("double").alias("n_inter"))
    )
    exact = (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_a"),
                    F.col("n").cast("double").alias("n_a"),
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_b"),
                    F.col("n").cast("double").alias("n_b"),
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("j_exact"),
        )
    )
    return est.join(exact, ["src_a", "src_b"]).select(
        "src_a",
        "src_b",
        F.round("j_exact", 6).alias("j_exact"),
        F.round("j_est", 6).alias("j_est"),
        (F.abs(F.col("j_est") - F.col("j_exact")) <= 0.3).alias("mh_ok"),
    )
