"""Pipeline-assembly queries (SURVEY.md §3) — the EP2 transform core and EP3
star build exercised end-to-end over a synthetic wide survey that both
engines construct identically from ``customer``.

The synthetic survey plants every branch the reference handles:
- blank names  (ck % 29 == 0  → 'nd';          etl_ui.py:79)
- unmatched    (ck % 13 == 0  → fantasy name;  etl_ui.py:114)
- duplicates   (ck % 17 == 0  → second row with lower pct; etl_ui.py:109-112)
- garbage pct / formations values (coerce semantics)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fefal_etl_spark.cache import (
    free_checkpoint,
    keep_checkpoint,
    memo,
    release,
    unpersist_all,
)
from fefal_etl_spark.datasets import load_table
from fefal_etl_spark.plans.config import GroupSpec, PipelineConfig
from fefal_etl_spark.plans.pipeline import run_pipeline
from fefal_etl_spark.plans.star import build_star
from fefal_etl_spark.queries import (
    QUERIES,
    register,
    sql_norm,
    sql_strip_prefixes,
)

YEAR = 2025

SURVEY_COLS = [
    "Nome da Entidade",
    "Tipo de Entidade",
    "Responsável",
    "Existe responsável?",
    "Percentagem preenchida",
    "Quantos formandos? [Excel]",
    "Quantos formandos? [Liderança]",
    "Sem  Brackets",
]


def _config() -> PipelineConfig:
    return PipelineConfig(
        year=YEAR,
        groups={
            "identificacao": GroupSpec(1, 5),
            "formacoes": GroupSpec(6, 8),
        },
        rename_map={
            "Nome da Entidade": "nome_entidade",
            "Tipo de Entidade": "tipo_entidade",
            "Responsável": "nome_responsavel",
            "Existe responsável?": "existe_responsavel",
            "Percentagem preenchida": "percentagem_preenchido",
        },
    )


def _survey(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    nome = (
        F.when(ck % 29 == 0, F.lit("nd"))
        .when(ck % 13 == 0, F.concat(F.lit("Entidade Fantasma "), ck))
        .otherwise(F.concat(F.lit("Município de Cust "), ck))
    )
    existe = (
        F.when(ck % 3 == 0, F.lit("Sim"))
        .when(ck % 3 == 1, F.lit("Não"))
        .otherwise(F.lit("talvez"))
    )
    excel = F.when(ck % 7 == 0, F.lit("garbage")).otherwise(
        (ck % 7 - 2).cast("string")
    )

    def sel(pct_col):
        return [
            nome.alias("Nome da Entidade"),
            F.lit("Municípios").alias("Tipo de Entidade"),
            F.col("c_name").alias("Responsável"),
            existe.alias("Existe responsável?"),
            pct_col.alias("Percentagem preenchida"),
            excel.alias("Quantos formandos? [Excel]"),
            (ck % 5).cast("string").alias("Quantos formandos? [Liderança]"),
            (ck % 3).cast("string").alias("Sem  Brackets"),
        ]

    base = c.select(*sel((ck % 101).cast("string")))
    planted = c.filter(ck % 17 == 0).select(*sel((ck % 101 - 1).cast("string")))
    return base.unionByName(planted)


def _registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id_entidades"),
        F.concat(F.lit("Cust "), F.col("c_custkey")).alias("ent_nome"),
        F.lit("Municípios").alias("ent_tipo"),
    )


# The pipeline queries share one EP2 transform + EP3 star build. Without
# sharing, each registry entry re-runs the whole classify chain (~8 chained
# jobs each — the round-1 bench's single worst wall-time item). The
# classified frame ``run_pipeline`` materializes, and the star derived
# from it, live in the session cache (kind ``pipeline``). The survey is a
# function of ``customer`` and the config, so the key is (dir, survey,
# `_cfg_fingerprint`) stamped with the customer fingerprint: configs that
# are provably equal (hand-built vs Mongo-imported, `mongo_config_pipeline`)
# share ONE entry, and a regenerated customer table gets a fresh one.
# Each entry owns its checkpoint and star blocks, freed when it is dropped.
# Configs are caller-controlled, so at most 4 entries are kept per session
# (the expected live set is 2: this survey and the full-groups one).


def _drop_pipeline_entry(entry) -> None:
    """Free a ``pipeline`` entry: unpersist its star frames, free the
    classified frame's checkpoint (the entry owns it), and forget the
    memoized plans of this module's queries, since those plans read the
    freed checkpoint."""
    res, star = entry
    unpersist_all(star.values())
    free_checkpoint(res.frame)
    names = {n for n, fn in QUERIES.items() if fn.__module__ == __name__}
    release("plan", lambda k: k[0] in names)


def _shared(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig | None = None
):
    """(classified result, persisted star) of the pipeline over this
    module's survey under `_config()`, or, given ``cfg``, over the
    full-groups survey under ``cfg``."""
    full = cfg is not None
    cfg = cfg if full else _config()

    def build():
        survey = (_survey_full if full else _survey)(spark, sf_dir)
        res = run_pipeline(survey, _registry(spark, sf_dir), cfg)
        # the entry owns the checkpoint: a wave loader's
        # release_star_cache() must not free it under the cache
        keep_checkpoint(res.frame)
        tipos = (
            spark.createDataFrame(
                [(7, "Dias úteis")],
                "id_tipo_disp int, descricao_tipo_disp string",
            )
            if full
            else None
        )
        # persist the star frames (round 12): they are fact/dim
        # outputs a customer-count in size, and the consumer queries
        # otherwise re-derive each fact from the classified frame per
        # invocation — measured 23 warm jobs → 8 on the full-groups
        # aggregation.
        star = build_star(res, tipos_disponibilidades=tipos)
        return res, {k: df.persist() for k, df in star.items()}

    return memo(
        spark,
        "pipeline",
        (os.path.abspath(sf_dir), full, _cfg_fingerprint(cfg)),
        build,
        sources=(sf_dir, ("customer",)),
        free=_drop_pipeline_entry,
        limit=4,
    )


def release_pipeline_cache() -> None:
    """Drop every cached pipeline entry (bench/oracle-loop hygiene); a
    frame a caller still holds from before the release cannot be read
    after it."""
    release("pipeline")


# --------------------------------------------------------------------------
# Oracle CTE shared by the pipeline queries (DuckDB SQL twin of the above)
# --------------------------------------------------------------------------

_BAD = "'', 'nd', 'nan', 'n/a', 'na', 'nao definido', 'sem dados'"

_PIPE_CTE = f"""
    src AS (SELECT c_custkey AS ck, c_name FROM customer),
    survey AS (
        SELECT ck, c_name, 0 AS planted,
               CASE WHEN ck % 29 = 0 THEN 'nd'
                    WHEN ck % 13 = 0 THEN 'Entidade Fantasma ' || ck
                    ELSE 'Município de Cust ' || ck END AS nome,
               CASE WHEN ck % 3 = 0 THEN 'Sim'
                    WHEN ck % 3 = 1 THEN 'Não' ELSE 'talvez' END AS existe,
               CAST(ck % 101 AS VARCHAR) AS pct_raw
        FROM src
        UNION ALL
        SELECT ck, c_name, 1,
               CASE WHEN ck % 29 = 0 THEN 'nd'
                    WHEN ck % 13 = 0 THEN 'Entidade Fantasma ' || ck
                    ELSE 'Município de Cust ' || ck END,
               CASE WHEN ck % 3 = 0 THEN 'Sim'
                    WHEN ck % 3 = 1 THEN 'Não' ELSE 'talvez' END,
               CAST(ck % 101 - 1 AS VARCHAR)
        FROM src WHERE ck % 17 = 0
    ),
    reg AS (
        SELECT c_custkey AS id_entidades,
               {sql_strip_prefixes("'Cust ' || c_custkey")} || '||' ||
               {sql_norm("'Municípios'")} AS entity_key
        FROM customer
    ),
    resolved AS (
        SELECT s.*,
               r.id_entidades AS id_entidade,
               {sql_norm('s.nome')} IN ({_BAD}) AS is_blank,
               CASE WHEN try_cast(s.pct_raw AS DOUBLE) < 0 THEN NULL
                    ELSE try_cast(s.pct_raw AS DOUBLE) END AS pct_clean
        FROM survey s
        LEFT JOIN reg r
          ON {sql_strip_prefixes('s.nome')} || '||' || {sql_norm("'Municípios'")}
             = r.entity_key
    ),
    scaled AS (
        SELECT *,
               CAST(round(pct_clean / (SELECT max(pct_clean) FROM resolved) * 100)
                    AS INTEGER) AS pct
        FROM resolved
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY id_entidade
                   ORDER BY pct DESC NULLS LAST, planted) AS rn
        FROM scaled
    ),
    classified AS (
        SELECT *,
               CASE WHEN is_blank THEN 'blank_name'
                    WHEN id_entidade IS NULL THEN 'unmatched'
                    WHEN rn = 1 THEN 'valid'
                    ELSE 'duplicate' END AS status
        FROM ranked
    )
"""


@register(
    "pipeline_status_accounting",
    f"""
    WITH {_PIPE_CTE}
    SELECT status, CAST(count(*) AS BIGINT) AS n
    FROM classified GROUP BY status
    """,
)
def q_pipeline_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 end-to-end — the valid/duplicate/unmatched/blank accounting the
    reference shows the operator (etl_ui.py:1982-1999)."""
    res, _star = _shared(spark, sf_dir)
    return res.frame.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


@register(
    "pipeline_fact_inquerito",
    f"""
    WITH {_PIPE_CTE}
    SELECT id_entidade, {YEAR} AS ano,
           CAST(CASE WHEN lower(existe) = 'sim' THEN 1
                     WHEN lower(existe) = 'não' THEN 0 END AS INTEGER)
               AS existe_responsavel,
           c_name AS nome_responsavel,
           pct AS percentagem_preenchido
    FROM classified WHERE status = 'valid'
    """,
)
def q_pipeline_fact_inquerito(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 fact_inquerito — the central fact from the valid branch
    (etl_ui.py:404-429), surrogate keys generated in-engine."""
    _res, star = _shared(spark, sf_dir)
    return star["fact_inquerito"].select(
        "id_entidade",
        "ano",
        "existe_responsavel",
        "nome_responsavel",
        "percentagem_preenchido",
    )


@register(
    "star_integrity",
    f"""
    WITH {_PIPE_CTE},
    v AS (SELECT count(*) AS nv FROM classified WHERE status = 'valid')
    SELECT 'fact_inquerito->dim_entidade' AS fk,
           CAST(nv AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_orphans FROM v
    UNION ALL
    SELECT 'fact_resposta_formacao->dim_formacao',
           CAST(3 * nv AS BIGINT), CAST(0 AS BIGINT) FROM v
    UNION ALL
    SELECT 'fact_resposta_formacao->fact_inquerito',
           CAST(3 * nv AS BIGINT), CAST(0 AS BIGINT) FROM v
    UNION ALL
    SELECT 'dim_formacao->dim_grupo_formacao',
           CAST(3 AS BIGINT), CAST(0 AS BIGINT)
    """,
)
def q_star_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity over the assembled star (dw_creation.sql FK
    declarations): every fact FK resolves in its dimension, counted by real
    left-anti joins on the engine's own star output. The oracle derives the
    expected (n_rows, 0-orphans) figures independently from the survey CTE,
    so any key drift in the star build (dropped rows, mismatched surrogate
    keys, NULLed FKs) breaks the hash."""
    res, star = _shared(spark, sf_dir)
    registry = _registry(spark, sf_dir).select(
        F.col("id_entidades").alias("id_entidade")
    )
    fi = star["fact_inquerito"]
    frf = star["fact_resposta_formacao"]
    dimf = star["dim_formacao"]
    dimg = star["dim_grupo_formacao"]

    def check(label: str, fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
        # one broadcast left join + one aggregation per FK: total rows and
        # unresolved non-NULL keys counted in the same pass (an agg +
        # anti-join + crossJoin formulation costs 3 jobs per check)
        hits = F.broadcast(
            dim.select(key).dropDuplicates([key]).withColumn("__hit", F.lit(1))
        )
        joined = fact.select(key).join(hits, on=key, how="left")
        orphan = (F.col(key).isNotNull() & F.col("__hit").isNull()).cast("long")
        return joined.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(orphan).cast("long").alias("n_orphans"),
        ).select(F.lit(label).alias("fk"), "n_rows", "n_orphans")

    return (
        check("fact_inquerito->dim_entidade", fi, registry, "id_entidade")
        .unionByName(
            check(
                "fact_resposta_formacao->dim_formacao", frf, dimf.select(
                    "id_formacao"
                ), "id_formacao"
            )
        )
        .unionByName(
            check(
                "fact_resposta_formacao->fact_inquerito",
                frf,
                fi.select("id_inquerito"),
                "id_inquerito",
            )
        )
        .unionByName(
            check(
                "dim_formacao->dim_grupo_formacao",
                dimf,
                dimg.select("id_grupo_formacao"),
                "id_grupo_formacao",
            )
        )
    )


# --------------------------------------------------------------------------
# Full-groups pipeline: every column group the reference handles (interesses
# with the comment-numeric override, disponibilidade with the J4 prefix
# match + F3 bracket extraction, tipo de ensino), driven through the DRIVER
# gate rather than unit tests only (VERDICT r1: R2/R3/R4 untested by driver).
# --------------------------------------------------------------------------


def _survey_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    nome = (
        F.when(ck % 29 == 0, F.lit("nd"))
        .when(ck % 13 == 0, F.concat(F.lit("Entidade Fantasma "), ck))
        .otherwise(F.concat(F.lit("Município de Cust "), ck))
    )
    existe = (
        F.when(ck % 3 == 0, F.lit("Sim"))
        .when(ck % 3 == 1, F.lit("Não"))
        .otherwise(F.lit("talvez"))
    )
    int_alg = (
        F.when(ck % 4 == 0, F.lit("Sim"))
        .when(ck % 4 == 1, F.lit("Não"))
        .when(ck % 4 == 2, F.lit("sim  "))
        .otherwise(F.lit(None).cast("string"))
    )
    com_alg = (
        F.when(ck % 5 == 0, F.lit(" 3 "))
        .when(ck % 5 == 1, F.lit("Muito bom. Quero mais"))
        .when(ck % 5 == 2, F.lit(""))
        .otherwise(F.lit(None).cast("string"))
    )
    int_geo = F.when(ck % 3 == 0, F.lit("Sim")).otherwise(F.lit("Não"))
    disp = existe  # same Sim/Não/talvez rotation → tristate 1/0/-1
    pref = F.when(ck % 6 == 0, F.lit("x")).otherwise((ck % 4).cast("string"))
    return c.select(
        nome.alias("Nome da Entidade"),
        F.lit("Municípios").alias("Tipo de Entidade"),
        F.col("c_name").alias("Responsável"),
        existe.alias("Existe responsável?"),
        (ck % 101).cast("string").alias("Percentagem preenchida"),
        (ck % 7).cast("string").alias("Quantos formandos? [Excel]"),
        (ck % 5).cast("string").alias("Quantos formandos? [Liderança]"),
        (ck % 3).cast("string").alias("Sem  Brackets"),
        int_alg.alias("Interesse [Algebra]"),
        com_alg.alias("Interesse [Algebra][comentario]"),
        int_geo.alias("Interesse [Geometria]"),
        disp.alias("Dias úteis - manhã [9h-12h]"),
        pref.alias("Tipo de ensino presencial"),
    )


def _config_full() -> PipelineConfig:
    cfg = _config()
    cfg.groups = {
        "identificacao": GroupSpec(1, 5),
        "formacoes": GroupSpec(6, 8),
        "interesses": GroupSpec(9, 11),
        "disponibilidade": GroupSpec(12, 12),
        "tipo de ensino": GroupSpec(13, 13),
    }
    return cfg


_NUMSTR = r"'^[0-9]+(\.[0-9]+)?$|^\.[0-9]+$|^[0-9]+\.$'"


@register(
    "pipeline_full_groups",
    f"""
    WITH {_PIPE_CTE},
    v AS (SELECT ck FROM classified WHERE status = 'valid'),
    ints AS (
        SELECT 'interesse [algebra]' AS area,
               CASE WHEN ck % 5 = 0 THEN 3 ELSE 1 END AS nf,
               CASE WHEN ck % 5 = 1 THEN 'Muito bom. Quero mais' END AS com
        FROM v WHERE ck % 4 IN (0, 2)
        UNION ALL
        SELECT 'interesse [geometria]', 1, NULL FROM v WHERE ck % 3 = 0
    )
    SELECT 'interesse' AS op, area AS key,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(nf) AS BIGINT) AS total
    FROM ints GROUP BY area
    UNION ALL
    SELECT 'comentario', 'frases', CAST(2 * count(*) AS BIGINT), NULL
    FROM ints WHERE com IS NOT NULL
    UNION ALL
    SELECT 'preferencia', 'tipo de ensino presencial',
           CAST(count(*) AS BIGINT), CAST(sum(ck % 4) AS BIGINT)
    FROM v WHERE ck % 6 <> 0
    UNION ALL
    SELECT 'disponibilidade', '9h-12h#7', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN ck % 3 = 0 THEN 1
                         WHEN ck % 3 = 1 THEN 0 ELSE -1 END) AS BIGINT)
    FROM v
    """,
)
def q_pipeline_full_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2+EP3 with EVERY column group (etl_ui.py:245-310, 496-658): the
    interests block with the comment-numeric override (a numeric comment
    replaces n_formandos, a textual one explodes into per-sentence
    `comentario` rows — etl_ui.py:536-564), tri-state availability resolved
    through the J4 prefix join + F3 bracket extraction into
    dim_disponibilidade_horaria, and numeric teaching-preference unpivot.
    Aggregated per dimension member so the oracle derives every figure
    independently from the survey-generation rules."""
    return _full_groups_result(spark, sf_dir, _config_full())


def _cfg_fingerprint(cfg: PipelineConfig) -> str:
    """Stable content key over every field ``run_pipeline`` consults —
    two configs with equal fingerprints drive IDENTICAL plans, however
    they were authored (hand-built vs Mongo-imported)."""
    import json as _json

    return _json.dumps(
        {
            "year": cfg.year,
            "groups": {
                k: [g.start, g.end] for k, g in sorted(cfg.groups.items())
            },
            "rename": sorted(cfg.rename_map.items()),
            "ent_map": sorted(cfg.entity_type_map.items()),
            "comment_keys": list(cfg.comment_keys),
            "formando_keys": list(cfg.formando_keys),
            "default_type": cfg.default_entity_type,
            "bad_names": sorted(cfg.bad_names),
        },
        ensure_ascii=False,
        sort_keys=True,
    )


def _full_groups_result(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig
) -> DataFrame:
    """Shared EP2+EP3 full-groups pipeline + per-dimension aggregation —
    the body of `pipeline_full_groups`, parameterized on the config so
    `mongo_config_pipeline` can drive the identical plan from an
    imported Mongo document set (and, with an EQUAL config, the
    identical persisted frame — see `_shared`)."""
    _res, star = _shared(spark, sf_dir, cfg)
    fi = star["fact_resposta_interesse"]
    dim_area = star["dim_area_tematica"]
    com = star["comentario"]
    fp = star["fact_resposta_preferencia"]
    dim_pref = star["dim_preferencia_ensino"]
    fd = star["fact_resposta_disponibilidade"]
    dim_hor = star["dim_disponibilidade_horaria"]

    def out(op, key, n, total):
        return [
            F.lit(op).alias("op") if isinstance(op, str) else op.alias("op"),
            key.alias("key"),
            n.cast("long").alias("n"),
            total.cast("long").alias("total"),
        ]

    interesse = (
        fi.join(F.broadcast(dim_area), on="id_interesse")
        .groupBy("nome_area")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("n_formandos").alias("__t"))
        .select(*out("interesse", F.col("nome_area"), F.col("__n"), F.col("__t")))
    )
    frases = com.agg(F.count(F.lit(1)).alias("__n")).select(
        *out("comentario", F.lit("frases"), F.col("__n"), F.lit(None))
    )
    pref = (
        fp.join(F.broadcast(dim_pref), on="id_preferencia")
        .groupBy("descricao_preferencia")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("valor_preferencia").alias("__t"),
        )
        .select(
            *out(
                "preferencia",
                F.col("descricao_preferencia"),
                F.col("__n"),
                F.col("__t"),
            )
        )
    )
    disp = (
        fd.join(F.broadcast(dim_hor), on="id_horario")
        .groupBy("descricao_horario", "id_tipo_disp")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("tem_disponibilidade").alias("__t"),
        )
        .select(
            *out(
                "disponibilidade",
                F.concat_ws(
                    "#",
                    F.col("descricao_horario"),
                    F.col("id_tipo_disp").cast("string"),
                ),
                F.col("__n"),
                F.col("__t"),
            )
        )
    )
    return interesse.unionByName(frases).unionByName(pref).unionByName(disp)


def _register_mongo_config_pipeline():
    from fefal_etl_spark.queries import ORACLES

    @register("mongo_config_pipeline", ORACLES["pipeline_full_groups"])
    def q_mongo_config_pipeline(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Round-6 (VERDICT r5 item 7, closes SURVEY §2.1 S4) — the SAME
        full-groups pipeline as `pipeline_full_groups`, but configured
        through `PipelineConfig.from_mongo_docs` from the reference's
        ACTUAL Mongo collection shapes (etl_ui.py:131-146: ConfigAdvanced
        keys doc, ConfigRenCol original/new pairs, ConfigColMap
        year-keyed group ranges, ConfigMapEnt type pairs — `_id` fields
        ignored, exactly what a ``mongoexport`` dump of the reference's
        config DB contains). The oracle is pipeline_full_groups' own:
        hash equality proves the importer reproduces the hand-built
        config bit-for-bit, so a migrating user's existing documents
        drive this engine unchanged."""
        docs = {
            "ConfigAdvanced": [
                {
                    "_id": "682b5773188a7521e801a4e5",
                    "keys": {
                        "comment_keys": ["comentario"],
                        "formando_keys": ["formandos"],
                    },
                    "default_type": "interesse",
                }
            ],
            "ConfigRenCol": [
                {"_id": "1", "original_name": "Nome da Entidade",
                 "new_name": "nome_entidade"},
                {"_id": "2", "original_name": "Tipo de Entidade",
                 "new_name": "tipo_entidade"},
                {"_id": "3", "original_name": "Responsável",
                 "new_name": "nome_responsavel"},
                {"_id": "4", "original_name": "Existe responsável?",
                 "new_name": "existe_responsavel"},
                {"_id": "5", "original_name": "Percentagem preenchida",
                 "new_name": "percentagem_preenchido"},
            ],
            "ConfigColMap": [
                {"year": YEAR - 1, "groups": {"identificacao": {"start": 1, "end": 3}}},
                {
                    "year": YEAR,
                    "groups": {
                        "identificacao": {"start": 1, "end": 5},
                        "formacoes": {"start": 6, "end": 8},
                        "interesses": {"start": 9, "end": 11},
                        "disponibilidade": {"start": 12, "end": 12},
                        "tipo de ensino": {"start": 13, "end": 13},
                    },
                },
            ],
            "ConfigMapEnt": [],
        }
        cfg = PipelineConfig.from_mongo_docs(docs, YEAR)
        return _full_groups_result(spark, sf_dir, cfg)


_register_mongo_config_pipeline()


@register(
    "star_idempotent_reload",
    """
    SELECT * FROM (VALUES
        ('reload', CAST(1 AS BIGINT), 'excel'),
        ('reload', CAST(2 AS BIGINT), 'lideranca'),
        ('reload', CAST(3 AS BIGINT), 'sem brackets'),
        ('extend', CAST(1 AS BIGINT), 'excel'),
        ('extend', CAST(2 AS BIGINT), 'lideranca'),
        ('extend', CAST(3 AS BIGINT), 'sem brackets'),
        ('extend', CAST(4 AS BIGINT), 'zumba')
    ) t(op, id_formacao, nome_formacao)
    """,
)
def q_star_idempotent_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/A5 upsert-dim semantics under the driver gate (etl_ui.py:446-456
    INSERT..RETURNING parity): re-building the star with its own dims as
    ``existing_dims`` must yield byte-identical dims (idempotent re-load,
    null-safe anti-join finds nothing new), and upserting a genuinely new
    name must continue dense ids after COALESCE(MAX(id), 0) — the oracle
    pins both relations literally."""
    from fefal_etl_spark.operators.upsert import upsert_dim_sequential

    _res, star = _shared(spark, sf_dir)
    dim1 = star["dim_formacao"].select("id_formacao", "nome_formacao")
    star2 = build_star(
        _res, existing_dims={"dim_formacao": dim1}, key_mode="sequential"
    )
    reload_dim = star2["dim_formacao"].select("id_formacao", "nome_formacao")
    extra = spark.createDataFrame([("zumba",)], "nome_formacao string")
    extended = upsert_dim_sequential(
        dim1, extra, "nome_formacao", "id_formacao"
    ).select("id_formacao", "nome_formacao")

    def tag(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("op"), "id_formacao", "nome_formacao"
        )

    return tag("reload", reload_dim).unionByName(tag("extend", extended))


@register(
    "review_promotions",
    f"""
    WITH {_PIPE_CTE},
    promo AS (
        SELECT *, (status = 'duplicate' AND id_entidade % 3 = 0) AS p
        FROM classified
    ),
    rr AS (
        SELECT *, row_number() OVER (
            PARTITION BY id_entidade
            ORDER BY p DESC, pct DESC NULLS LAST, planted) AS rn2
        FROM promo
    ),
    c2 AS (
        SELECT ck, nome, pct, planted, p, id_entidade,
               CASE WHEN status = 'blank_name' THEN 'blank_name'
                    WHEN id_entidade IS NULL THEN 'unmatched'
                    WHEN rn2 = 1 THEN 'valid'
                    ELSE 'duplicate' END AS status
        FROM rr
    ),
    fixed AS (
        SELECT *, coalesce(id_entidade,
            CASE WHEN status = 'unmatched'
                      AND nome LIKE 'Entidade Fantasma %'
                      AND CAST(regexp_extract(nome, '([0-9]+)$', 1) AS BIGINT)
                          % 2 = 0
                 THEN CAST(regexp_extract(nome, '([0-9]+)$', 1) AS BIGINT)
            END) AS id2
        FROM c2
    ),
    rr2 AS (
        SELECT *, row_number() OVER (
            PARTITION BY id2
            ORDER BY p DESC, pct DESC NULLS LAST, planted) AS rn3
        FROM fixed
    ),
    c3 AS (
        SELECT CASE WHEN status = 'blank_name' THEN 'blank_name'
                    WHEN id2 IS NULL THEN 'unmatched'
                    WHEN rn3 = 1 THEN 'valid'
                    ELSE 'duplicate' END AS status, pct, p
        FROM rr2
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pct) AS BIGINT) AS sum_pct,
           CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_promoted
    FROM c3 GROUP BY status
    """,
)
def q_review_promotions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual-review loop end-to-end (etl_ui.py:2001-2133): promote every
    duplicate of entities with id % 3 == 0, then assign even-numbered
    'Entidade Fantasma' unmatched rows to their entity, re-classifying after
    each step. The per-status counts + pct sums prove rows moved between
    branches exactly as the reference's review screens move them, and
    ``n_promoted`` proves the durable promotion flag lands in the valid
    branch (and survives the second re-classification)."""
    from fefal_etl_spark.operators.dedup import ROW_KEY
    from fefal_etl_spark.operators.review import (
        REVIEW_PROMOTED,
        assign_entity,
        promote_duplicate,
    )

    res, _star = _shared(spark, sf_dir)
    frame = res.frame
    order = [
        F.col("percentagem_preenchido").desc_nulls_last(),
        F.col("tempo_realizacao").desc_nulls_last(),
        F.col(ROW_KEY).asc(),
    ]
    promoted = frame.filter(
        (F.col("status") == "duplicate") & (F.col("id_entidade") % 3 == 0)
    ).select(ROW_KEY)
    reviewed = promote_duplicate(frame, promoted, order_by=order)
    ck = F.regexp_extract(F.col("nome_entidade"), "([0-9]+)$", 1).cast("long")
    fixes = reviewed.filter(
        (F.col("status") == "unmatched")
        & F.col("nome_entidade").startswith("Entidade Fantasma ")
        & (ck % 2 == 0)
    ).select(F.col(ROW_KEY), ck.alias("id_entidade"))
    final = assign_entity(reviewed, fixes, order_by=order)
    return final.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("percentagem_preenchido").cast("long").alias("sum_pct"),
        F.sum(F.col(REVIEW_PROMOTED).cast("int")).cast("long").alias("n_promoted"),
    )


_FORM_VALS = {
    "excel": "CASE WHEN ck % 7 = 0 THEN 0 ELSE greatest(ck % 7 - 2, 0) END",
    "lideranca": "ck % 5",
    "sem brackets": "ck % 3",
}


@register(
    "pipeline_star_formations",
    f"""
    WITH {_PIPE_CTE},
    valid AS (SELECT * FROM classified WHERE status = 'valid'),
    long AS ({" UNION ALL ".join(
        f"SELECT '{name}' AS nome_formacao, CAST({expr} AS BIGINT) AS n_formandos FROM valid"
        for name, expr in _FORM_VALS.items()
    )})
    SELECT nome_formacao,
           CAST(count(*) AS BIGINT) AS n_resp,
           CAST(sum(n_formandos) AS BIGINT) AS total_formandos
    FROM long GROUP BY nome_formacao
    """,
)
def q_pipeline_star_formations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 formations bridge fact — R1 unpivot + dim name resolution
    (etl_ui.py:432-470), aggregated per formation."""
    _res, star = _shared(spark, sf_dir)
    fact = star["fact_resposta_formacao"]
    dim = star["dim_formacao"]
    return (
        fact.join(F.broadcast(dim), on="id_formacao")
        .groupBy("nome_formacao")
        .agg(
            F.count(F.lit(1)).alias("n_resp"),
            F.sum("n_formandos").alias("total_formandos"),
        )
    )


# --------------------------------------------------------------------------
# SCD2 dimension merge (DW-parity extension of the S7 upsert family)
# --------------------------------------------------------------------------


@register(
    "scd2_dim_merge",
    """
    WITH base AS (
        SELECT c_custkey, c_mktsegment,
               TIMESTAMP '2020-01-01' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               true AS is_current
        FROM customer
    ),
    snapshot AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment || '_V2'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000, c_mktsegment
        FROM customer WHERE c_custkey < 50
    ),
    changed AS (
        SELECT b.c_custkey FROM base b JOIN snapshot s USING (c_custkey)
        WHERE b.c_mktsegment IS DISTINCT FROM s.c_mktsegment
    )
    SELECT b.c_custkey, b.c_mktsegment, b.valid_from,
           TIMESTAMP '2021-01-01' AS valid_to, false AS is_current
    FROM base b JOIN changed USING (c_custkey)
    UNION ALL
    SELECT b.c_custkey, b.c_mktsegment, b.valid_from, b.valid_to, b.is_current
    FROM base b ANTI JOIN changed USING (c_custkey)
    UNION ALL
    SELECT s.c_custkey, s.c_mktsegment,
           TIMESTAMP '2021-01-01', CAST(NULL AS TIMESTAMP), true
    FROM snapshot s
    WHERE s.c_custkey IN (SELECT c_custkey FROM changed)
       OR s.c_custkey NOT IN (SELECT c_custkey FROM base)
    """,
)
def q_scd2_dim_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 type-2 dimension merge (extends the S7 upsert-dim family with
    history): base dim snapshot vs a new snapshot that changes every 7th
    segment and adds 50 new keys — changed rows close at the load
    timestamp and reopen as new versions, new keys open, history passes
    through. Null-safe change detection; idempotent on re-merge
    (operators/upsert.py::scd2_merge)."""
    from fefal_etl_spark.operators.upsert import scd2_merge

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2020-01-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    snapshot = cust.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 == 0, F.concat(F.col("c_mktsegment"), F.lit("_V2"))
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    ).unionByName(
        cust.filter(F.col("c_custkey") < 50).select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"), "c_mktsegment"
        )
    )
    return scd2_merge(
        base,
        snapshot,
        key="c_custkey",
        tracked=["c_mktsegment"],
        load_ts="2021-01-01",
    )


# --------------------------------------------------------------------------
# CDC changelog → snapshot (the event-stream dual of the SCD2 snapshot merge)
# --------------------------------------------------------------------------


@register(
    "cdc_snapshot",
    """
    WITH changes AS (
        SELECT o_orderkey AS order_key, 'I' AS op, o_orderdate AS ts,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(19,3)) AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'U', o_orderdate + INTERVAL 10 DAY,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(19,3))
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, 'D', o_orderdate + INTERVAL 20 DAY,
               CAST(NULL AS DECIMAL(19,3))
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY order_key
                                     ORDER BY ts DESC) AS rk
        FROM changes
    )
    SELECT order_key, op, CAST(price AS DOUBLE) AS price, ts AS last_ts
    FROM latest WHERE rk = 1 AND op <> 'D'
    """,
)
def q_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (operators/upsert.py::apply_changelog) — the
    event-stream dual of scd2_dim_merge: a synthetic insert/update/delete
    feed over orders (every 5th key updated at +10d with a DECIMAL-exact
    1.1× reprice, every 10th deleted at +20d) collapses to the
    latest-wins snapshot. Keys ending in 0 must vanish, keys ending in 5
    must carry the repriced update, everything else the original insert.
    One key-hashed window; price arithmetic in DECIMAL on both engines so
    the reprice can't drift."""
    from fefal_etl_spark.operators.upsert import apply_changelog

    orders = load_table(spark, sf_dir, "orders")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    base = orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.lit("I").alias("op"),
        F.col("o_orderdate").alias("ts"),
        price_dec.cast("decimal(19,3)").alias("price"),
    )
    upd = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("order_key"),
        F.lit("U").alias("op"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAY")).alias("ts"),
        (price_dec * F.lit("1.1").cast("decimal(2,1)"))
        .cast("decimal(19,3)")
        .alias("price"),
    )
    dele = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("order_key"),
        F.lit("D").alias("op"),
        (F.col("o_orderdate") + F.expr("INTERVAL 20 DAY")).alias("ts"),
        F.lit(None).cast("decimal(19,3)").alias("price"),
    )
    changes = base.unionByName(upd).unionByName(dele)
    snap = apply_changelog(changes, key="order_key", seq_cols=["ts"])
    return snap.select(
        "order_key", "op", F.col("price").cast("double").alias("price"),
        F.col("ts").alias("last_ts"),
    )


@register(
    "scd2_as_of",
    """
    WITH base AS (
        SELECT c_custkey, c_mktsegment,
               TIMESTAMP '2020-01-01' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               true AS is_current
        FROM customer
    ),
    snapshot AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment || '_V2'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000, c_mktsegment
        FROM customer WHERE c_custkey < 50
    ),
    changed AS (
        SELECT b.c_custkey FROM base b JOIN snapshot s USING (c_custkey)
        WHERE b.c_mktsegment IS DISTINCT FROM s.c_mktsegment
    ),
    merged AS (
        SELECT b.c_custkey, b.c_mktsegment, b.valid_from,
               TIMESTAMP '2021-01-01' AS valid_to, false AS is_current
        FROM base b JOIN changed USING (c_custkey)
        UNION ALL
        SELECT b.c_custkey, b.c_mktsegment, b.valid_from, b.valid_to,
               b.is_current
        FROM base b ANTI JOIN changed USING (c_custkey)
        UNION ALL
        SELECT s.c_custkey, s.c_mktsegment,
               TIMESTAMP '2021-01-01', CAST(NULL AS TIMESTAMP), true
        FROM snapshot s
        WHERE s.c_custkey IN (SELECT c_custkey FROM changed)
           OR s.c_custkey NOT IN (SELECT c_custkey FROM base)
    ),
    pit AS (
        SELECT 'before' AS as_of, * FROM merged
        WHERE valid_from <= TIMESTAMP '2020-06-01'
          AND (valid_to IS NULL OR TIMESTAMP '2020-06-01' < valid_to)
        UNION ALL
        SELECT 'after', * FROM merged
        WHERE valid_from <= TIMESTAMP '2021-06-01'
          AND (valid_to IS NULL OR TIMESTAMP '2021-06-01' < valid_to)
    )
    SELECT as_of,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN right(c_mktsegment, 3) = '_V2'
                          THEN 1 ELSE 0 END)
                AS BIGINT) AS n_v2
    FROM pit GROUP BY as_of
    """,
)
def q_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 time travel (operators/upsert.py::dim_as_of): the same merged
    dimension read AS OF two dates — before the merge load no key shows a
    _V2 segment and the 50 added keys are absent; after it every 7th key
    resolves to its _V2 version. One version per key at each date (n_rows
    == n_keys) pins the non-overlap invariant end to end. The as-of
    predicate is a narrow pushdown filter — at scale it prunes
    validity-partitioned files."""
    from fefal_etl_spark.operators.upsert import dim_as_of, scd2_merge

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2020-01-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    snapshot = cust.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.col("c_mktsegment"), F.lit("_V2")),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    ).unionByName(
        cust.filter(F.col("c_custkey") < 50).select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"), "c_mktsegment"
        )
    )
    merged = scd2_merge(
        base, snapshot, key="c_custkey", tracked=["c_mktsegment"],
        load_ts="2021-01-01",
    )

    def stats(tag: str, ts: str) -> DataFrame:
        return dim_as_of(merged, ts).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("c_custkey").cast("long").alias("n_keys"),
            F.sum(
                F.when(F.col("c_mktsegment").endswith("_V2"), 1).otherwise(0)
            ).cast("long").alias("n_v2"),
        ).select(F.lit(tag).alias("as_of"), "n_rows", "n_keys", "n_v2")

    return stats("before", "2020-06-01").unionByName(stats("after", "2021-06-01"))
