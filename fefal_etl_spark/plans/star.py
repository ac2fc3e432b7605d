"""build_star — the reference's load core (EP3, etl_ui.py:394-664) as a
declarative star-schema build (dw_creation.sql:1-93).

The reference loads row-at-a-time with ``INSERT … RETURNING`` and pairs
generated fact keys with the pandas positional index (etl_ui.py:459, 523).
The engine instead generates ``id_inquerito`` *inside Spark* (the ingest row
key — deterministic, unique) before any fan-out, so every bridge fact joins
on it with zero driver round-trips; dimension surrogate keys come from the
upsert operators (hash by default, dense-sequential for reference parity).

Outputs (dw_creation.sql naming):
- ``fact_inquerito``                                  (43-53)
- ``dim_formacao`` + ``fact_resposta_formacao``       (12-18, 56-63)
- ``dim_area_tematica`` + ``fact_resposta_interesse`` (20-23, 65-74)
- ``comentario``                                      (operational only, etl_ui.py:558-564)
- ``dim_preferencia_ensino`` + ``fact_resposta_preferencia`` (25-28, 76-83)
- ``dim_disponibilidade_horaria`` + ``fact_resposta_disponibilidade`` (35-40, 85-92)

Materialization: the facts read the classified frame ``run_pipeline``
materialized (its local checkpoint); the dims and lookups are local
relations built here. ``build_star`` persists nothing. A loader calls
:func:`release_star_cache` on the thread that ran the wave once every
table of the wave is written, which frees that checkpoint (and no other
thread's).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fefal_etl_spark.cache import release_checkpoints
from fefal_etl_spark.functions import extract_content_in_brackets, normalize_text
from fefal_etl_spark.functions.text import py_extract_brackets, py_normalize_text
from fefal_etl_spark.operators import (
    prefix_join,
    unpivot_availability,
    unpivot_formations,
    unpivot_interests_with_comments,
    unpivot_preferences,
    upsert_dim_hash,
    upsert_dim_sequential,
)
from fefal_etl_spark.operators.dedup import ROW_KEY
from fefal_etl_spark.operators.reshape import explode_sentences
from fefal_etl_spark.plans.pipeline import PipelineResult

ID_INQ = "id_inquerito"


def release_star_cache() -> None:
    """Release what a wave load holds once its tables are committed: the
    classified frames ``run_pipeline`` materialized on this thread.
    Checkpoints another thread holds, or a cache took over with
    ``cache.keep_checkpoint``, stay readable. ``build_star`` itself
    persists nothing."""
    release_checkpoints()


def _upsert(existing, incoming, key, id_col, mode: str):
    fn = upsert_dim_sequential if mode == "sequential" else upsert_dim_hash
    return fn(existing, incoming, key, id_col)


def _local(spark, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side rows as an Arrow-backed local relation: consumers scan
    it as a ``LocalTableScan`` inside the JVM. ``createDataFrame(list)``
    would instead re-serialize through a ``PythonRDD``, so every scan of
    a 20-row lookup ran Python-worker tasks."""
    import pyarrow as pa
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(struct.fields)}
    return spark.createDataFrame(pa.table(cols), struct)


def _localize(df: DataFrame) -> DataFrame:
    """Run a header-sized frame once and re-issue its rows as a local
    relation without leaving the JVM: its commit writes a
    ``LocalTableScan`` and every fact join broadcasts the rows instead of
    recomputing the upsert's shuffles. One partition, so a committed dim
    is one file."""
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(df._jdf.collectAsList(), df._jdf.schema())
    return DataFrame(jdf.coalesce(1), spark)


def build_star(
    result: PipelineResult,
    existing_dims: dict[str, DataFrame] | None = None,
    tipos_disponibilidades: DataFrame | None = None,
    key_mode: str = "sequential",
) -> dict[str, DataFrame]:
    """Assemble the star schema from the pipeline's valid branch.

    ``existing_dims`` enables idempotent re-loads (S7 upsert semantics);
    ``tipos_disponibilidades`` is the (id_tipo_disp, descricao_tipo_disp)
    dim driving the J4 prefix match (etl_ui.py:603-621).

    Facts stay lazy over ``result.frame``, which ``run_pipeline`` already
    materialized, so the up to 12 consumers of the valid branch read that
    one result instead of re-running the EP2 transform. Everything
    header-sized is a local relation: the header→name lookups are built
    on the driver (:func:`_local`), and each dimension and the
    availability header→tipo match run once here and come back as rows
    (:func:`_localize`). Nothing here is persisted; the caller releases
    ``result.frame`` with :func:`release_star_cache` after its writes.
    """
    existing_dims = existing_dims or {}
    valid = result.valid.withColumn(ID_INQ, F.col(ROW_KEY))
    out: dict[str, DataFrame] = {}

    # --- fact_inquerito (etl_ui.py:404-429) --------------------------------
    from fefal_etl_spark.functions import encode_existe_responsavel

    resp = (
        encode_existe_responsavel(F.col("existe_responsavel"))
        if "existe_responsavel" in valid.columns
        else F.lit(None).cast("int")
    )
    out["fact_inquerito"] = valid.select(
        F.col(ID_INQ),
        F.col("id_entidade").cast("long").alias("id_entidade"),
        F.col("ano"),
        F.date_format(F.col("data_submissao"), "yyyy-MM-dd").alias("data_submissao"),
        resp.alias("existe_responsavel"),
        F.col("nome_responsavel"),
        F.col("percentagem_preenchido"),
        F.col("tempo_realizacao"),
    )

    # --- formações: dim upsert + R1 unpivot (etl_ui.py:432-470) ------------
    spark = valid.sparkSession
    form_cols = result.groups.get("formacoes", [])
    if form_cols:
        # header → dim name: clean + bracket-extract of the normalized header
        # (etl_ui.py:238-239)
        name_pairs = [(c, py_extract_brackets(py_normalize_text(c))) for c in form_cols]
        names_df = _local(spark, name_pairs, "orig string, nome_formacao string")
        dim = _upsert(
            existing_dims.get("dim_formacao"),
            names_df.select("nome_formacao"),
            "nome_formacao",
            "id_formacao",
            key_mode,
        )
        # DW schema parity (dw_creation.sql:6-18): DimFormacao declares a
        # self-referencing base-formation key and a group-dim FK. The
        # reference's loader never populates either (etl_ui.py:432-470 writes
        # only id/nome), so they are emitted as typed NULLs and the group dim
        # as an empty-but-typed relation — a downstream consumer of the
        # star sees the declared shape.
        if "id_formacao_base" not in dim.columns:
            dim = dim.withColumn(
                "id_formacao_base", F.lit(None).cast("long")
            ).withColumn("id_grupo_formacao", F.lit(None).cast("long"))
        dim = out["dim_formacao"] = _localize(dim)
        out["dim_grupo_formacao"] = existing_dims.get(
            "dim_grupo_formacao",
            _local(
                spark,
                [],
                "id_grupo_formacao bigint, nome_grupo string, "
                "descrissao_grupo string",  # [sic] dw_creation.sql:9
            ),
        )
        long = unpivot_formations(valid, ID_INQ, form_cols, var_name="orig")
        long = long.join(F.broadcast(names_df), on="orig").drop("orig")
        out["fact_resposta_formacao"] = long.join(
            F.broadcast(dim), on="nome_formacao"
        ).select(ID_INQ, "id_formacao", "n_formandos")

    # --- interesses: R2 + comentário explode (etl_ui.py:496-564) -----------
    # The reference normalizes interest-block headers first (etl_ui.py:251,
    # 502-503); the comment column for value column X is then *exactly*
    # "X[comentario]" (etl_ui.py:536) — pairing only fires on that identity.
    value_cols = result.interest_value_cols
    if value_cols:
        int_renames = {
            c: py_normalize_text(c)
            for c in value_cols + result.interest_comment_cols
            if c != py_normalize_text(c)
        }
        valid_int = valid.withColumnsRenamed(int_renames)
        norm_value_cols = [py_normalize_text(c) for c in value_cols]
        dim_inc = _local(spark, [(c,) for c in norm_value_cols], "nome_area string")
        dim_area = out["dim_area_tematica"] = _localize(
            _upsert(
                existing_dims.get("dim_area_tematica"),
                dim_inc,
                "nome_area",
                "id_interesse",
                key_mode,
            )
        )
        interests = unpivot_interests_with_comments(
            valid_int, ID_INQ, norm_value_cols, comment_suffix="[comentario]"
        )
        fact_int = interests.join(
            F.broadcast(dim_area), interests.nome_area == dim_area.nome_area
        ).select(
            interests[ID_INQ],
            "id_interesse",
            "tem_interesse",
            "n_formandos",
            "texto_comentario",
        )
        # stable bridge-fact key so comments can reference their fact row
        fact_int = fact_int.withColumn(
            "id_resposta_interesse",
            F.xxhash64(F.col(ID_INQ), F.col("id_interesse")),
        )
        out["fact_resposta_interesse"] = fact_int.drop("texto_comentario")
        out["comentario"] = explode_sentences(
            fact_int.select("id_resposta_interesse", "texto_comentario").filter(
                F.col("texto_comentario").isNotNull()
            ),
            "texto_comentario",
            out_col="frase",
        ).select(
            "id_resposta_interesse", F.col("frase").alias("texto_comentario")
        )

    # --- preferências: R3 (etl_ui.py:567-600) ------------------------------
    pref_cols = result.groups.get("tipo de ensino", [])
    if pref_cols:
        pref_pairs = [(c, py_normalize_text(c)) for c in pref_cols]
        pref_names = _local(
            spark, pref_pairs, "orig string, descricao_preferencia string"
        )
        dim_pref = out["dim_preferencia_ensino"] = _localize(
            _upsert(
                existing_dims.get("dim_preferencia_ensino"),
                pref_names.select("descricao_preferencia"),
                "descricao_preferencia",
                "id_preferencia",
                key_mode,
            )
        )
        long = unpivot_preferences(valid, ID_INQ, pref_cols, var_name="orig")
        long = long.join(F.broadcast(pref_names), on="orig").drop("orig")
        out["fact_resposta_preferencia"] = long.join(
            F.broadcast(dim_pref), on="descricao_preferencia"
        ).select(ID_INQ, "id_preferencia", "valor_preferencia")

    # --- disponibilidade: J4 prefix + F3 + R4 (etl_ui.py:603-658) ----------
    disp_cols = result.groups.get("disponibilidade", [])
    if disp_cols:
        headers = _local(spark, [(c,) for c in disp_cols], "orig string")
        if tipos_disponibilidades is not None:
            matched = prefix_join(headers, tipos_disponibilidades, "orig")
        else:
            matched = headers.withColumn("id_tipo_disp", F.lit(None).cast("int"))
        matched = _localize(
            matched.withColumn(
                "descricao_horario", extract_content_in_brackets(F.col("orig"))
            )
        )
        dim_hor = out["dim_disponibilidade_horaria"] = _localize(
            _upsert(
                existing_dims.get("dim_disponibilidade_horaria"),
                matched.select("descricao_horario", "id_tipo_disp"),
                ["descricao_horario", "id_tipo_disp"],
                "id_horario",
                key_mode,
            )
        )
        long = unpivot_availability(valid, ID_INQ, disp_cols, var_name="orig")
        long = long.join(F.broadcast(matched), on="orig")
        # null-safe: id_tipo_disp is NULL for headers without a matching
        # tipo (or when no tipos dim is supplied) — a plain equi-join would
        # silently drop every such fact row (NULL != NULL).
        dim_cond = long["descricao_horario"].eqNullSafe(
            dim_hor["descricao_horario"]
        ) & long["id_tipo_disp"].eqNullSafe(dim_hor["id_tipo_disp"])
        out["fact_resposta_disponibilidade"] = long.join(
            F.broadcast(dim_hor), on=dim_cond
        ).select(long[ID_INQ], dim_hor["id_horario"], long["tem_disponibilidade"])

    return out
