"""build_star — the reference's load core (EP3, etl_ui.py:394-664) as a
declarative star-schema build (dw_creation.sql:1-93).

The reference loads row-at-a-time with ``INSERT … RETURNING`` and pairs
generated fact keys with the pandas positional index (etl_ui.py:459, 523).
The engine instead generates ``id_inquerito`` *inside Spark* (the ingest row
key — deterministic, unique) before any fan-out, so every bridge fact keys
on it with zero driver round-trips; dimension surrogate keys are dense
sequential ids, as ``upsert_dim_sequential`` assigns them (reference parity).

Outputs (dw_creation.sql naming):
- ``fact_inquerito``                                  (43-53)
- ``dim_formacao`` + ``fact_resposta_formacao``       (12-18, 56-63)
- ``dim_area_tematica`` + ``fact_resposta_interesse`` (20-23, 65-74)
- ``comentario``                                      (operational only, etl_ui.py:558-564)
- ``dim_preferencia_ensino`` + ``fact_resposta_preferencia`` (25-28, 76-83)
- ``dim_disponibilidade_horaria`` + ``fact_resposta_disponibilidade`` (35-40, 85-92)

Materialization: every dimension is a function of the wave's column
headers and the committed dim rows, so ``build_star`` computes each
dim's rows and ids on the driver and issues the dim once as a local
relation; each fact row gets its dim id as a BIGINT literal looked up by
its header, so the facts read the classified frame ``run_pipeline``
materialized (its local checkpoint) and join nothing. The Spark jobs
here are one collect of ``tipos_disponibilidades`` and one of each
committed dim given in ``existing_dims``. ``build_star`` persists
nothing. A loader calls
:func:`release_star_cache` on the thread that ran the wave once every
table of the wave is written, which frees that checkpoint (and no other
thread's).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fefal_etl_spark.cache import release_checkpoints
from fefal_etl_spark.functions.text import py_extract_brackets, py_normalize_text
from fefal_etl_spark.operators import (
    unpivot_availability,
    unpivot_formations,
    unpivot_interests_with_comments,
    unpivot_preferences,
)
from fefal_etl_spark.operators.dedup import ROW_KEY
from fefal_etl_spark.operators.reshape import explode_sentences
from fefal_etl_spark.plans.pipeline import PipelineResult
from fefal_etl_spark.predicate_prune import sql_literal

ID_INQ = "id_inquerito"


def release_star_cache() -> None:
    """Release what a wave load holds once its tables are committed: the
    classified frames ``run_pipeline`` materialized on this thread.
    Checkpoints another thread holds, or a cache took over with
    ``cache.keep_checkpoint``, stay readable. ``build_star`` itself
    persists nothing."""
    release_checkpoints()


def _local(spark, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side rows as an Arrow-backed local relation in one
    partition: consumers scan it as a ``LocalTableScan`` inside the JVM,
    and a committed dim is one file. ``createDataFrame(list)`` would
    instead re-serialize through a ``PythonRDD``, so every scan of a
    20-row lookup ran Python-worker tasks."""
    import pyarrow as pa
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(struct.fields)}
    return spark.createDataFrame(pa.table(cols), struct).coalesce(1)


def _driver_upsert(
    existing: DataFrame | None,
    by_header: dict[str, tuple],
    keys: list[str],
    id_col: str,
    var: str = "orig",
) -> tuple[list[tuple], Column]:
    """``upsert_dim_sequential`` on the driver. Returns the dim's
    ``(id, *keys)`` rows and each unpivoted row's id, looked up by its
    header ``var`` in one literal map (BIGINT, as the upsert's ids are:
    ``id_resposta_interesse`` hashes the id's type). The existing rows
    stay as they are (one collect); each distinct new key (NULL equals
    NULL, as in its anti-join) is numbered from ``coalesce(max(id), 0) +
    1`` in ``Window.orderBy(keys)`` order: ascending, NULLs first,
    strings by code point, which is Spark's UTF-8 binary order (Java's
    UTF-16 order differs past U+FFFF)."""
    rows = []
    if existing is not None:
        rows = [tuple(r) for r in existing.select(id_col, *keys).collect()]
    new = sorted(
        set(by_header.values()) - {r[1:] for r in rows},
        key=lambda k: [(v is not None, v) for v in k],
    )
    top = max((r[0] for r in rows if r[0] is not None), default=0)
    rows += [(top + n, *k) for n, k in enumerate(new, 1)]
    id_of = {r[1:]: r[0] for r in rows}
    pairs = ", ".join(f"{sql_literal(h)}, {id_of[k]}L" for h, k in by_header.items())
    return rows, F.expr(f"map({pairs})[`{var}`]").alias(id_col)


def _tipo_by_prefix(header: str, tipos: list[tuple]) -> object:
    """``prefix_join`` on the driver: the id of the tipo whose normalized
    ``descricao + " -"`` is the longest prefix of the normalized header
    (a NULL descricao is the empty prefix), or None."""
    name = py_normalize_text(header)
    pre = [(py_normalize_text(None if d is None else d + " -"), i) for i, d in tipos]
    hits = [(len(p), i) for p, i in pre if name.startswith(p)]
    return max(hits, key=lambda h: h[0])[1] if hits else None


def build_star(
    result: PipelineResult,
    existing_dims: dict[str, DataFrame] | None = None,
    tipos_disponibilidades: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Assemble the star schema from the pipeline's valid branch.

    ``existing_dims`` enables idempotent re-loads (S7 upsert semantics);
    ``tipos_disponibilidades`` is the (id_tipo_disp, descricao_tipo_disp)
    dim driving the J4 prefix match (etl_ui.py:603-621).

    Facts stay lazy over ``result.frame``, which ``run_pipeline`` already
    materialized, and carry their dim ids as literals; dims are local
    relations (module docstring). The caller releases ``result.frame``
    with :func:`release_star_cache` after its writes.
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
        rows, fact_id = _driver_upsert(
            existing_dims.get("dim_formacao"),
            {c: (py_extract_brackets(py_normalize_text(c)),) for c in form_cols},
            ["nome_formacao"],
            "id_formacao",
        )
        # DW schema parity (dw_creation.sql:6-18): DimFormacao declares a
        # self-referencing base-formation key and a group-dim FK. The
        # reference's loader never populates either (etl_ui.py:432-470 writes
        # only id/nome), so they are emitted as typed NULLs and the group dim
        # as an empty-but-typed relation — a downstream consumer of the
        # star sees the declared shape.
        out["dim_formacao"] = _local(
            spark,
            [(*r, None, None) for r in rows],
            "id_formacao bigint, nome_formacao string, "
            "id_formacao_base bigint, id_grupo_formacao bigint",
        )
        grupo = existing_dims.get("dim_grupo_formacao")
        out["dim_grupo_formacao"] = (
            grupo
            if grupo is not None
            else _local(spark, [], "id_grupo_formacao bigint, nome_grupo string, "
                        "descrissao_grupo string")  # [sic] dw_creation.sql:9
        )
        long = unpivot_formations(valid, ID_INQ, form_cols, var_name="orig")
        out["fact_resposta_formacao"] = long.select(ID_INQ, fact_id, "n_formandos")

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
        rows, fact_id = _driver_upsert(
            existing_dims.get("dim_area_tematica"),
            {n: (n,) for n in norm_value_cols},
            ["nome_area"],
            "id_interesse",
            var="nome_area",
        )
        out["dim_area_tematica"] = _local(
            spark, rows, "id_interesse bigint, nome_area string"
        )
        interests = unpivot_interests_with_comments(
            valid_int, ID_INQ, norm_value_cols, comment_suffix="[comentario]"
        )
        fact_int = interests.select(
            ID_INQ, fact_id, "tem_interesse", "n_formandos", "texto_comentario"
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
        rows, fact_id = _driver_upsert(
            existing_dims.get("dim_preferencia_ensino"),
            {c: (py_normalize_text(c),) for c in pref_cols},
            ["descricao_preferencia"],
            "id_preferencia",
        )
        out["dim_preferencia_ensino"] = _local(
            spark, rows, "id_preferencia bigint, descricao_preferencia string"
        )
        long = unpivot_preferences(valid, ID_INQ, pref_cols, var_name="orig")
        out["fact_resposta_preferencia"] = long.select(
            ID_INQ, fact_id, "valor_preferencia"
        )

    # --- disponibilidade: J4 prefix + F3 + R4 (etl_ui.py:603-658) ----------
    disp_cols = result.groups.get("disponibilidade", [])
    if disp_cols:
        tipos, tipo_type = [], "int"
        if tipos_disponibilidades is not None:
            t = tipos_disponibilidades.select("id_tipo_disp", "descricao_tipo_disp")
            tipos = [tuple(r) for r in t.collect()]
            tipo_type = t.schema["id_tipo_disp"].dataType.simpleString()
        # header → (horário in brackets, tipo by prefix); id_tipo_disp is
        # NULL for a header no tipo prefixes, and NULL matches NULL in the
        # dim key
        rows, fact_id = _driver_upsert(
            existing_dims.get("dim_disponibilidade_horaria"),
            {c: (py_extract_brackets(c), _tipo_by_prefix(c, tipos)) for c in disp_cols},
            ["descricao_horario", "id_tipo_disp"],
            "id_horario",
        )
        out["dim_disponibilidade_horaria"] = _local(
            spark,
            rows,
            f"id_horario bigint, descricao_horario string, id_tipo_disp {tipo_type}",
        )
        long = unpivot_availability(valid, ID_INQ, disp_cols, var_name="orig")
        out["fact_resposta_disponibilidade"] = long.select(
            ID_INQ, fact_id, "tem_disponibilidade"
        )

    return out
