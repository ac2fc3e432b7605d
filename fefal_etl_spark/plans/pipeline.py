"""run_pipeline — the reference's transform core (EP2, etl_ui.py:68-129) as
one lazy DataFrame DAG.

The reference splits the wide frame into five positional sub-frames, mutates
each eagerly, re-concats by position, then forks with boolean masks. The
engine keeps ONE immutable DataFrame end to end:

- positional groups resolve to column-name lists once (config metadata);
- every per-group mutation is a column expression on the shared frame;
- the valid/duplicate/unmatched/blank fork is a single ``status`` column
  (etl_ui.py:109-125) computed in the same DAG; callers filter per branch
  over one materialized result.

Materialization: ``run_pipeline`` runs the DAG once, through
:func:`fefal_etl_spark.cache.local_checkpoint`, and returns the
classified frame with its lineage cut. The valid branch, the rejected
branches and every star table ``build_star`` derives read that one
result: the CSV and the registry are scanned once per wave, and a row's
``status`` and row key cannot differ between two branch writes. The
checkpoint is held for the calling thread: its blocks stay in the block
manager until that thread has written what it needs and calls
``plans.star.release_star_cache()`` (or ``cache.release_checkpoints``).
A cache that keeps the result past the wave takes the checkpoint over
with ``cache.keep_checkpoint`` and frees it itself
(``plans.queries._evict``). The frame cannot be read once freed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fefal_etl_spark.cache import local_checkpoint
from fefal_etl_spark.functions import (
    coalesce_submission,
    duration_seconds,
    encode_sim_nao_null,
    encode_sim_nao_tristate,
    normalize_text,
    to_numeric_coerce,
    to_timestamp_coerce,
    validate_numeric,
)
from fefal_etl_spark.functions.numeric import rescale_to_100
from fefal_etl_spark.functions.text import py_normalize_text
from fefal_etl_spark.operators import classify_rows, resolve_entities, with_row_key
from fefal_etl_spark.operators.dedup import ROW_KEY
from fefal_etl_spark.operators.reshape import partition_columns_by_keywords
from fefal_etl_spark.plans.config import PipelineConfig


@dataclass
class PipelineResult:
    """Classified frame + resolved column-group metadata."""

    frame: DataFrame  # all rows, with `status` column
    groups: dict[str, list[str]]  # group -> (possibly renamed) column names
    interest_value_cols: list[str] = field(default_factory=list)
    interest_comment_cols: list[str] = field(default_factory=list)
    interest_formando_cols: list[str] = field(default_factory=list)

    def branch(self, status: str) -> DataFrame:
        return self.frame.filter(F.col("status") == status)

    @property
    def valid(self) -> DataFrame:
        return self.branch("valid")

    @property
    def duplicate(self) -> DataFrame:
        return self.branch("duplicate")

    @property
    def unmatched(self) -> DataFrame:
        return self.branch("unmatched")

    @property
    def blank_name(self) -> DataFrame:
        return self.branch("blank_name")


def run_pipeline(
    survey: DataFrame, registry: DataFrame, config: PipelineConfig
) -> PipelineResult:
    """The EP2 transform chain (etl_ui.py:68-129). ``registry`` carries
    (id_entidades, ent_nome, ent_tipo) — the SII entity table (etl_ui.py:88).
    """
    raw_cols = survey.columns
    groups = config.resolve_groups(raw_cols)
    df = with_row_key(survey)

    # --- identificação: header normalize + rename (etl_ui.py:72-75, 41-51) --
    id_cols = groups.get("identificacao", [])
    renames: dict[str, str] = {}
    for c in id_cols:
        norm = py_normalize_text(c)
        if norm in config.rename_map:
            renames[c] = config.rename_map[norm]
    df = df.withColumnsRenamed(renames)
    groups["identificacao"] = [renames.get(c, c) for c in id_cols]

    if "nome_entidade" not in df.columns:
        raise ValueError("critical field 'nome_entidade' missing after rename "
                         "(etl_ui.py:1547-1552 coverage gate)")

    # --- blank-name flag (etl_ui.py:79) ------------------------------------
    df = df.withColumn(
        "__is_blank",
        normalize_text(F.col("nome_entidade")).isin(list(config.bad_names)),
    )

    # --- entity type map / default (etl_ui.py:81-84) -----------------------
    if "tipo_entidade" in df.columns:
        mapped = F.lit(None).cast("string")
        if config.entity_type_map:
            norm_tipo = normalize_text(F.col("tipo_entidade"))
            expr = None
            for k, v in config.entity_type_map.items():
                branch = F.when(norm_tipo == k, F.lit(v))
                expr = branch if expr is None else expr.when(norm_tipo == k, F.lit(v))
            mapped = expr
        df = df.withColumn(
            "tipo_entidade", F.coalesce(mapped, F.col("tipo_entidade"))
        )
    else:
        df = df.withColumn("tipo_entidade", F.lit(config.default_entity_type))
        groups["identificacao"].append("tipo_entidade")

    # --- registry resolution J1 (etl_ui.py:86-95) --------------------------
    df = resolve_entities(df, registry)

    # --- pct rescale A2 (etl_ui.py:98, 177-188) ----------------------------
    if "percentagem_preenchido" in df.columns:
        df = rescale_to_100(df, "percentagem_preenchido")
    else:
        df = df.withColumn("percentagem_preenchido", F.lit(None).cast("int"))

    # --- duration F13 (etl_ui.py:99, 189-200) ------------------------------
    if {"data_inicio", "data_fim"}.issubset(set(df.columns)):
        df = (
            df.withColumn("data_inicio", to_timestamp_coerce(F.col("data_inicio")))
            .withColumn("data_fim", to_timestamp_coerce(F.col("data_fim")))
            .withColumn(
                "tempo_realizacao",
                duration_seconds(F.col("data_inicio"), F.col("data_fim")),
            )
        )
    else:
        df = df.withColumn("tempo_realizacao", F.lit(None).cast("long"))

    # --- ano / responsável / submissão (etl_ui.py:100, 214-224) ------------
    df = df.withColumn("ano", F.lit(config.year))
    if "nome_responsavel" not in df.columns:
        df = df.withColumn("nome_responsavel", F.lit(None).cast("string"))
    sub = (
        to_timestamp_coerce(F.col("data_submissao"))
        if "data_submissao" in df.columns
        else F.lit(None).cast("timestamp")
    )
    fim = F.col("data_fim") if "data_fim" in df.columns else F.lit(None).cast("timestamp")
    df = df.withColumn("data_submissao", coalesce_submission(sub, fim))

    # --- per-group column mutations, applied as ONE withColumns call: each
    # withColumn round-trip re-analyzes the (growing) plan driver-side —
    # batching the four mutation families cut plan-construction time ~3×
    # on wide surveys (the generated expressions are identical).
    int_cols = groups.get("interesses", [])
    comment_cols, formando_cols, value_cols = partition_columns_by_keywords(
        int_cols, config.comment_keys, config.formando_keys, py_normalize_text
    )
    mutations: dict[str, F.Column] = {}
    # formações F16 (etl_ui.py:101, 233-244)
    for c in groups.get("formacoes", []):
        mutations[c] = validate_numeric(F.col(c))
    # interesses: 3-way split + F8 encode (etl_ui.py:102, 245-284)
    for c in value_cols:
        mutations[c] = encode_sim_nao_null(F.col(c))
    # disponibilidade F9 (etl_ui.py:103, 285-300)
    for c in groups.get("disponibilidade", []):
        mutations[c] = encode_sim_nao_tristate(F.col(c))
    # preferências F15 (etl_ui.py:104, 301-310)
    for c in groups.get("tipo de ensino", []):
        mutations[c] = to_numeric_coerce(F.col(c)).cast("long")
    if mutations:
        df = df.withColumns(mutations)

    # --- status fork (etl_ui.py:109-125) -----------------------------------
    # Deviation (documented, SURVEY.md §2.5): best-record order replaces the
    # reference's nondeterministic keep-first-in-file-order (W1 -> W2).
    df = classify_rows(
        df,
        id_col="id_entidade",
        blank_col="__is_blank",
        order_by=[
            F.col("percentagem_preenchido").desc_nulls_last(),
            F.col("tempo_realizacao").desc_nulls_last(),
            F.col(ROW_KEY).asc(),
        ],
    ).drop("__is_blank")

    return PipelineResult(
        frame=local_checkpoint(df),
        groups=groups,
        interest_value_cols=value_cols,
        interest_comment_cols=comment_cols,
        interest_formando_cols=formando_cols,
    )
