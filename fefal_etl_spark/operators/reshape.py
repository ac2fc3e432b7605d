"""Reshaping operators — the reference's signature unpivots (SURVEY.md §2.8).

The reference iterates rows and columns in Python to emit long-form fact rows
(etl_ui.py:458-470, 522-556, 589-600, 643-658). Here each becomes one
``DataFrame.unpivot`` (Tungsten ``Expand`` under the hood — a narrow,
shuffle-free operator that emits N rows per input row) followed by a filter;
``build_star`` then gives each long row its dim id as a literal looked up
by its header. At 100 TB the unpivot is embarrassingly parallel; the
reshape layer has no shuffle and no join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fefal_etl_spark.functions.encodings import is_numeric_string
from fefal_etl_spark.functions.text import split_sentences, ws_trim


def unpivot(
    df: DataFrame,
    ids: list[str],
    values: list[str],
    var_name: str,
    value_name: str,
) -> DataFrame:
    """Generic wide→long (R1/R3/R4 core). Thin wrapper over
    ``DataFrame.unpivot`` keeping a single choke-point for the engine."""
    return df.unpivot(ids, values, var_name, value_name)


def unpivot_formations(
    df: DataFrame,
    id_col: str,
    formation_cols: list[str],
    var_name: str = "nome_formacao",
    value_name: str = "n_formandos",
) -> DataFrame:
    """R1 — formations wide→long, keeping values ≥ 0 (etl_ui.py:458-470).

    Input columns are already cleaned to non-negative longs (F16), so the
    ``>= 0`` filter only drops NULLs — kept explicit for parity.
    """
    long = df.unpivot([id_col], formation_cols, var_name, value_name)
    return long.filter(F.col(value_name).isNotNull() & (F.col(value_name) >= 0))


def unpivot_interests_with_comments(
    df: DataFrame,
    id_col: str,
    interest_cols: list[str],
    comment_suffix: str = "[comentario]",
    var_name: str = "nome_area",
    value_name: str = "n_formandos",
    comment_name: str = "texto_comentario",
) -> DataFrame:
    """R2 — the subtlest reference semantics (etl_ui.py:522-556).

    For each interest column with value > 0 emit one row with
    ``tem_interesse=1`` and ``n_formandos=int(value)``; the sibling column
    ``f"{col}[comentario]"`` may *override* n_formandos when its text parses
    as a non-negative number (etl_ui.py:536-545), otherwise it becomes the
    comment text.

    Implementation: unpivot the interest block; for each area the comment
    column is looked up *by name* at plan time (no second unpivot + join
    needed when both blocks live in one DataFrame — the pairing becomes a
    per-area CASE expression, keeping the operator fully narrow/shuffle-free).
    """
    comment_map = {c: f"{c}{comment_suffix}" for c in interest_cols}
    have = set(df.columns)

    def comment_for(area: str) -> Column:
        cc = comment_map[area]
        return F.col(cc).cast("string") if cc in have else F.lit(None).cast("string")

    # one unpivot via explode over per-area structs so each long row carries
    # its own (value, comment) pair — an Expand-equivalent, still narrow.
    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias(var_name),
                F.col(a).cast("double").alias("__valor"),
                comment_for(a).alias("__comment"),
            )
            for a in interest_cols
        ]
    )
    long = (
        df.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, f"p.{var_name}", "p.__valor", "p.__comment")
        .filter(F.col("__valor").isNotNull() & (F.col("__valor") > 0))
    )
    comment_trim = ws_trim(F.col("__comment"))
    comment_is_num = F.col("__comment").isNotNull() & is_numeric_string(comment_trim)
    n_formandos = F.when(
        comment_is_num, comment_trim.try_cast("double").cast("long")
    ).otherwise(F.col("__valor").cast("long"))
    texto = F.when(
        F.col("__comment").isNotNull() & ~comment_is_num & (comment_trim != ""),
        comment_trim,
    ).otherwise(F.lit(None))
    return long.select(
        F.col(id_col),
        F.col(var_name),
        F.lit(1).alias("tem_interesse"),
        n_formandos.alias(value_name),
        texto.alias(comment_name),
    )


def unpivot_preferences(
    df: DataFrame,
    id_col: str,
    pref_cols: list[str],
    var_name: str = "descricao_preferencia",
    value_name: str = "valor_preferencia",
) -> DataFrame:
    """R3 — preferences wide→long, NULLs dropped (etl_ui.py:589-600)."""
    long = df.unpivot([id_col], pref_cols, var_name, value_name)
    return long.filter(F.col(value_name).isNotNull()).withColumn(
        value_name, F.col(value_name).cast("long")
    )


def unpivot_availability(
    df: DataFrame,
    id_col: str,
    disp_cols: list[str],
    var_name: str = "nome_horario",
    value_name: str = "tem_disponibilidade",
) -> DataFrame:
    """R4 — availability wide→long, NULLs dropped (etl_ui.py:643-658).

    Values are already tri-state encoded (F9: 1/0/-1); header→(tipo, horário)
    resolution happens downstream via the J4 prefix join + F3 bracket
    extraction.
    """
    long = df.unpivot([id_col], disp_cols, var_name, value_name)
    return long.filter(F.col(value_name).isNotNull())


def explode_sentences(
    df: DataFrame, text_col: str, out_col: str = "texto_comentario"
) -> DataFrame:
    """R5 — one row per sentence of a comment (etl_ui.py:558-564), dropping
    rows with no sentences (the reference only inserts when text is present).
    """
    exploded = df.withColumn(out_col + "__arr", split_sentences(F.col(text_col)))
    return (
        exploded.filter(F.size(out_col + "__arr") > 0)
        .withColumn(out_col, F.explode(F.col(out_col + "__arr")))
        .drop(out_col + "__arr")
    )


def partition_columns_by_keywords(
    columns: list[str],
    comment_keys: list[str],
    formando_keys: list[str],
    normalizer,
) -> tuple[list[str], list[str], list[str]]:
    """R6 — split a column list 3-ways by header keywords
    (etl_ui.py:253-261): (comment_cols, formando_cols, value_cols).
    Metadata-only (driver-side) — operates on names, not data.
    """
    ck = [normalizer(k) for k in comment_keys]
    fk = [normalizer(k) for k in formando_keys]
    comments, formandos, values = [], [], []
    for c in columns:
        n = normalizer(c)
        if any(k in n for k in ck):
            comments.append(c)
        elif any(k in n for k in fk):
            formandos.append(c)
        else:
            values.append(c)
    return comments, formandos, values
