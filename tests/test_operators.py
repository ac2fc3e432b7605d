"""Operator tests on hand-built survey-style fixtures (FIXTURES.md §1-§3,
SURVEY.md §5.2)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fefal_etl_spark.operators import (
    anti_join_new_keys,
    classify_rows,
    dedup_keep_best,
    fork_by_status,
    prefix_join,
    resolve_entities,
    unpivot_formations,
    unpivot_interests_with_comments,
    unpivot_preferences,
    upsert_dim_hash,
    upsert_dim_sequential,
    with_row_key,
    explode_sentences,
)


@pytest.fixture()
def registry(spark):
    return spark.createDataFrame(
        [
            (1, "Aveiro", "Municípios"),
            (2, "Braga", "Municípios"),
            (3, "Município de Porto", "Municípios"),  # registry side has prefix too
            (4, "Alvalade", "Freguesias"),
        ],
        "id_entidades int, ent_nome string, ent_tipo string",
    )


@pytest.fixture()
def survey(spark):
    rows = [
        # (row, nome, tipo, pct)
        (1, "Município de Aveiro", "Municípios", "80"),
        (2, "CAMARA MUNICIPAL  DE  BRAGA", "Municípios", "90"),
        (3, "Porto", "Municípios", "70"),      # matches prefix-stripped registry
        (4, "Freguesia de Alvalade", "Freguesias", "60"),
        (5, "Município de Aveiro", "Municípios", "95"),  # duplicate, better pct
        (6, "Entidade Fantasma", "Municípios", "50"),    # unmatched
    ]
    return spark.createDataFrame(
        rows, "row_id int, nome_entidade string, tipo_entidade string, pct string"
    )


def test_resolve_entities(spark, survey, registry):
    out = resolve_entities(survey, registry).orderBy("row_id").collect()
    ids = [r["id_entidade"] for r in out]
    assert ids == [1, 2, 3, 4, 1, None]


def test_classify_and_fork_invariant(spark, survey, registry):
    resolved = resolve_entities(survey, registry)
    classified = classify_rows(
        resolved,
        id_col="id_entidade",
        order_by=[F.col("pct").cast("double").desc(), F.col("row_id").asc()],
    )
    forks = fork_by_status(classified)
    counts = {k: df.count() for k, df in forks.items()}
    # etl_ui.py:1986 invariant: valid + dup + unmatched + blank == input rows
    assert sum(counts.values()) == survey.count()
    assert counts["valid"] == 4 and counts["duplicate"] == 1 and counts["unmatched"] == 1
    # best record wins: row 5 (pct 95) is the valid Aveiro, row 1 the duplicate
    dup = forks["duplicate"].collect()[0]
    assert dup["row_id"] == 1


def test_classify_blank_names(spark, registry):
    from fefal_etl_spark.functions import normalize_text

    rows = [(1, "nd", "Municípios"), (2, "", "Municípios"), (3, "Aveiro", "Municípios")]
    df = spark.createDataFrame(rows, "row_id int, nome_entidade string, tipo_entidade string")
    bad = ["", "nd", "nan", "n/a", "na", "nao definido", "sem dados"]
    flagged = df.withColumn("is_blank", normalize_text(F.col("nome_entidade")).isin(bad))
    resolved = resolve_entities(flagged, registry)
    classified = classify_rows(resolved, id_col="id_entidade", blank_col="is_blank")
    got = {r["row_id"]: r["status"] for r in classified.collect()}
    assert got == {1: "blank_name", 2: "blank_name", 3: "valid"}


def test_dedup_keep_best_null_keys_kept(spark):
    df = spark.createDataFrame(
        [(None, 1), (None, 2), (5, 3), (5, 4)], "k int, v int"
    )
    out = dedup_keep_best(df, key="k", order_by=[F.col("v").desc()])
    vals = sorted(r["v"] for r in out.collect())
    assert vals == [1, 2, 4]  # both NULL-key rows kept; best of k=5 kept


def test_with_row_key_unique(spark):
    df = spark.range(100).repartition(7)
    out = with_row_key(df.toDF("x"))
    assert out.select("__row_key").distinct().count() == 100


def test_prefix_join(spark):
    tipos = spark.createDataFrame(
        [(1, "Presencial"), (2, "Online"), (3, "Presencial estendido")],
        "id_tipo_disp int, descricao_tipo_disp string",
    )
    answers = spark.createDataFrame(
        [
            ("Presencial - [Manhã]",),
            ("ONLINE - [Pós-laboral]",),
            ("Presencial estendido - [Noite]",),  # longest prefix must win
            ("Outro - [X]",),
        ],
        "colname string",
    )
    out = {r["colname"]: r["id_tipo_disp"] for r in
           prefix_join(answers, tipos, "colname").collect()}
    assert out == {
        "Presencial - [Manhã]": 1,
        "ONLINE - [Pós-laboral]": 2,
        "Presencial estendido - [Noite]": 3,
        "Outro - [X]": None,
    }


def test_anti_join(spark):
    new = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    existing = spark.createDataFrame([("b",), ("b",)], "k string")
    got = sorted(r["k"] for r in anti_join_new_keys(new, existing, "k").collect())
    assert got == ["a", "c"]


# --- reshape ---------------------------------------------------------------


def test_unpivot_formations(spark):
    df = spark.createDataFrame(
        [(1, 5, 0, None), (2, None, 3, 2)],
        "id int, `excel avancado` long, lideranca long, scrum long",
    )
    out = unpivot_formations(df, "id", ["excel avancado", "lideranca", "scrum"])
    got = {(r["id"], r["nome_formacao"]): r["n_formandos"] for r in out.collect()}
    # value 0 kept (etl_ui.py:461 keeps >= 0); NULLs dropped
    assert got == {
        (1, "excel avancado"): 5,
        (1, "lideranca"): 0,
        (2, "lideranca"): 3,
        (2, "scrum"): 2,
    }


def test_unpivot_interests_comment_override(spark):
    # etl_ui.py:522-556: value>0 emits a row; numeric comment overrides
    # n_formandos; text comment becomes texto_comentario.
    df = spark.createDataFrame(
        [
            Row(id=1, gestao=1.0, financas=0.0, **{"gestao[comentario]": "12"}),
            Row(id=2, gestao=2.0, financas=1.0, **{"gestao[comentario]": "Bom. Sim!"}),
            Row(id=3, gestao=None, financas=3.0, **{"gestao[comentario]": "ignored"}),
        ]
    )
    out = unpivot_interests_with_comments(df, "id", ["gestao", "financas"])
    got = {
        (r["id"], r["nome_area"]): (r["tem_interesse"], r["n_formandos"], r["texto_comentario"])
        for r in out.collect()
    }
    assert got == {
        (1, "gestao"): (1, 12, None),          # numeric comment overrides 1 → 12
        (2, "gestao"): (1, 2, "Bom. Sim!"),    # text comment carried
        (2, "financas"): (1, 1, None),
        (3, "financas"): (1, 3, None),         # NULL value emits nothing for gestao
    }
    # financas has no comment column at all → never overridden
    assert (1, "financas") not in got  # value 0.0 → no row (only > 0)


def test_explode_sentences(spark):
    df = spark.createDataFrame(
        [(1, "Bom. Queremos mais! ok"), (2, None), (3, "   ")],
        "id int, texto string",
    )
    out = explode_sentences(df, "texto")
    got = [(r["id"], r["texto_comentario"]) for r in out.collect()]
    assert got == [(1, "Bom."), (1, "Queremos mais!"), (1, "ok")]


def test_unpivot_preferences(spark):
    df = spark.createDataFrame(
        [(1, 3, None), (2, None, 5)], "id int, elearning long, presencial long"
    )
    out = unpivot_preferences(df, "id", ["elearning", "presencial"])
    got = {(r["id"], r["descricao_preferencia"]): r["valor_preferencia"]
           for r in out.collect()}
    assert got == {(1, "elearning"): 3, (2, "presencial"): 5}


# --- upsert ----------------------------------------------------------------


def test_upsert_dim_hash_idempotent(spark):
    inc = spark.createDataFrame([("a",), ("b",), ("a",)], "nome string")
    dim1 = upsert_dim_hash(None, inc, "nome", "id_dim")
    assert dim1.count() == 2
    inc2 = spark.createDataFrame([("b",), ("c",)], "nome string")
    dim2 = upsert_dim_hash(dim1, inc2, "nome", "id_dim")
    assert dim2.count() == 3
    # re-upsert changes nothing (idempotent) and ids are stable
    dim3 = upsert_dim_hash(dim2, inc, "nome", "id_dim")
    assert sorted(map(tuple, dim3.collect())) == sorted(map(tuple, dim2.collect()))


def test_upsert_dim_sequential_dense(spark):
    inc = spark.createDataFrame([("b",), ("a",)], "nome string")
    dim1 = upsert_dim_sequential(None, inc, "nome", "id_dim")
    got = {r["nome"]: r["id_dim"] for r in dim1.collect()}
    assert got == {"a": 1, "b": 2}
    inc2 = spark.createDataFrame([("c",), ("a",)], "nome string")
    dim2 = upsert_dim_sequential(dim1, inc2, "nome", "id_dim")
    got2 = {r["nome"]: r["id_dim"] for r in dim2.collect()}
    assert got2 == {"a": 1, "b": 2, "c": 3}


def test_asof_join_semantics(spark):
    from datetime import datetime

    from fefal_etl_spark.operators.joins import asof_join

    t = lambda s: datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [
            (1, t("2024-01-01T10:00:00"), "p1"),  # exact-ts match is inclusive
            (1, t("2024-01-01T12:00:00"), "p2"),  # latest prior wins
            (1, t("2024-01-01T08:00:00"), "p3"),  # before any right → NULL
            (2, t("2024-01-01T12:00:00"), "p4"),  # other key isolated
        ],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, t("2024-01-01T10:00:00"), 100),
            (1, t("2024-01-01T11:00:00"), 200),
            (2, t("2024-01-01T09:00:00"), 900),
        ],
        "k long, ts timestamp, rv int",
    )
    out = asof_join(left, right, on="k", right_cols={"rv": "rv", "ts": "rts"})
    got = {r["tag"]: (r["rv"], r["rts"]) for r in out.collect()}
    assert got["p1"] == (100, t("2024-01-01T10:00:00"))
    assert got["p2"] == (200, t("2024-01-01T11:00:00"))
    assert got["p3"] == (None, None)
    assert got["p4"] == (900, t("2024-01-01T09:00:00"))
    assert out.count() == 4  # left-outer: every left row exactly once


def test_range_join_semantics(spark):
    from datetime import datetime

    from fefal_etl_spark.operators.joins import range_join

    t = lambda s: datetime.fromisoformat(s)
    pts = spark.createDataFrame(
        [
            (1, t("2024-01-01T00:00:00")),  # == start → in (inclusive)
            (2, t("2024-01-03T00:00:00")),  # in overlap of w0 and w1
            (3, t("2024-01-05T00:00:00")),  # == w0 end → out (half-open), in w1
            (4, t("2024-02-01T00:00:00")),  # in no window
        ],
        "pid long, ts timestamp",
    )
    wins = spark.createDataFrame(
        [
            (0, t("2024-01-01T00:00:00"), t("2024-01-05T00:00:00")),
            (1, t("2024-01-02T00:00:00"), t("2024-01-07T00:00:00")),
        ],
        "wid long, w_start timestamp, w_end timestamp",
    )
    # small bucket → intervals span several buckets; matches must not dup
    out = range_join(pts, wins, "ts", "w_start", "w_end", bucket_seconds=3600)
    got = sorted((r["pid"], r["wid"]) for r in out.collect())
    assert got == [(1, 0), (2, 0), (2, 1), (3, 1)]


def test_prefix_join_preserves_duplicate_rows(spark):
    """Exactly-duplicate input rows must each produce an output row (the
    multi-match window ranks within a row key, not the full column tuple)."""
    tipos = spark.createDataFrame(
        [(1, "Dias úteis"), (2, "Dias")], "id_tipo_disp int, descricao_tipo_disp string"
    )
    answers = spark.createDataFrame(
        [("Dias úteis - manhã [9h]",), ("Dias úteis - manhã [9h]",), ("Outro",)],
        "orig string",
    )
    out = prefix_join(answers, tipos, "orig")
    assert out.count() == 3  # both duplicates survive
    matched = out.filter(F.col("orig").startswith("Dias")).collect()
    assert all(r["id_tipo_disp"] == 1 for r in matched)  # longest prefix wins
    assert out.filter(F.col("orig") == "Outro").collect()[0]["id_tipo_disp"] is None


def test_excel_workbook_roundtrip(spark, tmp_path):
    """S6 multi-sheet export + S2 ingest (etl_ui.py:2144-2159, 858-862):
    works with or without openpyxl — the stdlib zip+XML fallback writes a
    real workbook the reader (and Excel) can open."""
    from pyspark.sql import functions as F

    from fefal_etl_spark.sources.readers import read_excel
    from fefal_etl_spark.sources.writers import write_excel_workbook

    frames = {
        "valid": spark.range(3).select(
            F.col("id").alias("a"), F.concat(F.lit("x"), F.col("id")).alias("b")
        ),
        "duplicates": spark.range(2).select(F.col("id").alias("a")),
    }
    path = str(tmp_path / "review.xlsx")
    write_excel_workbook(frames, path)

    back = read_excel(spark, path, sheet_name="valid")
    assert back.columns == ["a", "b"]
    assert [tuple(r) for r in back.orderBy("a").collect()] == [
        ("0", "x0"), ("1", "x1"), ("2", "x2")
    ]
    dups = read_excel(spark, path, sheet_name=1)
    assert dups.count() == 2


def test_excel_dir_distributed_matches_single_reads(spark, tmp_path):
    """S2 distributed path: binaryFile + executor-side parse over a 3-file
    directory must equal the union of three driver-side single reads."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fefal_etl_spark.sources.readers import read_excel, read_excel_dir
    from fefal_etl_spark.sources.writers import write_excel_workbook

    expected = []
    for i in range(3):
        part = spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
        )
        write_excel_workbook({"data": part}, str(tmp_path / f"p{i}.xlsx"))
        expected.extend(
            tuple(r) for r in read_excel(
                spark, str(tmp_path / f"p{i}.xlsx"), sheet_name="data"
            ).collect()
        )

    got = read_excel_dir(spark, str(tmp_path), sheet_name="data")
    assert got.columns == ["k", "v"]
    assert sorted(tuple(r) for r in got.collect()) == sorted(expected)
    # executor-side parse, not driver: the plan is a MapInPandas over the
    # binaryFile scan with no collect
    assert "MapInPandas" in got._jdf.queryExecution().executedPlan().toString()

    # lineage column
    src = read_excel_dir(spark, str(tmp_path), sheet_name="data", with_source=True)
    assert src.columns == ["k", "v", "_source_file"]
    assert src.select("_source_file").distinct().count() == 3

    # explicit columns skip the probe; a mismatched workbook fails loudly
    write_excel_workbook(
        {"data": spark.range(1).select(F.col("id").alias("other"))},
        str(tmp_path / "bad.xlsx"),
    )
    with _pytest.raises(Exception, match="header"):
        read_excel_dir(
            spark, str(tmp_path), sheet_name="data", columns=["k", "v"]
        ).count()

    # duplicate column names would silently overwrite each other in the
    # name-keyed pandas build — must be rejected up front
    with _pytest.raises(ValueError, match="duplicate column"):
        read_excel_dir(
            spark, str(tmp_path), sheet_name="data", columns=["k", "k"]
        )


def test_excel_workbook_row_cap(spark, tmp_path):
    from fefal_etl_spark.sources.writers import write_excel_workbook

    big = spark.range(50).toDF("a")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_rows"):
        write_excel_workbook({"s": big}, str(tmp_path / "b.xlsx"), max_rows=10)


def test_connected_components_transitive_chain(spark):
    from fefal_etl_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        "src long, dst long",
    )
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    # 4-node chain collapses to min id even though 1-4 is 3 hops
    assert out[1] == out[2] == out[3] == out[4] == 1
    assert out[10] == out[11] == 10
    assert out[20] == 20

    # a NULL endpoint links nothing: the other endpoint is its own node,
    # and no output row has a NULL node
    edges = spark.createDataFrame(
        [(1, None), (None, 5), (None, None), (2, 3), (3, None)],
        "src int, dst int",
    )
    res = connected_components(edges)
    assert res.schema.simpleString() == "struct<node:int,component:int>"
    assert sorted(tuple(r) for r in res.collect()) == [
        (1, 1), (2, 2), (3, 2), (5, 5)
    ]

    # string ids keep their type; the component is the least id in
    # Spark's binary string order
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", None), ("é", "z")],
        "src string, dst string",
    )
    res = connected_components(edges)
    assert res.schema.simpleString() == "struct<node:string,component:string>"
    assert dict(tuple(r) for r in res.collect()) == {
        "a": "a", "b": "a", "c": "a", "x": "x", "z": "z", "é": "z"
    }


def test_connected_components_converges_past_old_fixed_rounds(spark):
    """A diameter-6 chain (under-merged by the old fixed four rounds of
    one-hop propagation: node 7 could not see label 1) must fully
    collapse — and a 40-node chain guards against any hop cap."""
    from fefal_etl_spark.llm.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 7)]  # 1-2-3-...-7, diameter 6
    edges = spark.createDataFrame(chain, "src long, dst long")
    conv = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert all(conv[n] == 1 for n in range(1, 8))

    long_chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "src long, dst long"
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(long_chain).collect()
    }
    assert all(v == 1 for v in out.values())


def test_scd2_merge_versions_and_idempotency(spark):
    from pyspark.sql import functions as F

    from fefal_etl_spark.operators.upsert import scd2_merge

    base = spark.createDataFrame(
        [
            (1, "A", "2020-01-01", None, True),
            (2, "B", "2020-01-01", None, True),
            (3, None, "2020-01-01", None, True),
        ],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "seg",
        F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
        F.col("valid_to").cast("timestamp_ntz").alias("valid_to"),
        "is_current",
    )
    snap = spark.createDataFrame(
        [(1, "A"), (2, "B2"), (3, "C"), (4, "D")], "k long, seg string"
    )
    merged = scd2_merge(base, snap, key="k", tracked=["seg"], load_ts="2021-06-01")
    rows = {(r["k"], r["is_current"]): r for r in merged.collect()}
    # unchanged key 1: still one open row
    assert rows[(1, True)]["seg"] == "A" and rows[(1, True)]["valid_to"] is None
    # changed key 2: old value closed, new value open
    assert rows[(2, False)]["seg"] == "B"
    assert rows[(2, True)]["seg"] == "B2"
    assert rows[(2, False)]["valid_to"] is not None
    # NULL -> value change versions too (null-safe detection)
    assert rows[(3, True)]["seg"] == "C"
    assert rows[(3, False)]["seg"] is None
    # brand-new key 4: open row
    assert rows[(4, True)]["seg"] == "D"
    # idempotent: merging the same snapshot again changes nothing
    again = scd2_merge(merged, snap, key="k", tracked=["seg"], load_ts="2022-01-01")
    assert again.count() == merged.count()
    assert again.filter(F.col("valid_from") == "2022-01-01").count() == 0

    # a duplicate key in the snapshot fails LOUDLY instead of fanning out
    # the full-outer join into a corrupted dimension (ADVICE r2)
    import pytest as _pytest

    dup_snap = spark.createDataFrame(
        [(2, "B2"), (2, "B3")], "k long, seg string"
    )
    with _pytest.raises(Exception, match="duplicate key"):
        scd2_merge(base, dup_snap, key="k", tracked=["seg"],
                   load_ts="2021-06-01").collect()
    # …and the guard can be waived when uniqueness is enforced upstream
    waived = scd2_merge(base, dup_snap.dropDuplicates(["k"]), key="k",
                        tracked=["seg"], load_ts="2021-06-01",
                        check_unique=False)
    assert waived.filter((F.col("k") == 2) & F.col("is_current")).count() == 1
    # NULL keys are exempt from the guard (they identify nothing, so two of
    # them are not "duplicates"): the merge must SUCCEED, with the NULL-keyed
    # update rows ignored per the documented key semantics
    null_snap = spark.createDataFrame(
        [(None, "X"), (None, "Y"), (1, "A")], "k long, seg string"
    )
    ok = scd2_merge(base, null_snap, key="k", tracked=["seg"],
                    load_ts="2021-06-01")
    assert ok.filter(F.col("k").isNull()).count() == 0  # ignored, no crash
    assert ok.filter((F.col("k") == 1) & F.col("is_current")).count() == 1


def test_pagerank_star_graph(spark):
    """On a star graph (everyone links to hub, hub links back), the hub
    must outrank the leaves, ranks must be positive, and the two-round
    values must match the hand-unrolled recurrence."""
    from fefal_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"),
         ("hub", "a"), ("hub", "b"), ("hub", "c")],
        "src string, dst string",
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iters=2).collect()}
    assert set(r) == {"a", "b", "c", "hub"}
    assert all(v > 0 for v in r.values())
    assert r["hub"] > r["a"] == r["b"] == r["c"]
    # hand-unrolled: N=4, r0=1/4; r1(hub)=0.15/4+0.85*3*(1/4)=0.675,
    # r1(leaf)=0.15/4+0.85*(1/4)/3; r2(leaf)=0.15/4+0.85*r1(hub)/3
    import math
    r1_hub = 0.15 / 4 + 0.85 * 3 * (0.25 / 1)
    assert math.isclose(r["a"], 0.15 / 4 + 0.85 * (r1_hub / 3), rel_tol=1e-12)


def test_apply_changelog_latest_wins_and_deletes(spark):
    from fefal_etl_spark.operators.upsert import apply_changelog

    changes = spark.createDataFrame(
        [
            (1, "I", 10, "a"),
            (1, "U", 20, "b"),     # latest for key 1 → survives as 'b'
            (2, "I", 10, "x"),
            (2, "D", 30, None),    # latest is delete → key 2 vanishes
            (2, "U", 20, "y"),
            (3, "D", 5, None),     # delete then re-insert → survives
            (3, "I", 6, "z"),
        ],
        "k long, op string, seq long, val string",
    )
    snap = {r["k"]: r for r in
            apply_changelog(changes, key="k", seq_cols=["seq"]).collect()}
    assert set(snap) == {1, 3}
    assert snap[1]["val"] == "b" and snap[1]["op"] == "U"
    assert snap[3]["val"] == "z"
    # incremental re-apply: yesterday's snapshot at seq -inf + new changes
    prior = apply_changelog(changes, key="k", seq_cols=["seq"]).withColumn(
        "seq", F.lit(-1).cast("long")
    )
    newer = spark.createDataFrame(
        [(1, "D", 100, None), (4, "I", 100, "new")],
        "k long, op string, seq long, val string",
    )
    snap2 = {r["k"]: r for r in apply_changelog(
        prior.unionByName(newer), key="k", seq_cols=["seq"]
    ).collect()}
    assert set(snap2) == {3, 4}


def test_quantize_embeddings_roundtrip_and_zero_vec(spark):
    from fefal_etl_spark.llm.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25]),
            (2, [0.0, 0.0, 0.0]),       # zero vector → scale 0, zero codes
            (3, [2.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in
            quantize_embeddings(df).collect()}
    assert rows[1]["scale"] == 127.0  # 127 / 1.0
    assert rows[1]["q"] == [64, -127, 32]  # round(0.5*127)=64 (HALF_UP)
    assert rows[2]["scale"] == 0.0 and rows[2]["q"] == [0, 0, 0]
    assert rows[3]["q"] == [127]
    # max|q| is always 127 for non-zero vectors (symmetric scheme)
    assert max(abs(v) for v in rows[1]["q"]) == 127


def test_zscores_by_group_exact_and_constant_group(spark):
    import math

    from fefal_etl_spark.functions.numeric import zscores_by_group

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 7), ("b", 7)],
        "g string, x long",
    )
    rows = zscores_by_group(df, value_col="x", group_col="g").collect()
    za = sorted(r["z"] for r in rows if r["g"] == "a")
    # population std of [1,2,3] = sqrt(2/3); z = (x-2)/sqrt(2/3)
    want = sorted((x - 2) / math.sqrt(2 / 3) for x in [1, 2, 3])
    assert all(abs(g - w) < 1e-12 for g, w in zip(za, want))
    # constant group → zero variance → z = 0, not NaN/null
    assert all(r["z"] == 0.0 for r in rows if r["g"] == "b")

    # NULL group keys must survive the stats join (null-safe), not vanish
    withnull = spark.createDataFrame(
        [(None, 1), (None, 3), ("a", 5)], "g string, x long"
    )
    out = zscores_by_group(withnull, value_col="x", group_col="g").collect()
    assert len(out) == 3
    nz = sorted(r["z"] for r in out if r["g"] is None)
    assert nz == [-1.0, 1.0]  # mean 2, pop std 1


def test_write_excel_dir_roundtrip_distributed(spark, tmp_path):
    """S6 distributed export → S2 distributed ingest round trip: one
    workbook per segment written from executors, read back with
    read_excel_dir, content identical to the source."""
    import os

    from pyspark.sql import functions as F

    from fefal_etl_spark.sources.readers import read_excel_dir
    from fefal_etl_spark.sources.writers import write_excel_dir

    df = spark.createDataFrame(
        [(i, "seg%d" % (i % 3), "v/%d" % i) for i in range(30)],
        "k long, seg string, v string",
    )
    out_dir = str(tmp_path / "xl")
    manifest = {r["partition"]: r for r in
                write_excel_dir(df, out_dir, "seg").collect()}
    assert set(manifest) == {"seg0", "seg1", "seg2"}
    assert all(r["n_rows"] == 10 for r in manifest.values())
    assert all(os.path.exists(r["path"]) for r in manifest.values())
    # the export runs on executors (grouped Arrow hook), not the driver
    plan = write_excel_dir(df, out_dir, "seg")._jdf.queryExecution()
    assert "FlatMapGroupsInPandas" in plan.executedPlan().toString()

    back = read_excel_dir(spark, out_dir, sheet_name="data")
    got = sorted((r["k"], r["seg"], r["v"]) for r in back.collect())
    want = sorted((str(r["k"]), r["seg"], r["v"]) for r in df.collect())
    assert got == want

    # oversized partition fails loudly, never a silently broken workbook
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_rows_per_file"):
        write_excel_dir(df, out_dir, "seg", max_rows_per_file=5).collect()


def test_zorder_key_matches_python_interleave(spark):
    from pyspark.sql import functions as F

    from fefal_etl_spark.operators.layout import zorder_key

    def morton(a, b, bits=16):
        z = 0
        for k in range(bits):
            z += ((a >> k) & 1) << (2 * k)
            z += ((b >> k) & 1) << (2 * k + 1)
        return z

    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (7, 42)]
    df = spark.createDataFrame(rows, ["a", "b"]).withColumn(
        "z", zorder_key(F.col("a"), F.col("b"))
    )
    for r in df.collect():
        assert r["z"] == morton(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_write_layout_shrinks_per_file_spans(spark, tmp_path):
    from pyspark.sql import functions as F

    from fefal_etl_spark.operators.layout import zorder_key

    # two independent uniform dimensions: a naive single-column sort leaves
    # the other dimension's per-file span at ~full range; z-order bounds both
    n, files = 4096, 16
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 4096).alias("a"),
        (F.col("id") * 40503 % 4096).alias("b"),
    )
    out = str(tmp_path / "zordered")
    (
        df.withColumn("z", zorder_key(F.col("a"), F.col("b"), bits=12))
        .repartitionByRange(files, "z")
        .sortWithinPartitions("z")
        .write.parquet(out)
    )
    spans = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("a") - F.min("a")).alias("sa"),
            (F.max("b") - F.min("b")).alias("sb"),
        )
        .collect()
    )
    assert len(spans) == files
    mean_sa = sum(r["sa"] for r in spans) / len(spans)
    mean_sb = sum(r["sb"] for r in spans) / len(spans)
    # global span is 4095 in each dimension; z-bands bound BOTH dimensions
    # (16 files = 4 leading z-bits = each dim quartered, plus range-boundary
    # straddle) — the property a single-column sort cannot deliver
    assert mean_sa < 4095 * 0.6 and mean_sb < 4095 * 0.6, (mean_sa, mean_sb)


def test_profile_columns_counts_and_minmax(spark):
    from fefal_etl_spark.operators.quality import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (10, "a")], ["k", "s"]
    )
    out = {r["col_name"]: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 0
    assert out["k"]["n_distinct"] == 3
    # min/max computed in the column's type, THEN rendered (not "10" < "2")
    assert out["k"]["min_val"] == "1" and out["k"]["max_val"] == "10"
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2


def test_dq_checks_null_counts_as_violation(spark):
    from pyspark.sql import functions as F

    from fefal_etl_spark.operators.quality import dq_checks, uniqueness_violations

    df = spark.createDataFrame(
        [(1.0,), (None,), (-3.0,), (2.0,)], "x double"
    )
    out = {r["check"]: r for r in dq_checks(df, {"x_pos": F.col("x") > 0}).collect()}
    # -3 fails, NULL is unknown -> must count as a violation too
    assert out["x_pos"]["n_rows"] == 4 and out["x_pos"]["n_violations"] == 2

    dup = spark.createDataFrame([(1, 1), (1, 1), (1, 2), (2, 1)], ["a", "b"])
    u = uniqueness_violations(dup, ["a", "b"]).collect()[0]
    assert u["n_rows"] == 4 and u["n_distinct_keys"] == 3 and u["n_violations"] == 1


def test_token_diversity_degenerate_vs_varied(spark):
    import math

    from fefal_etl_spark.llm.text_analysis import token_diversity

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "one two three four")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in token_diversity(df).collect()}
    assert out[1]["n_types"] == 1 and out[1]["entropy"] == 0.0
    assert out[1]["ttr"] == 0.25
    assert out[2]["ttr"] == 1.0
    assert abs(out[2]["entropy"] - round(math.log2(4), 6)) < 1e-9


def test_heavy_hitters_ranks_planted_skew(spark):
    from fefal_etl_spark.operators.skew import heavy_hitters

    rows = [(1,)] * 50 + [(2,)] * 30 + [(k,) for k in range(10, 30)]
    df = spark.createDataFrame(rows, ["k"])
    out = heavy_hitters(df, "k", top_n=3).collect()
    assert [r["k"] for r in out] == [1, 2, 10]  # ties broken by key asc
    assert out[0]["n_rows"] == 50 and abs(out[0]["frac"] - 0.5) < 1e-12
    assert [r["rank"] for r in out] == [1, 2, 3]


def test_merge_aggregates_equals_recompute_and_rejects_avg(spark):
    import pytest
    from pyspark.sql import functions as F

    from fefal_etl_spark.operators.upsert import merge_aggregates

    rows = [("a", i, float(i)) for i in range(10)] + [("b", 100, 5.0)]
    df = spark.createDataFrame(rows, ["g", "k", "v"])

    def roll(d):
        return d.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
            F.min("k").cast("long").alias("mn"),
        )

    merged = merge_aggregates(
        roll(df.filter(F.col("k") < 5)),
        roll(df.filter(F.col("k") >= 5)),
        keys=["g"],
        merge_fns={"n": "sum", "s": "sum", "mn": "min"},
    )
    want = {tuple(r) for r in roll(df).collect()}
    got = {tuple(r) for r in merged.collect()}
    assert got == want  # merge == full recompute, incl. 'b' on one side only
    with pytest.raises(ValueError, match="non-mergeable"):
        merge_aggregates(roll(df), roll(df), ["g"], {"n": "avg"})


def test_dq_checks_empty_input_reports_zero_not_null(spark):
    from pyspark.sql import functions as F

    from fefal_etl_spark.operators.quality import dq_checks, uniqueness_violations

    empty = spark.createDataFrame([], "x double")
    row = dq_checks(empty, {"x_pos": F.col("x") > 0}).collect()[0]
    assert row["n_rows"] == 0 and row["n_violations"] == 0  # not None
    u = uniqueness_violations(empty.select(F.col("x").alias("k")), ["k"]).collect()[0]
    assert u["n_rows"] == 0 and u["n_violations"] == 0


def test_equi_width_histogram_exact_buckets(spark):
    from fefal_etl_spark.operators.quality import equi_width_histogram

    # values 0.00..0.99 in cents = 0..99; 10 buckets of exactly 10 each
    df = spark.range(0, 100).select((F.col("id") / 100.0).alias("x"))
    out = {r["bucket"]: r for r in
           equi_width_histogram(df, "x", buckets=10, scale=100).collect()}
    assert sorted(out) == list(range(10))
    for b, r in out.items():
        assert r["n"] == 10
        assert (r["lo_units"], r["hi_units"]) == (b * 10, b * 10 + 9)
    # constant column degenerates to one bucket, no divide-by-zero
    one = spark.createDataFrame([(5.0,), (5.0,)], "x double")
    rows = equi_width_histogram(one, "x", buckets=10).collect()
    assert len(rows) == 1 and rows[0]["bucket"] == 0 and rows[0]["n"] == 2


def test_triangle_counts_oriented_enumeration(spark):
    from fefal_etl_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5 + a
    # duplicate and a reversed edge that canonicalization must absorb
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (3, 4), (4, 5)],
        "src long, dst long",
    )
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}  # pendant 5 absent
    # two triangles sharing an edge: counts 1,2,2,1
    edges2 = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    out2 = {r["node"]: r["n_triangles"] for r in triangle_counts(edges2).collect()}
    assert out2 == {1: 1, 2: 2, 3: 2, 4: 1}


def test_events_interpolate_fills_gap_linearly(spark):
    """Planted series: hours 0,3 observed (v=1.0, 4.0) → hours 1,2 must
    interpolate to 2.0, 3.0; edges copy the nearest observation."""
    import datetime

    import __spark_entry__ as entry

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 30), 9, "a", 1.0, "{}"),
        (2, datetime.datetime(2024, 1, 1, 3, 10), 9, "a", 4.0, "{}"),
        (3, datetime.datetime(2024, 1, 1, 1, 0), 9, "b", 7.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = entry.queries()["events_interpolate"](spark, d).collect()
    got = {(r["hour"].hour, r["event_type"]): (r["v_interp"], r["was_gap"]) for r in out}
    assert got[(0, "a")] == (1.0, False)
    assert got[(1, "a")] == (2.0, True)
    assert got[(2, "a")] == (3.0, True)
    assert got[(3, "a")] == (4.0, False)
    # type b observed only at hour 1: nearest-side fill everywhere
    assert got[(0, "b")] == (7.0, True)
    assert got[(1, "b")] == (7.0, False)
    assert got[(3, "b")] == (7.0, True)


def test_merge_into_clause_semantics(spark):
    from fefal_etl_spark.operators.upsert import merge_into

    target = spark.createDataFrame(
        [(1, 10.0, "keep"), (2, 20.0, "upd"), (3, 30.0, "del")],
        "k long, v double, tag string",
    )
    source = spark.createDataFrame(
        [(2, 99.0, "upd"), (3, 0.0, "DELETE"), (4, 40.0, "new")],
        "k long, v double, tag string",
    )
    out = {
        r["k"]: r
        for r in merge_into(
            target,
            source,
            on=["k"],
            delete_condition=F.col("tag") == "DELETE",
        ).collect()
    }
    assert set(out) == {1, 2, 4}        # 3 deleted
    assert out[1]["v"] == 10.0           # target-only passthrough
    assert out[2]["v"] == 99.0           # matched update
    assert out[4]["v"] == 40.0           # not-matched insert
    # insert=False drops the source-only row instead
    out2 = {
        r["k"]
        for r in merge_into(target, source, on=["k"], insert=False).collect()
    }
    assert out2 == {1, 2, 3}


def test_merge_into_duplicate_source_key_fails_loudly(spark):
    import pytest as _pytest

    from fefal_etl_spark.operators.upsert import merge_into

    target = spark.createDataFrame([(1, 1.0)], "k long, v double")
    dup = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k long, v double")
    with _pytest.raises(Exception, match="duplicate key"):
        merge_into(target, dup, on=["k"]).collect()


def test_asof_forward_and_tolerance(spark):
    import datetime as dt

    from fefal_etl_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(seconds=100))],
        "id long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(1, t0, 7.0), (1, t0 + dt.timedelta(seconds=50), 8.0)],
        "id long, ts timestamp_ntz, x double",
    )
    left = left.withColumn("id", F.lit(1))
    fwd = {
        r["ts"]: (r["right_x"], r["right_ts"])
        for r in asof_join(
            left, right, on="id", direction="forward"
        ).collect()
    }
    # equal-timestamp right row is matched inclusively
    assert fwd[t0] == (7.0, t0)
    # no following right row → NULL match
    assert fwd[t0 + dt.timedelta(seconds=100)] == (None, None)
    # tolerance gates out a too-distant backward match
    tol = {
        r["ts"]: r["right_x"]
        for r in asof_join(
            left, right, on="id", direction="backward", tolerance_seconds=10
        ).collect()
    }
    assert tol[t0] == 7.0                              # exact hit within 10s
    assert tol[t0 + dt.timedelta(seconds=100)] is None  # 50s gap > 10s tol


def test_hybrid_skew_join_equals_plain_join(spark):
    from fefal_etl_spark.operators.skew import hybrid_skew_join

    # 80% of probe rows share key 1; keys 500+ never match
    probe = spark.range(2000).select(
        F.when(F.col("id") % 5 != 0, F.lit(1))
        .otherwise(F.col("id") + 400)
        .alias("k"),
        F.col("id").alias("v"),
    )
    build = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    for how in ("inner", "left"):
        plain = probe.join(build, "k", how).select("k", "v", "w")
        hybrid = hybrid_skew_join(probe, build, "k", how=how).select(
            "k", "v", "w"
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, hybrid.collect())
        ), how
    # the hot slice really broadcasts: plan contains a BroadcastHashJoin
    # AND the cold path keeps a non-broadcast join
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        hybrid_skew_join(probe, build, "k").explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_asof_match_is_row_atomic_with_null_payload(spark):
    """Regression (code-review confirmed bug): a right row whose payload
    column is NULL must NOT have its timestamp paired with a later row's
    payload value — the match is one row, taken or not taken atomically."""
    import datetime as dt

    from fefal_etl_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t0)], "id long, ts timestamp_ntz")
    right = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=10), None),
         (1, t0 + dt.timedelta(seconds=100), 5.0)],
        "id long, ts timestamp_ntz, x double",
    )
    # forward + 30s tolerance: nearest row is +10s (within tolerance, x NULL);
    # the old per-column fill leaked x=5.0 from the +100s row
    row = asof_join(
        left, right, on="id", direction="forward", tolerance_seconds=30
    ).collect()[0]
    assert row["right_ts"] == t0 + dt.timedelta(seconds=10)
    assert row["right_x"] is None
    # backward direction, same atomicity: latest row at-or-before is taken
    # whole even when its payload is NULL
    left2 = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=20))], "id long, ts timestamp_ntz"
    )
    row2 = asof_join(left2, right, on="id", direction="backward").collect()[0]
    assert row2["right_ts"] == t0 + dt.timedelta(seconds=10)
    assert row2["right_x"] is None


def test_cdc_extract_roundtrip_reconstructs_target(spark):
    """The changelog extracted by diffing snapshots A→B, applied onto A as
    a latest-wins event stream, must reconstruct B exactly (the docstring's
    round-trip contract for `cdc_extract`)."""
    import __spark_entry__ as entry

    from fefal_etl_spark.operators.upsert import apply_changelog

    sf = "/root/testdata/sf0.001"
    changes = entry.queries()["cdc_extract"](spark, sf)

    from fefal_etl_spark.datasets import load_table

    orders = load_table(spark, sf, "orders")
    a = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    bumped = F.round(
        F.col("o_totalprice").cast("decimal(18,2)")
        + F.lit("1.00").cast("decimal(18,2)"),
        2,
    ).cast("double")
    b = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, bumped)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    # A as synthetic upserts at seq 0, the changelog at seq 1 → latest wins
    stream = a.select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.col("o_totalprice").alias("new_price"),
        F.col("o_orderstatus").alias("new_status"),
        F.lit(0).alias("seq"),
    ).unionByName(
        changes.select(
            "o_orderkey", "op", "new_price", "new_status", F.lit(1).alias("seq")
        )
    )
    rebuilt = apply_changelog(stream, "o_orderkey", ["seq"]).select(
        "o_orderkey",
        F.col("new_price").alias("o_totalprice"),
        F.col("new_status").alias("o_orderstatus"),
    )
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, b.collect())
    )
