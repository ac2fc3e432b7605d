"""End-to-end pipeline + star-schema tests on the FIXTURES.md survey shape
(all five column groups, every reference branch exercised)."""

import os

import pytest
from pyspark.sql import functions as F

from fefal_etl_spark.datasets import DEFAULT_SF_DIR
from fefal_etl_spark.plans.config import GroupSpec, PipelineConfig
from fefal_etl_spark.plans.pipeline import run_pipeline
from fefal_etl_spark.plans.star import build_star

# the smallest generated TPC-H-style scale, beside the default one
SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

COLS = [
    # identificacao (1-8)
    "Nome da Entidade", "Tipo de Entidade", "Responsável", "Existe responsável?",
    "Percentagem preenchida", "Data de início", "Data de fim", "Data de submissão",
    # formacoes (9-10)
    "Quantos formandos? [Excel Avançado]", "Formação sem brackets",
    # interesses (11-13)
    "Gestão", "Gestão[comentario]", "Finanças",
    # disponibilidade (14-15)
    "Presencial - [Manhã]", "Online - [Pós-laboral]",
    # tipo de ensino (16)
    "Prefere e-learning (1-5)",
]

ROWS = [
    # valid, full data, numeric comment overrides Gestão formandos
    ("Município de Aveiro", "CM", "Ana", "Sim", "80",
     "2024-01-01 10:00:00", "2024-01-01 10:30:00", None,
     "5", "3", "Sim", "12", "Não", "Sim", "Não", "4"),
    # duplicate of Aveiro with higher pct → becomes the valid one
    ("Camara Municipal de Aveiro", "CM", "Rui", "Não", "90",
     "2024-01-01 09:00:00", "2024-01-01 08:00:00", "2024-01-02 12:00:00",
     "garbage", "-2", "Não", "Bom. Gostámos!", "Sim", "talvez", "Sim", "x"),
    # unmatched entity
    ("Entidade Fantasma", "CM", None, "talvez", "-5",
     "bad-date", "2024-01-01 10:00:00", None,
     "2", "0", "Sim", None, None, "Não", "Sim", "2"),
    # blank name
    ("nd", "CM", None, None, "50",
     None, None, None, "1", "1", "Não", "7", "Não", "Sim", "Sim", "5"),
    # valid, Braga
    ("Freguesia de Braga", "Junta", "Eva", "Sim", "100",
     "2024-01-01 10:00:00", "2024-01-01 11:00:00", None,
     "0", "2", "Sim", "Interessante. Queremos mais!", "Sim", "Sim", "-1", "3"),
]


def _config(year: int = 2025) -> PipelineConfig:
    return PipelineConfig(
        year=year,
        groups={
            "identificacao": GroupSpec(1, 8),
            "formacoes": GroupSpec(9, 10),
            "interesses": GroupSpec(11, 13),
            "disponibilidade": GroupSpec(14, 15),
            "tipo de ensino": GroupSpec(16, 16),
        },
        rename_map={
            "Nome da Entidade": "nome_entidade",
            "Tipo de Entidade": "tipo_entidade",
            "Responsável": "nome_responsavel",
            "Existe responsável?": "existe_responsavel",
            "Percentagem preenchida": "percentagem_preenchido",
            "Data de início": "data_inicio",
            "Data de fim": "data_fim",
            "Data de submissão": "data_submissao",
        },
        entity_type_map={"CM": "Municípios", "Junta": "Freguesias"},
    )


@pytest.fixture(scope="module")
def config():
    return _config()


def _survey(spark, cols=COLS, rows=ROWS):
    return spark.createDataFrame(
        [tuple(r) for r in rows], ", ".join(f"`{c}` string" for c in cols)
    )


def _tipos(spark):
    return spark.createDataFrame(
        [(1, "Presencial"), (2, "Online")],
        "id_tipo_disp int, descricao_tipo_disp string",
    )


REGISTRY_ROWS = [(1, "Aveiro", "Municípios"), (2, "Braga", "Freguesias")]
REGISTRY_SCHEMA = "id_entidades int, ent_nome string, ent_tipo string"


@pytest.fixture(scope="module")
def fixtures(spark, config):
    survey = _survey(spark)
    registry = spark.createDataFrame(REGISTRY_ROWS, REGISTRY_SCHEMA)
    tipos = _tipos(spark)
    result = run_pipeline(survey, registry, config)
    star = build_star(result, tipos_disponibilidades=tipos, key_mode="sequential")
    return result, star


def test_status_invariant(fixtures):
    result, _ = fixtures
    counts = {r["status"]: r["n"] for r in
              result.frame.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == len(ROWS)  # etl_ui.py:1986
    assert counts == {"valid": 2, "duplicate": 1, "unmatched": 1, "blank_name": 1}


def test_best_record_wins(fixtures):
    result, _ = fixtures
    valid = {r["nome_entidade"]: r for r in result.valid.collect()}
    # pct 90 row beats pct 80 row for Aveiro (W2 best-record semantics)
    assert "Camara Municipal de Aveiro" in valid
    dup = result.duplicate.collect()[0]
    assert dup["nome_entidade"] == "Município de Aveiro"


def test_fact_inquerito(fixtures):
    result, star = fixtures
    facts = {r["id_entidade"]: r for r in star["fact_inquerito"].collect()}
    assert set(facts) == {1, 2}
    aveiro, braga = facts[1], facts[2]
    # pct rescaled by global max (100): 90 → 90
    assert aveiro["percentagem_preenchido"] == 90
    assert braga["percentagem_preenchido"] == 100
    # duration: fim < inicio → NULL for Aveiro-90 row; 3600 s for Braga
    assert aveiro["tempo_realizacao"] is None
    assert braga["tempo_realizacao"] == 3600
    # existe_responsavel: 'Não' → 0, 'Sim' → 1 (F10)
    assert aveiro["existe_responsavel"] == 0
    assert braga["existe_responsavel"] == 1
    # data_submissao coalesces to data_fim when missing (F14)
    assert aveiro["data_submissao"] == "2024-01-02"
    assert braga["data_submissao"] == "2024-01-01"
    assert aveiro["ano"] == 2025


def test_formations(fixtures):
    _, star = fixtures
    dim = {r["nome_formacao"]: r["id_formacao"] for r in star["dim_formacao"].collect()}
    assert set(dim) == {"excel avancado", "formacao sem brackets"}
    fact = star["fact_resposta_formacao"]
    rows = fact.join(star["dim_formacao"], "id_formacao").collect()
    got = {(r["id_inquerito"] is not None, r["nome_formacao"], r["n_formandos"])
           for r in rows}
    # valid rows only: Aveiro-90 (garbage→0, -2→0), Braga (0, 2); zeros kept
    vals = sorted((r["nome_formacao"], r["n_formandos"]) for r in rows)
    assert vals == [
        ("excel avancado", 0), ("excel avancado", 0),
        ("formacao sem brackets", 0), ("formacao sem brackets", 2),
    ]


def test_interests_comment_override_and_comments(fixtures):
    _, star = fixtures
    fact = star["fact_resposta_interesse"].join(
        star["dim_area_tematica"], "id_interesse"
    ).collect()
    got = {(r["nome_area"], r["n_formandos"]) for r in fact}
    # Aveiro-90: gestao='Não'→0 → no row; financas='Sim'→1 → row
    # Braga: gestao='Sim'→1 with text comment (no override), financas 'Sim'→1
    assert got == {("financas", 1), ("gestao", 1)}
    comments = star["comentario"].collect()
    texts = sorted(c["texto_comentario"] for c in comments)
    assert texts == ["Interessante.", "Queremos mais!"]
    # comment rows reference an existing fact key
    fact_keys = {r["id_resposta_interesse"] for r in fact}
    assert all(c["id_resposta_interesse"] in fact_keys for c in comments)


def test_availability(fixtures):
    _, star = fixtures
    dim = {(r["descricao_horario"], r["id_tipo_disp"]): r["id_horario"]
           for r in star["dim_disponibilidade_horaria"].collect()}
    assert set(dim) == {("Manhã", 1), ("Pós-laboral", 2)}
    fact = star["fact_resposta_disponibilidade"].join(
        star["dim_disponibilidade_horaria"], "id_horario"
    ).collect()
    got = sorted((r["descricao_horario"], r["tem_disponibilidade"]) for r in fact)
    # Aveiro-90: talvez→-1, Sim→1; Braga: Sim→1, -1→-1 (tri-state F9)
    assert got == [("Manhã", -1), ("Manhã", 1), ("Pós-laboral", -1), ("Pós-laboral", 1)]


def test_preferences(fixtures):
    _, star = fixtures
    fact = star["fact_resposta_preferencia"].join(
        star["dim_preferencia_ensino"], "id_preferencia"
    ).collect()
    vals = sorted(r["valor_preferencia"] for r in fact)
    # Aveiro-90 'x' → coerce NULL → dropped; Braga '3' → 3
    assert vals == [3]
    assert fact[0]["descricao_preferencia"] == "prefere e-learning (1-5)"


def test_group_validation(config):
    assert config.validate(16) == []
    bad = PipelineConfig(
        year=1, groups={"a": GroupSpec(1, 5), "b": GroupSpec(4, 8)}
    )
    assert any("overlap" in p for p in bad.validate(8))
    oob = PipelineConfig(year=1, groups={"a": GroupSpec(0, 5)})
    assert any("invalid" in p for p in oob.validate(8))


def test_star_without_tipos_keeps_availability_facts(spark, config, fixtures):
    # id_tipo_disp is NULL everywhere when no tipos dim is supplied; the
    # null-safe dim join must still produce every availability fact row.
    result, star_with = fixtures
    star_without = build_star(result, tipos_disponibilidades=None,
                              key_mode="sequential")
    n_with = star_with["fact_resposta_disponibilidade"].count()
    n_without = star_without["fact_resposta_disponibilidade"].count()
    assert n_with > 0
    assert n_without == n_with
    assert (
        star_without["dim_disponibilidade_horaria"]
        .filter(F.col("id_tipo_disp").isNull()).count() > 0
    )


def test_upsert_idempotent_with_null_keys(spark):
    from fefal_etl_spark.operators.upsert import upsert_dim_sequential

    inc = spark.createDataFrame(
        [("manha", 1), ("tarde", None), ("noite", None)],
        "descricao string, tipo int",
    )
    first = upsert_dim_sequential(None, inc, ["descricao", "tipo"], "id")
    again = upsert_dim_sequential(first, inc, ["descricao", "tipo"], "id")
    # re-loading the same input must not re-insert the NULL-keyed rows
    assert again.count() == first.count() == 3
    assert sorted(r["id"] for r in again.collect()) == sorted(
        r["id"] for r in first.collect()
    )


def test_shared_cache_keyed_by_application_id(spark):
    """Two-sequential-sessions simulation (VERDICT r2 item 5): entries keyed
    by a DEAD application id must be evicted (their star frames unpersisted,
    their classified frame's checkpoint released) the first time a new
    application populates the cache — id(spark) reuse after GC can no
    longer serve a stale persisted frame."""
    from types import SimpleNamespace

    from fefal_etl_spark import cache
    from fefal_etl_spark.cache import keep_checkpoint, local_checkpoint
    from fefal_etl_spark.plans import queries as pq

    pq.release_pipeline_cache()
    app_id = spark.sparkContext.applicationId

    def entries(app):
        return cache._MEMO.get(app, {}).get("pipeline", {})

    def plant(app, key, entry):
        cache._MEMO.setdefault(app, {}).setdefault("pipeline", {})[key] = (
            None,
            entry,
            pq._drop_pipeline_entry,
        )

    released = []
    # entries own their checkpoints, as _shared's do
    dead_frame = keep_checkpoint(local_checkpoint(spark.range(3)))
    dead_star = SimpleNamespace(unpersist=lambda: released.append("star"))
    plant(
        "dead-app-123",
        "/some/sf",
        (SimpleNamespace(frame=dead_frame), {"fact": dead_star}),
    )
    live_frame = keep_checkpoint(local_checkpoint(spark.range(4)))
    live_star = SimpleNamespace(unpersist=lambda: released.append("live"))
    live_key = "/other/sf"
    plant(app_id, live_key, (SimpleNamespace(frame=live_frame), {"fact": live_star}))

    try:
        res, star = pq._shared(spark, SF_DIR)
        # the dead application's entry is gone and released ...
        assert "/some/sf" not in entries("dead-app-123")
        assert released == ["star"]
        assert not _blocks_held(dead_frame)
        # ... the live application's are intact, and the fresh entry is keyed
        # by the real application id
        assert entries(app_id)[live_key][1][1]["fact"] is live_star
        assert _blocks_held(live_frame) and live_frame.count() == 4
        assert (
            os.path.abspath(SF_DIR),
            False,
            pq._cfg_fingerprint(pq._config()),
        ) in entries(app_id)
        # a second lookup is a pure cache hit (same objects back)
        res2, star2 = pq._shared(spark, SF_DIR)
        assert res2 is res and star2 is star
    finally:
        pq.release_pipeline_cache()
    # the release drops the live entry too: star frame and checkpoint
    assert released == ["star", "live"]
    assert not _blocks_held(live_frame)


def _blocks_held(df) -> bool:
    return df._jdf.logicalPlan().rdd().getStorageLevel().useDisk()


def test_pipeline_query_runs_again_after_cache_release(spark):
    """A memoized pipeline query must not hand back a plan over the
    checkpoint release_pipeline_cache just freed: the second call
    rebuilds and collects the same rows."""
    from fefal_etl_spark.plans import queries as pq
    from fefal_etl_spark.queries import get_queries

    queries = get_queries()
    pq.release_pipeline_cache()
    try:
        # the fact query has no shuffle whose files could mask a freed
        # checkpoint
        for name in ("pipeline_status_accounting", "pipeline_fact_inquerito"):
            first = sorted(queries[name](spark, SF_DIR).collect())
            pq.release_pipeline_cache()
            assert sorted(queries[name](spark, SF_DIR).collect()) == first, name
    finally:
        pq.release_pipeline_cache()


def test_wave_release_keeps_shared_entry_readable(spark):
    """release_star_cache() after a wave frees that wave's checkpoint only:
    the pipeline query cache owns its entry's checkpoint, so a later
    cache hit still reads."""
    from fefal_etl_spark.plans import queries as pq
    from fefal_etl_spark.plans.star import release_star_cache

    pq.release_pipeline_cache()
    try:
        res, star = pq._shared(spark, SF_DIR)
        n = star["fact_inquerito"].count()
        release_star_cache()
        res2, star2 = pq._shared(spark, SF_DIR)
        assert res2 is res and _blocks_held(res.frame)
        assert res2.frame.count() > 0
        star2["fact_inquerito"].unpersist()  # re-read through the checkpoint
        assert star2["fact_inquerito"].count() == n
    finally:
        pq.release_pipeline_cache()


def test_wave_release_leaves_other_threads_waves(spark):
    """A wave's checkpoint belongs to the thread that ran it: another
    thread's release_star_cache() must not free it mid-commit."""
    import threading

    from fefal_etl_spark.cache import local_checkpoint
    from fefal_etl_spark.plans.star import release_star_cache

    mine = local_checkpoint(spark.range(5))
    other = threading.Thread(target=release_star_cache)
    other.start()
    other.join()
    try:
        assert _blocks_held(mine) and mine.count() == 5
    finally:
        release_star_cache()
    assert not _blocks_held(mine)


# a second yearly wave: one formation, one interest and one availability
# header are new, so every dimension gains rows on the re-load
COLS_W2 = [
    "Quantos formandos? [Liderança]" if c == "Formação sem brackets"
    else "Marketing" if c == "Finanças"
    else "Presencial - [Tarde]" if c == "Presencial - [Manhã]"
    else c
    for c in COLS
]
ROWS_W2 = [
    ("Município de Aveiro", "CM", "Ana", "Sim", "70",
     "2025-01-01 10:00:00", "2025-01-01 10:20:00", None,
     "4", "6", "Sim", "3", "Sim", "Sim", "Sim", "5"),
    ("Freguesia de Braga", "Junta", None, "Não", "100",
     "2025-01-01 10:00:00", "2025-01-01 10:05:00", None,
     "1", "x", "Não", "Ótimo. Mais sessões!", "Sim", "Não", "Sim", "2"),
    ("Junta de Braga", "Junta", None, "Sim", "40",
     None, None, None, "9", "9", "Sim", None, "Sim", "Sim", "Sim", "1"),
    ("sem dados", "CM", None, None, "10",
     None, None, None, "1", "1", "Sim", None, "Não", "Sim", "Sim", "1"),
]
DIM_IDS = {
    "dim_formacao": "id_formacao",
    "dim_grupo_formacao": "id_grupo_formacao",
    "dim_area_tematica": "id_interesse",
    "dim_preferencia_ensino": "id_preferencia",
    "dim_disponibilidade_horaria": "id_horario",
}
# per-run surrogate keys of the ingest rows; compared through the facts'
# other columns instead
ROW_IDS = {"id_inquerito", "id_resposta_interesse"}


def _two_wave_load(spark, root: str) -> dict:
    """Load two waves into one TransactionalTable per star table (dims
    merged from the second wave on, facts and rejected rows appended) and
    return every committed table's rows plus each wave's status counts."""
    from fefal_etl_spark.plans.star import release_star_cache
    from fefal_etl_spark.table import TransactionalTable

    registry = spark.createDataFrame(REGISTRY_ROWS, REGISTRY_SCHEMA)
    tipos = _tipos(spark)
    tables: dict = {}
    status = {}
    for year, cols, rows in ((2025, COLS, ROWS), (2026, COLS_W2, ROWS_W2)):
        res = run_pipeline(_survey(spark, cols, rows), registry, _config(year))
        existing = {n: tables[n].read() for n in DIM_IDS if n in tables}
        star = build_star(res, existing_dims=existing, tipos_disponibilidades=tipos)
        star["rejeitados"] = res.frame.filter(F.col("status") != "valid").select(
            "ano", "status", "nome_entidade", "id_entidade"
        )
        for name, df in star.items():
            if name in existing:
                tables[name].merge(df, keys=[DIM_IDS[name]])
            else:
                tables.setdefault(
                    name, TransactionalTable(spark, f"{root}/{name}")
                ).append(df)
        status[year] = {
            r["status"]: r["count"]
            for r in res.frame.groupBy("status").count().collect()
        }
        release_star_cache()
    out = {"status": status}
    for name, t in sorted(tables.items()):
        df = t.read()
        cols = sorted(c for c in df.columns if c not in ROW_IDS)
        out[name] = sorted(
            [[str(v) for v in r] for r in df.select(*cols).collect()]
        )
    return out


# The two-wave load as the lazy build (persisted valid branch,
# Python-pickled lookup frames, dims recomputed per consumer) committed it.
TWO_WAVE = {
    "status": {
        2025: {"blank_name": 1, "duplicate": 1, "unmatched": 1, "valid": 2},
        2026: {"blank_name": 1, "unmatched": 1, "valid": 2},
    },
    "comentario": [["Interessante."], ["Queremos mais!"]],
    "dim_area_tematica": [["1", "financas"], ["2", "gestao"], ["3", "marketing"]],
    "dim_disponibilidade_horaria": [
        ["Manhã", "1", "1"], ["Pós-laboral", "2", "2"], ["Tarde", "3", "1"],
    ],
    "dim_formacao": [
        ["1", "None", "None", "excel avancado"],
        ["2", "None", "None", "formacao sem brackets"],
        ["3", "None", "None", "lideranca"],
    ],
    "dim_grupo_formacao": [],
    "dim_preferencia_ensino": [["prefere e-learning (1-5)", "1"]],
    "fact_inquerito": [
        ["2025", "2024-01-01", "1", "2", "Eva", "100", "3600"],
        ["2025", "2024-01-02", "0", "1", "Rui", "90", "None"],
        ["2026", "2025-01-01", "0", "2", "None", "100", "300"],
        ["2026", "2025-01-01", "1", "1", "Ana", "70", "1200"],
    ],
    "fact_resposta_disponibilidade": [
        ["1", "-1"], ["1", "1"], ["2", "-1"], ["2", "1"],
        ["2", "1"], ["2", "1"], ["3", "0"], ["3", "1"],
    ],
    "fact_resposta_formacao": [
        ["1", "0"], ["1", "0"], ["1", "1"], ["1", "4"],
        ["2", "0"], ["2", "2"], ["3", "0"], ["3", "6"],
    ],
    "fact_resposta_interesse": [
        ["1", "1", "1"], ["1", "1", "1"], ["2", "1", "1"],
        ["2", "3", "1"], ["3", "1", "1"], ["3", "1", "1"],
    ],
    "fact_resposta_preferencia": [["1", "2"], ["1", "3"], ["1", "5"]],
    "rejeitados": [
        ["2025", "1", "Município de Aveiro", "duplicate"],
        ["2025", "None", "Entidade Fantasma", "unmatched"],
        ["2025", "None", "nd", "blank_name"],
        ["2026", "None", "Junta de Braga", "unmatched"],
        ["2026", "None", "sem dados", "blank_name"],
    ],
}


def test_two_wave_load_keeps_rows_ids_and_counts(spark, tmp_path):
    """Materializing the wave and localizing the dims changes no committed
    row, dim id or status count of a two-wave load."""
    assert _two_wave_load(spark, str(tmp_path)) == TWO_WAVE


def _final_plan(df) -> str:
    df.collect()  # an adaptive plan prints its final form once run
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_star_small_frames_are_local_relations(spark, config):
    """The header→name lookups, the dims, the empty group dim and the
    availability header→tipo match run as LocalTableScans; the one RDD
    scan left in a fact is the wave run_pipeline materialized."""
    from fefal_etl_spark.plans.star import release_star_cache

    registry = spark.createDataFrame(REGISTRY_ROWS, REGISTRY_SCHEMA)
    result = run_pipeline(_survey(spark), registry, config)
    star = build_star(result, tipos_disponibilidades=_tipos(spark))
    try:
        for name, df in star.items():
            plan = _final_plan(df)
            if name.startswith("dim_"):
                assert "LocalTableScan" in plan, name
                assert "ExistingRDD" not in plan, (name, plan)
            else:
                assert plan.count("Scan ExistingRDD") == 1, (name, plan)
                if name != "fact_inquerito":
                    assert "LocalTableScan" in plan, name
    finally:
        release_star_cache()


def test_wave_commit_scans_registry_once(spark, config, tmp_path):
    """Committing every star table of one wave, plus its rejected rows,
    scans the registry once: the registry is a one-partition RDD that
    counts its evaluations by the tasks of the wave's job group."""
    from pyspark import TaskContext

    from fefal_etl_spark.plans.star import release_star_cache
    from fefal_etl_spark.table import TransactionalTable

    sc = spark.sparkContext
    group = "registry-scans"
    scans = sc.accumulator(0)

    def counted(rows):
        if TaskContext.get().getLocalProperty("spark.jobGroup.id") == group:
            scans.add(1)
        yield from rows

    registry = spark.createDataFrame(
        sc.parallelize(REGISTRY_ROWS, 1).mapPartitions(counted), REGISTRY_SCHEMA
    )
    sc.setJobGroup(group, "one survey wave, committed")
    try:
        result = run_pipeline(_survey(spark), registry, config)
        star = build_star(result, tipos_disponibilidades=_tipos(spark))
        star["rejeitados"] = result.frame.filter(F.col("status") != "valid")
        for name, df in star.items():
            TransactionalTable(spark, str(tmp_path / name)).append(df)
        release_star_cache()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) >= len(star)  # every commit ran inside the group
    assert scans.value == 1


def test_from_mongo_docs_imports_reference_shapes(tmp_path):
    """Round-6 (VERDICT r5 item 7): PipelineConfig.from_mongo_docs must
    ingest the reference's four collection document shapes unmodified
    (etl_ui.py:131-146) — here round-tripped through a JSON export file
    the way a ``mongoexport`` dump would arrive."""
    import json

    import pytest

    from fefal_etl_spark.plans.config import PipelineConfig

    export = {
        "ConfigAdvanced": [
            {
                "_id": "682b5773188a7521e801a4e5",
                "keys": {
                    "comment_keys": ["comentario", "obs"],
                    "formando_keys": ["formandos"],
                },
                "default_type": "interesse",
            }
        ],
        "ConfigRenCol": [
            {"_id": "a", "original_name": "Nome  da Entidade",
             "new_name": "nome_entidade"},
        ],
        "ConfigColMap": [
            {"year": 2024, "groups": {"identificacao": {"start": 1, "end": 2}}},
            {"year": 2025, "groups": {
                "identificacao": {"start": 1, "end": 5},
                "formacoes": {"start": 6, "end": 8},
            }},
        ],
        "ConfigMapEnt": [
            {"tipo_entidade_inq": "Câmara Municipal",
             "tipo_entidade_norm": "Municípios"},
        ],
    }
    path = tmp_path / "export.json"
    path.write_text(json.dumps(export))
    cfg = PipelineConfig.from_mongo_docs(json.loads(path.read_text()), 2025)
    assert cfg.year == 2025
    assert cfg.groups["identificacao"].end == 5
    assert cfg.groups["formacoes"].start == 6
    assert "identificacao" in cfg.groups and len(cfg.groups) == 2
    # rename matching is on NORMALIZED headers (double space collapses)
    assert cfg.rename_map == {"nome da entidade": "nome_entidade"}
    # entity-type keys normalize too (accent fold + lower)
    assert cfg.entity_type_map == {"camara municipal": "Municípios"}
    assert cfg.comment_keys == ["comentario", "obs"]
    # year selection mirrors find_one({"year": year}); missing year raises
    assert PipelineConfig.from_mongo_docs(export, 2024).groups[
        "identificacao"
    ].end == 2
    with pytest.raises(KeyError):
        PipelineConfig.from_mongo_docs(export, 1999)
    # reference fallbacks: empty ConfigAdvanced -> [] keys
    bare = PipelineConfig.from_mongo_docs(
        {"ConfigColMap": [{"year": 1, "groups": {}}]}, 1
    )
    assert bare.comment_keys == [] and bare.formando_keys == []
