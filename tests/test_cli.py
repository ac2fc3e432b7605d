"""CLI surface tests (fefal_etl_spark.__main__): `list` in-process, and the
`pipeline` subcommand end-to-end in a subprocess (the CLI owns and stops its
SparkSession, so it must not share the test fixture's)."""

from __future__ import annotations

import csv
import json
import pytest
import os
import subprocess
import sys

from fefal_etl_spark.__main__ import main

# the checkout these tests belong to: the CLI subprocesses run its code
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COLS = [
    "Nome da Entidade", "Tipo de Entidade", "Responsável",
    "Existe responsável?", "Percentagem preenchida", "Data de início",
    "Data de fim", "Data de submissão",
    "Quantos formandos? [Excel Avançado]", "Formação sem brackets",
    "Gestão", "Gestão[comentario]", "Finanças",
    "Presencial - [Manhã]", "Online - [Pós-laboral]",
    "Prefere e-learning (1-5)",
]

ROWS = [
    ("Município de Aveiro", "CM", "Ana", "Sim", "80",
     "2024-01-01 10:00:00", "2024-01-01 10:30:00", "",
     "5", "3", "Sim", "12", "Não", "Sim", "Não", "4"),
    ("Entidade Fantasma", "CM", "", "talvez", "-5",
     "bad-date", "2024-01-01 10:00:00", "",
     "2", "0", "Sim", "", "", "Não", "Sim", "2"),
    ("nd", "CM", "", "", "50", "", "", "", "1", "1", "Não", "7", "Não",
     "Sim", "Sim", "5"),
]

CONFIG = {
    "year": 2025,
    "groups": {
        "identificacao": {"start": 1, "end": 8},
        "formacoes": {"start": 9, "end": 10},
        "interesses": {"start": 11, "end": 13},
        "disponibilidade": {"start": 14, "end": 15},
        "tipo de ensino": {"start": 16, "end": 16},
    },
    "rename_map": {
        "Nome da Entidade": "nome_entidade",
        "Tipo de Entidade": "tipo_entidade",
        "Responsável": "nome_responsavel",
        "Existe responsável?": "existe_responsavel",
        "Percentagem preenchida": "percentagem_preenchido",
        "Data de início": "data_inicio",
        "Data de fim": "data_fim",
        "Data de submissão": "data_submissao",
    },
    "entity_type_map": {"CM": "Municípios", "Junta": "Freguesias"},
}


def test_cli_list_runs_without_spark(capsys):
    assert main(["list", "--grep", "skyline"]) == 0
    out = capsys.readouterr().out
    assert "skyline_parts" in out


@pytest.mark.slow
def test_cli_pipeline_end_to_end(spark, tmp_path):
    survey_path = tmp_path / "survey.csv"
    with open(survey_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(COLS)
        w.writerows(ROWS)
    registry_path = str(tmp_path / "registry.parquet")
    spark.createDataFrame(
        [(1, "Aveiro", "Municípios"), (2, "Braga", "Freguesias")],
        "id_entidades int, ent_nome string, ent_tipo string",
    ).write.mode("overwrite").parquet(registry_path)
    config_path = tmp_path / "config.json"
    config_path.write_text(json.dumps(CONFIG))
    out_dir = str(tmp_path / "out")

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        [sys.executable, "-m", "fefal_etl_spark", "pipeline",
         "--survey", str(survey_path), "--registry", registry_path,
         "--config", str(config_path), "--out", out_dir],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["status_counts"].get("valid") == 1
    assert summary["status_counts"].get("unmatched") == 1
    assert summary["status_counts"].get("blank_name") == 1
    assert os.path.isdir(os.path.join(out_dir, "valid"))


@pytest.mark.slow
def test_cli_pipeline_accepts_mongo_export_config(spark, tmp_path):
    """Round-6 migration path: --config may be a Mongo export of the
    reference's four config collections (detected by ConfigColMap);
    the run must match the plain-JSON config byte-for-byte in its
    status accounting."""
    survey_path = tmp_path / "survey.csv"
    with open(survey_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(COLS)
        w.writerows(ROWS)
    registry_path = str(tmp_path / "registry.parquet")
    spark.createDataFrame(
        [(1, "Aveiro", "Municípios"), (2, "Braga", "Freguesias")],
        "id_entidades int, ent_nome string, ent_tipo string",
    ).write.mode("overwrite").parquet(registry_path)
    export = {
        "ConfigAdvanced": [
            {"_id": "x", "keys": {"comment_keys": ["comentario"],
                                  "formando_keys": ["formandos"]},
             "default_type": "interesse"}
        ],
        "ConfigRenCol": [
            {"original_name": k, "new_name": v}
            for k, v in CONFIG["rename_map"].items()
        ],
        "ConfigColMap": [{"year": 2025, "groups": CONFIG["groups"]}],
        "ConfigMapEnt": [
            {"tipo_entidade_inq": k, "tipo_entidade_norm": v}
            for k, v in CONFIG["entity_type_map"].items()
        ],
    }
    config_path = tmp_path / "export.json"
    config_path.write_text(json.dumps(export))
    out_dir = str(tmp_path / "out")

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        [sys.executable, "-m", "fefal_etl_spark", "pipeline",
         "--survey", str(survey_path), "--registry", registry_path,
         "--config", str(config_path), "--out", out_dir, "--year", "2025"],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["status_counts"].get("valid") == 1
    assert summary["status_counts"].get("unmatched") == 1
    assert summary["status_counts"].get("blank_name") == 1
    # a missing --year against a year-keyed export is a clean usage error
    proc2 = subprocess.run(
        [sys.executable, "-m", "fefal_etl_spark", "pipeline",
         "--survey", str(survey_path), "--registry", registry_path,
         "--config", str(config_path), "--out", out_dir],
        capture_output=True, text=True, timeout=120, env=env,
        cwd=ROOT,
    )
    assert proc2.returncode != 0 and "--year is required" in proc2.stderr


@pytest.mark.slow
def test_cli_table_maintenance_end_to_end(spark, tmp_path):
    """Round-8: the scheduler-invocable table surface — build a table
    with shattered small files, OPTIMIZE it through the CLI, then
    VACUUM the superseded snapshot; each step prints one JSON line."""
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, 10)], "k int, v int").coalesce(1))
    for i in range(2, 5):
        t.append(
            spark.createDataFrame([(i, i * 10)], "k int, v int").coalesce(1)
        )

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "4"

    def run(*cli):
        proc = subprocess.run(
            [sys.executable, "-m", "fefal_etl_spark", "table", root, *cli],
            capture_output=True, text=True, timeout=300, env=env,
            cwd=ROOT,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    out = run("optimize", "--small-file-mb", "16")
    assert out["version"] == 4
    mf = t._read_manifest(4)
    assert len(mf.files) == 1  # four fragments packed into one
    out = run("vacuum", "--keep", "1")
    assert isinstance(out["removed"], list) and out["removed"]
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4}
