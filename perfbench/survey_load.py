"""``survey_load``: yearly survey waves from CSV into a committed star.

Each wave runs ``read_csv`` → ``run_pipeline`` → ``build_star`` with the
committed dimensions as ``existing_dims``, then commits every star table
into its own ``TransactionalTable``: dimensions by ``merge``, facts and
the rejected branches by ``append``. After each wave every review read
runs over the committed tables once, meeting the new snapshot, and is
then repeated. Waves continue until the run's seconds are up.

Every wave misses every cache the program keeps (new file, new columns,
new year), writes run beside reads, and the driver builds large plans
for the wide frame.
"""

from __future__ import annotations

import functools
import itertools
import os
import time

from perfbench import gen_survey
from perfbench.context import Ctx, Outcome

WAVE_ROWS = 1000
SMOKE_ROWS = 300

DIMS = {
    "dim_formacao": "id_formacao",
    "dim_area_tematica": "id_interesse",
    "dim_preferencia_ensino": "id_preferencia",
    "dim_disponibilidade_horaria": "id_horario",
}
FACTS = [
    "fact_inquerito",
    "fact_resposta_formacao",
    "fact_resposta_interesse",
    "comentario",
    "fact_resposta_preferencia",
    "fact_resposta_disponibilidade",
]
REJECTED = "rejeitados"


REPEATS = 2  # repeat calls of each review read after its first call


def prepare(inputs: str, seed: int, smoke: bool) -> None:
    """Nothing up front: each wave's CSV is written just before the wave
    runs (outside the timed span), so no run generates waves it never
    loads."""


def _config(wave: int):
    from fefal_etl_spark.plans.config import GroupSpec, PipelineConfig

    return PipelineConfig(
        year=gen_survey.BASE_YEAR + wave,
        groups={
            k: GroupSpec(s, e) for k, (s, e) in gen_survey.config_groups(wave).items()
        },
        rename_map=dict(gen_survey.RENAME),
        entity_type_map=dict(gen_survey.ENTITY_TYPE_MAP),
    )


def _traced_operators(ctx: Ctx):
    """Wrap the operators ``run_pipeline`` calls so their plan-building
    time shows as ``operators.*`` spans under ``plans.run_pipeline``."""
    from fefal_etl_spark.plans import pipeline

    originals = {
        "classify_rows": pipeline.classify_rows,
        "resolve_entities": pipeline.resolve_entities,
    }
    names = {"classify_rows": "operators.classify", "resolve_entities": "operators.resolve"}

    def wrap(name, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with ctx.tracer.span(names[name]):
                return fn(*a, **kw)

        return traced

    for name, fn in originals.items():
        setattr(pipeline, name, wrap(name, fn))
    return lambda: [setattr(pipeline, n, f) for n, f in originals.items()]


def _review_reads(tables) -> dict:
    """Review reads over the committed star: name -> zero-arg callable
    returning collected rows."""
    from pyspark.sql import functions as F

    def status_counts():
        rej = tables[REJECTED].read().groupBy("ano", "status").count()
        fi = tables["fact_inquerito"].read().groupBy("ano").count()
        fi = fi.select("ano", F.lit("valid").alias("status"), "count")
        return rej.unionByName(fi).collect()

    def fact_rows():
        parts = [
            tables[n].read().select(F.lit(n).alias("t")) for n in FACTS
        ]
        df = functools.reduce(lambda a, b: a.unionByName(b), parts)
        return df.groupBy("t").count().collect()

    def formacao_totals():
        f = tables["fact_resposta_formacao"].read()
        d = tables["dim_formacao"].read()
        return (
            f.join(d, "id_formacao")
            .groupBy("nome_formacao")
            .agg(F.sum("n_formandos").alias("n"))
            .collect()
        )

    def interesse_uptake():
        f = tables["fact_resposta_interesse"].read()
        d = tables["dim_area_tematica"].read()
        return f.join(d, "id_interesse").groupBy("nome_area").count().collect()

    return {
        "status_counts": status_counts,
        "fact_rows": fact_rows,
        "formacao_totals": formacao_totals,
        "interesse_uptake": interesse_uptake,
    }


def _check_wave(out: Outcome, truth: dict, done: list[dict], results: dict) -> None:
    y = truth["year"]
    got = {r["status"]: r["count"] for r in results["status_counts"] if r["ano"] == y}
    for st in ("valid", "duplicate", "unmatched", "blank_name"):
        out.check(got.get(st, 0) == truth[st], f"{y} status {st}: {got.get(st, 0)} != {truth[st]}")
    rows = {r["t"]: r["count"] for r in results["fact_rows"]}
    for n in FACTS:
        want = sum(t[n] for t in done)
        out.check(rows.get(n, 0) == want, f"{y} {n} rows: {rows.get(n, 0)} != {want}")


def run(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from fefal_etl_spark.plans.pipeline import run_pipeline
    from fefal_etl_spark.plans.star import build_star, release_star_cache
    from fefal_etl_spark.sources.readers import read_csv
    from fefal_etl_spark.table import TransactionalTable

    spark, tr = ctx.spark, ctx.tracer
    out = Outcome()
    registry = spark.createDataFrame(
        gen_survey.registry_rows(), "id_entidades long, ent_nome string, ent_tipo string"
    )
    tipos = spark.createDataFrame(
        gen_survey.TIPOS_DISP, "id_tipo_disp int, descricao_tipo_disp string"
    )
    star_dir = os.path.join(ctx.work, "star")
    tables = {
        n: TransactionalTable(spark, os.path.join(star_dir, n))
        for n in [*DIMS, *FACTS, REJECTED]
    }
    restore = _traced_operators(ctx) if tr.enabled else None
    reads = _review_reads(tables)
    rows = SMOKE_ROWS if ctx.smoke else WAVE_ROWS
    wave_s: list[float] = []
    done: list[dict] = []
    deadline = ctx.deadline()
    try:
        for wave in itertools.count():
            if wave > 0 and time.perf_counter() >= deadline:
                break
            g0 = time.perf_counter()
            path = os.path.join(ctx.inputs, f"wave{wave}.csv")
            truth = gen_survey.write_wave(path, ctx.seed, wave, rows).to_json()
            deadline += time.perf_counter() - g0  # generation is not timed
            cfg = _config(wave)
            t0 = time.perf_counter()
            with tr.span("survey.wave"):
                with tr.span("sources.read_csv"):
                    survey = read_csv(spark, path)
                with tr.span("plans.run_pipeline"):
                    res = run_pipeline(survey, registry, cfg)
                existing = {}
                if wave > 0:
                    for n in DIMS:
                        with tr.span("table.read"):
                            existing[n] = tables[n].read()
                with tr.span("plans.build_star"):
                    star = build_star(
                        res, existing_dims=existing, tipos_disponibilidades=tipos
                    )
                for n, key in DIMS.items():
                    if wave == 0:
                        with tr.span("table.append"):
                            tables[n].append(star[n])
                    else:
                        with tr.span("table.merge"):
                            tables[n].merge(star[n], keys=[key])
                for n in FACTS:
                    with tr.span("table.append"):
                        tables[n].append(star[n])
                rejected = res.frame.filter(F.col("status") != "valid").select(
                    "ano", "status", "nome_entidade", "tipo_entidade", "id_entidade",
                    "percentagem_preenchido",
                )
                with tr.span("table.append"):
                    tables[REJECTED].append(rejected)
                with tr.span("cache.release"):
                    release_star_cache()
            wave_s.append(time.perf_counter() - t0)
            out.attempted += 1
            out.items += truth["rows"]
            done.append(truth)
            results = {}
            for name, fn in reads.items():
                for sink in [out.first] + [out.repeat] * REPEATS:
                    t1 = time.perf_counter()
                    with tr.span("survey.review_read"):
                        with tr.span("table.read"):
                            results[name] = fn()
                    sink[name].append(time.perf_counter() - t1)
                    out.attempted += 1
            _check_wave(out, truth, done, results)
    finally:
        if restore:
            restore()
    out.items_s = sum(wave_s)
    if tr.enabled:
        live_files, live_bytes = _live_files(tables)
        written = _dir_bytes(star_dir)
        out.counters.update(
            {
                "table.commits": sum(len(t.versions()) for t in tables.values()),
                "table.bytes_written": written,
                "table.live_files": live_files,
                "table.write_amp": written / live_bytes if live_bytes else 0.0,
            }
        )
    _check_dim_formacao(out, tr, tables["dim_formacao"], done)
    release_star_cache()
    return out


def _check_dim_formacao(out: Outcome, tr, table, done: list[dict]) -> None:
    """The committed formation dimension must hold exactly the formation
    names of every loaded wave, each once, and merging it into itself
    must change no row. The merge is traced like the waves' merges, so a
    run of one wave still measures one."""
    rows = sorted(map(tuple, table.read().select("id_formacao", "nome_formacao").collect()))
    want = sorted({n for t in done for n in t["formacoes"]})
    out.check(sorted(r[1] for r in rows) == want, "dim_formacao members differ from the waves'")
    with tr.span("table.merge"):
        table.merge(table.read(), keys=["id_formacao"])
    after = sorted(map(tuple, table.read().select("id_formacao", "nome_formacao").collect()))
    out.check(after == rows, "dim_formacao re-merge changed rows")


def _dir_bytes(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        for fn in files:
            total += os.path.getsize(os.path.join(d, fn))
    return total


def _live_files(tables) -> tuple[int, int]:
    """(file count, bytes) of the files each table's latest snapshot
    scans, sized on the filesystem."""
    n = size = 0
    for t in tables.values():
        for uri in t.read().inputFiles():
            n += 1
            size += os.path.getsize(uri.removeprefix("file:"))
    return n, size
