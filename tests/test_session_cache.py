"""The session cache (`fefal_etl_spark.cache.memo`): every memoized value
lives under one key — (application id, kind, key), stamped with the
source fingerprint — and one release rule."""

from __future__ import annotations

import decimal
import math
import os
import shutil
import threading

import pytest

from fefal_etl_spark import cache, staging
from fefal_etl_spark.datasets import DEFAULT_SF_DIR

SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


def _entries(spark, kind: str) -> dict:
    return cache._MEMO.get(spark.sparkContext.applicationId, {}).get(kind, {})


def _plan(spark, sf):
    from fefal_etl_spark.queries import get_queries

    # on a fresh dir the first build loads lineitem (a Spark job), so
    # only the second build is stored
    for _ in range(2):
        get_queries()["pricing_summary"](spark, sf)


def _orders_max(spark, sf):
    from fefal_etl_spark.queries import _orders_max_key

    _orders_max_key(spark, sf)


def _table(spark, sf):
    from fefal_etl_spark.datasets import load_table

    load_table(spark, sf, "nation")


def _corpus(spark, sf):
    from fefal_etl_spark.llm.queries import _corpus

    _corpus(spark, sf)


def _copurchase(spark, sf):
    from fefal_etl_spark.queries import _copurchase_frames

    _copurchase_frames(spark, sf)


def _pipeline(spark, sf):
    from fefal_etl_spark.plans.queries import _shared

    _shared(spark, sf)


def _plant_ns_max(spark, sf):
    from fefal_etl_spark.llm.queries import _assert_plant_headroom

    _assert_plant_headroom(spark, sf, "documents", "doc_id")


def _corpus_n(spark, sf):
    from fefal_etl_spark.llm.queries import q_minhash_neardup

    q_minhash_neardup(spark, sf)


def _staged_read(spark, sf):
    staging.stage_parquet(spark, "session_cache_test", "x", spark.range(3))


def _table_read(spark, sf):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, os.path.join(sf, "..", "txn"))
    if t.latest_version() is None:
        t.overwrite(spark.range(3))
        t.append(spark.range(3, 5))
    t.read()


def _xls(spark, sf):
    from fefal_etl_spark.queries import get_queries

    get_queries()["xls_scan"](spark, sf)


# (kind, one library call that goes through it, keyed by a source
# fingerprint?)
KINDS = [
    ("plan", _plan, True),
    ("orders_max", _orders_max, True),
    ("table", _table, True),
    ("corpus", _corpus, True),
    ("copurchase", _copurchase, True),
    ("pipeline", _pipeline, True),
    ("plant_ns_max", _plant_ns_max, True),
    ("corpus_n", _corpus_n, True),
    ("staged_read", _staged_read, False),
    ("read_plan", _table_read, False),
    ("xls_fixture", _xls, False),
]


@pytest.mark.parametrize(
    "kind,access,sourced", KINDS, ids=[k[0] for k in KINDS]
)
def test_registry_key_and_release_rule(
    spark, tmp_path, monkeypatch, kind, access, sourced
):
    """For each kind: an entry planted under another application id is
    dropped, and its ``free`` run, on the first access under the live
    application; the live application's entries stay; a source whose
    fingerprint raises is built but never stored."""
    monkeypatch.setenv("FEFAL_STAGE_DIR", str(tmp_path / "stage"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for name in ("orders", "nation", "customer", "lineitem", "documents"):
        shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), sf)
    app = spark.sparkContext.applicationId
    freed = []
    cache._MEMO.setdefault("dead-app", {}).setdefault(kind, {})["k"] = (
        None, "dead", freed.append,
    )
    cache._MEMO.setdefault(app, {}).setdefault(kind, {})["live"] = (
        None, "live", freed.append,
    )
    try:
        access(spark, sf)
        assert freed == ["dead"]
        assert "dead-app" not in cache._MEMO
        assert _entries(spark, kind)["live"][1] == "live"
        assert set(_entries(spark, kind)) - {"live"}, "the call stored nothing"
        if sourced:
            cache.release(kind, lambda k: k != "live")

            def unreadable(*_a):
                raise OSError("stat failed")

            monkeypatch.setattr(staging, "source_fingerprint", unreadable)
            access(spark, sf)
            assert list(_entries(spark, kind)) == ["live"]
    finally:
        monkeypatch.undo()
        cache.release(kind)
        cache.release("copurchase")
        cache.release("pipeline")
    assert freed == ["dead", "live"]


def _canon(pdf) -> list[str]:
    """Order-insensitive row digest: numbers by value, NULL/NaN alike."""

    def c(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "∅"
        if isinstance(v, (float, decimal.Decimal)):
            return repr(float(v))
        if hasattr(v, "item"):  # numpy scalar
            return c(v.item())
        return str(v)

    cols = sorted(pdf.columns)
    return [cols] + sorted(
        "\x1f".join(c(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def test_regenerated_source_is_never_served_stale_rows(spark, tmp_path):
    """In one session: run the pipeline and co-purchase queries over a
    copy of sf0.001, rewrite customer and lineitem with half their rows,
    and run them again — both calls must equal the DuckDB oracle each
    time (a memo keyed without the source fingerprint served the first
    state's rows)."""
    import duckdb
    import pyarrow.parquet as pq

    from fefal_etl_spark.cache import release_tracked
    from fefal_etl_spark.queries import get_oracles, get_queries

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf)
    queries, oracles = get_queries(), get_oracles()
    names = ("pipeline_status_accounting", "copurchase_lift")

    def check(tag: str) -> list[str]:
        con = duckdb.connect()
        for f in os.listdir(sf):
            con.execute(
                f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM "
                f"read_parquet('{sf}/{f}')"
            )
        stale = []
        for name in names:
            got = _canon(queries[name](spark, sf).toPandas())
            release_tracked()
            if got != _canon(con.execute(oracles[name]).fetchdf()):
                stale.append(f"{name} ({tag})")
        con.close()
        return stale

    try:
        assert check("first") == []
        for t in ("customer", "lineitem"):
            path = os.path.join(sf, f"{t}.parquet")
            full = pq.read_table(path)
            pq.write_table(full.slice(0, full.num_rows // 2), path)
        assert check("rewritten") == []
    finally:
        cache.release("pipeline")
        cache.release("copurchase")


def test_plan_stored_only_when_build_ran_no_job(spark):
    """``queries._memoized`` stores a plan only when building it
    submitted no Spark job, counting jobs from every thread."""
    from fefal_etl_spark.queries import _memoized

    builds: dict[str, int] = {}

    def builder(name, job):
        def fn(spark_, sf_dir):
            builds[name] = builds.get(name, 0) + 1
            job(builds[name])
            return spark_.range(3)

        return _memoized(name, fn)

    def on_thread(_n):
        t = threading.Thread(target=lambda: spark.range(2).collect())
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()

    cases = {
        "job_free": (lambda n: None, [True, True, True]),
        "counts": (lambda n: spark.range(5).count(), [False, False, False]),
        "first_call_job": (
            lambda n: n == 1 and spark.range(5).count(), [False, True, True]
        ),
        "thread_job": (on_thread, [False, False, False]),
    }
    key = os.path.abspath(SF_DIR)
    try:
        for name, (job, want) in cases.items():
            run = builder(name, job)
            got = []
            for _ in want:
                assert run(spark, SF_DIR).count() == 3
                got.append((name, key) in _entries(spark, "plan"))
            assert got == want, name
        assert builds == {
            "job_free": 1, "counts": 3, "first_call_job": 2, "thread_job": 3
        }
    finally:
        cache.release("plan", lambda k: k[0] in cases)


def test_partitioned_scan_plan_is_stored(spark):
    """partitioned_scan reads its staged table through the staged-read
    memo, so its second build runs no Spark job (no listing of the
    partitioned directory) and the plan memo stores it."""
    from fefal_etl_spark.queries import _jobs_submitted, get_queries

    q = get_queries()["partitioned_scan"]
    key = ("partitioned_scan", os.path.abspath(SF_DIR))
    cache.release("plan", lambda k: k == key)
    try:
        first = q(spark, SF_DIR).collect()  # may stage and list: jobs
        jobs = _jobs_submitted(spark)
        df = q(spark, SF_DIR)
        assert _jobs_submitted(spark) == jobs
        assert key in _entries(spark, "plan")
        assert sorted(df.collect()) == sorted(first)
    finally:
        cache.release("plan", lambda k: k == key)
