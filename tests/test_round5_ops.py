"""Round-5 operator tests: BFS layered min-agg mode, the transactional
table layer, postgres-dialect SQL builders, and the shared
similarity-staging cache."""

from __future__ import annotations

import os

import pytest

# Tests below marked `_posix_log` inspect the on-disk commit log or read
# it through a DataSource worker process; with FEFAL_TABLE_BACKEND=memory
# (the round-8 in-memory log certification run) the log never touches the
# filesystem, so they are skipped with an explicit reason — the same
# constraint as Delta: every log reader needs access to the log store.
_posix_log = pytest.mark.skipif(
    os.environ.get("FEFAL_TABLE_BACKEND") == "memory",
    reason="needs the commit log on the filesystem (disk artifact "
    "inspection or DataSource worker-side log reads)",
)

from pyspark.sql import functions as F


def test_staging_fingerprint_tracks_source(tmp_path):
    """source_fingerprint must change when a source file's content stats
    change, and be order-independent across multiple tables."""
    import os
    import time

    from fefal_etl_spark.staging import source_fingerprint

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"aaaa")
    (sf / "customer.parquet").write_bytes(b"bbbb")
    fp1 = source_fingerprint(str(sf), "orders")
    assert fp1 == source_fingerprint(str(sf), "orders")
    assert source_fingerprint(str(sf), "orders", "customer") == (
        source_fingerprint(str(sf), "customer", "orders")
    )
    # size change -> new fingerprint
    (sf / "orders.parquet").write_bytes(b"aaaaaa")
    fp2 = source_fingerprint(str(sf), "orders")
    assert fp2 != fp1
    # mtime-only change (same size) -> new fingerprint
    os.utime(sf / "orders.parquet", ns=(time.time_ns(), time.time_ns() + 7))
    assert source_fingerprint(str(sf), "orders") != fp2
    # absent table is representable, not an error
    assert source_fingerprint(str(sf), "nope")


def test_stage_table_atomic_publish_and_reuse(spark, tmp_path, monkeypatch):
    """stage_table writes once, reuses on second call, never exposes a
    partial directory at the final path, and clears _SUCCESS-less debris."""
    import os

    from fefal_etl_spark.staging import stage_table, staging_root

    monkeypatch.setenv("FEFAL_STAGE_DIR", str(tmp_path / "stage"))
    calls = []

    def write(p):
        calls.append(p)
        spark.range(5).write.mode("overwrite").parquet(p)

    p1 = stage_table(spark, "t", "fp1", write)
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))
    assert len(calls) == 1 and calls[0] != p1  # wrote to a tmp sibling
    p2 = stage_table(spark, "t", "fp1", write)
    assert p2 == p1 and len(calls) == 1  # reused, no rewrite
    # new fingerprint -> new directory
    p3 = stage_table(spark, "t", "fp2", write)
    assert p3 != p1 and len(calls) == 2
    # debris without _SUCCESS is cleared and rewritten
    os.remove(os.path.join(p1, "_SUCCESS"))
    p4 = stage_table(spark, "t", "fp1", write)
    assert os.path.exists(os.path.join(p4, "_SUCCESS")) and len(calls) == 3
    assert staging_root() == str(tmp_path / "stage")


def test_stage_table_lost_race_uses_winner(spark, tmp_path, monkeypatch):
    """If another session publishes the final dir between our write and
    rename, the rename loser must drop its attempt and read the winner."""
    import os

    from fefal_etl_spark.staging import stage_table

    monkeypatch.setenv("FEFAL_STAGE_DIR", str(tmp_path / "stage"))

    def write_and_interleave(p):
        spark.range(3).write.mode("overwrite").parquet(p)
        # simulate the concurrent winner publishing first
        winner = os.path.join(str(tmp_path / "stage"), "race-fp")
        spark.range(7).write.mode("overwrite").parquet(winner)

    path = stage_table(spark, "race", "fp", write_and_interleave)
    assert spark.read.parquet(path).count() == 7  # winner's data survived
    leftovers = [
        d
        for d in os.listdir(str(tmp_path / "stage"))
        if ".tmp-" in d and d.startswith("race-")
    ]
    assert leftovers == []  # loser cleaned up


def test_stage_hit_refreshes_mtime(spark, tmp_path, monkeypatch):
    """A staging hit — through stage_table or stage_parquet's read memo —
    touches the staged dir, so a session older than the 6 h sweep age
    that keeps using its staging is never swept by another session."""
    import time

    from fefal_etl_spark.staging import stage_parquet, stage_table

    monkeypatch.setenv("FEFAL_STAGE_DIR", str(tmp_path / "stage"))
    old = time.time() - 7 * 3600

    def write(p):
        spark.range(3).write.mode("overwrite").parquet(p)

    p = stage_table(spark, "hit", "fp", write, scope="session")
    os.utime(p, (old, old))
    assert stage_table(spark, "hit", "fp", write, scope="session") == p
    assert os.path.getmtime(p) > old + 3600

    first = stage_parquet(spark, "memo", "fp", spark.range(4), scope="session")
    path = first.inputFiles()[0].removeprefix("file:").rsplit("/", 1)[0]
    os.utime(path, (old, old))
    again = stage_parquet(spark, "memo", "fp", spark.range(4), scope="session")
    assert again is first  # the read-memo path ...
    assert os.path.getmtime(path) > old + 3600  # ... refreshed it too


def test_session_sweep_matches_suffix_structurally(spark, tmp_path, monkeypatch):
    """The session sweep deletes only dirs ending in another session's
    ``-s<8 hex>`` suffix — not a store-scoped dir whose name merely
    contains ``-s``."""
    import time

    from fefal_etl_spark.staging import stage_table

    root = tmp_path / "stage"
    monkeypatch.setenv("FEFAL_STAGE_DIR", str(root))
    old = time.time() - 7 * 3600
    dead_session = root / "sw-fp-s0123abcd"
    store_scoped = root / "sw-my-store-state"
    for d in (dead_session, store_scoped):
        d.mkdir(parents=True)
        (d / "_SUCCESS").touch()
        os.utime(d, (old, old))

    stage_table(
        spark, "sw", "fp",
        lambda p: spark.range(1).write.mode("overwrite").parquet(p),
        scope="session",
    )
    assert not dead_session.exists()
    assert store_scoped.exists()


def test_memos_skip_failed_fingerprint(spark, tmp_path, monkeypatch):
    """When the source dir cannot be fingerprinted, the plan memo and the
    max(o_orderkey) memo must collect fresh on every call instead of
    caching under a ``None`` key every later dir state would share."""
    import fefal_etl_spark.queries as q
    from fefal_etl_spark import cache, staging

    sf = str(tmp_path)
    loads = []

    def counting_load(spark_, sf_dir, name):
        loads.append(name)
        return spark_.createDataFrame([(3,), (7,)], "o_orderkey long")

    def unreadable(*_a):
        raise OSError("stat failed")

    def entries(kind):
        return cache._MEMO.get(spark.sparkContext.applicationId, {}).get(kind, {})

    monkeypatch.setattr(q, "load_table", counting_load)
    monkeypatch.setattr(staging, "source_fingerprint", unreadable)
    assert q._orders_max_key(spark, sf) == q._orders_max_key(spark, sf) == 7
    assert loads == ["orders", "orders"]  # two fresh collects
    assert os.path.abspath(sf) not in entries("orders_max")

    calls = []

    def build(spark_, sf_dir):
        calls.append(sf_dir)
        return spark_.range(1)

    name = "job_free_build"
    memo = q._memoized(name, build)
    memo(spark, sf)
    memo(spark, sf)
    assert len(calls) == 2
    assert (name, os.path.abspath(sf)) not in entries("plan")


def test_query_inventory_up_to_date():
    """docs/QUERIES.md must match what tools/gen_query_inventory.py would
    generate right now (the query→oracle matrix is a checked-in,
    CI-enforced artifact)."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_query_inventory", os.path.join(repo, "tools", "gen_query_inventory.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(os.path.join(repo, "docs", "QUERIES.md")) as f:
        on_disk = f.read()
    assert mod.build() == on_disk, (
        "docs/QUERIES.md is stale — run: python tools/gen_query_inventory.py"
    )


def test_grid_to_df_ragged_rows_keep_extra_columns(spark, tmp_path):
    """ADVICE r4: data rows wider than the header must not be truncated —
    extra cells surface under positional _cN names (pandas 'Unnamed: N'
    behavior), and short rows still pad with ''."""
    from fefal_etl_spark.sources.readers import _grid_to_df

    book = {
        "s": [
            ["a", "b"],
            ["1", "2", "extra1"],   # wider than header
            ["3"],                   # shorter than header
        ]
    }
    df = _grid_to_df(spark, book, "s", "test.xlsx")
    assert df.columns == ["a", "b", "_c2"]
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [("1", "2", "extra1"), ("3", "", "")]


def test_tracking_scope_isolates_threads(spark):
    """cache.tracking_scope: a scope's release must only touch its own
    frames; the global list is untouched by scoped releases."""
    from fefal_etl_spark import cache

    g = cache.track(spark.range(3).persist())
    with cache.tracking_scope() as inner:
        s = cache.track(spark.range(4).persist())
        assert s in inner and g not in inner
        s.count()
        assert s.storageLevel.useMemory
    # scope exit unpersisted only the scoped frame
    assert not s.storageLevel.useMemory
    g.count()
    assert g.storageLevel.useMemory
    cache.release_tracked()
    assert not g.storageLevel.useMemory


# --------------------------------------------------------------------------
# JDBC dialects (fefal_etl_spark/sources/jdbc_dialects.py)
# --------------------------------------------------------------------------


def test_postgres_dialect_golden_sql():
    """The postgres statements are golden-pinned: this is the exact SQL a
    real PostgreSQL deployment receives (the sandbox has no postgres, so
    the contract is frozen here; execution is proven on DuckDB below)."""
    from pyspark.sql import types as T

    from fefal_etl_spark.sources.jdbc_dialects import POSTGRES

    assert POSTGRES.insert_ignore(
        "dim_entidades", "dim_entidades_stage", ["id", "nome"], ["id"]
    ) == (
        'INSERT INTO dim_entidades ("id", "nome") '
        'SELECT "id", "nome" FROM dim_entidades_stage '
        'ON CONFLICT ("id") DO NOTHING'
    )
    assert POSTGRES.upsert(
        "dim", "dim_stage", ["id", "a", "b"], ["id"], ["a", "b"]
    ) == (
        'INSERT INTO dim ("id", "a", "b") '
        'SELECT "id", "a", "b" FROM dim_stage '
        'ON CONFLICT ("id") DO UPDATE SET '
        '"a" = EXCLUDED."a", "b" = EXCLUDED."b"'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("nome", T.StringType(), True),
            T.StructField("valor", T.DecimalType(18, 2), True),
        ]
    )
    assert POSTGRES.create_table("d", schema, keys=["id"]) == (
        'CREATE TABLE d ("id" BIGINT NOT NULL, "nome" TEXT, '
        '"valor" DECIMAL(18,2), PRIMARY KEY ("id"))'
    )


def test_derby_dialect_golden_sql():
    from fefal_etl_spark.sources.jdbc_dialects import DERBY

    assert DERBY.insert_ignore("t", "t_stage", ["id", "v"], ["id"]) == (
        'MERGE INTO t t USING t_stage s ON t."id" = s."id" '
        'WHEN NOT MATCHED THEN INSERT ("id", "v") VALUES (s."id", s."v")'
    )
    assert DERBY.upsert("t", "t_stage", ["id", "v"], ["id"], ["v"]) == (
        'MERGE INTO t t USING t_stage s ON t."id" = s."id" '
        'WHEN MATCHED THEN UPDATE SET "v" = s."v" '
        'WHEN NOT MATCHED THEN INSERT ("id", "v") VALUES (s."id", s."v")'
    )


def test_dialect_for_url():
    from fefal_etl_spark.sources.jdbc_dialects import (
        DERBY,
        POSTGRES,
        dialect_for_url,
    )

    assert dialect_for_url("jdbc:postgresql://h:5432/db") is POSTGRES
    assert dialect_for_url("jdbc:derby:memory:x;create=true") is DERBY
    with pytest.raises(ValueError):
        dialect_for_url("jdbc:mysql://h/db")


def test_postgres_upsert_sql_executes_on_duckdb():
    """DuckDB adopted Postgres' ON CONFLICT grammar — executing the
    generated statements end-to-end proves they are not just
    plausible-looking strings."""
    import duckdb

    from fefal_etl_spark.sources.jdbc_dialects import POSTGRES

    con = duckdb.connect()
    con.execute("CREATE TABLE dim (id BIGINT PRIMARY KEY, nome TEXT)")
    con.execute("INSERT INTO dim VALUES (1, 'old-1'), (2, 'old-2')")
    con.execute("CREATE TABLE dim_stage (id BIGINT, nome TEXT)")
    con.execute("INSERT INTO dim_stage VALUES (2, 'new-2'), (3, 'new-3')")
    con.execute(
        POSTGRES.insert_ignore("dim", "dim_stage", ["id", "nome"], ["id"])
    )
    assert con.execute("SELECT id, nome FROM dim ORDER BY id").fetchall() == [
        (1, "old-1"),
        (2, "old-2"),  # untouched: insert-if-absent
        (3, "new-3"),
    ]
    con.execute(
        POSTGRES.upsert("dim", "dim_stage", ["id", "nome"], ["id"], ["nome"])
    )
    assert con.execute("SELECT id, nome FROM dim ORDER BY id").fetchall() == [
        (1, "old-1"),
        (2, "new-2"),  # updated
        (3, "new-3"),
    ]


def test_write_jdbc_upsert_derby_end_to_end(spark):
    """The full staged-upsert path against embedded Derby: bulk stage via
    Spark's JDBC writer, one ANSI MERGE, staging dropped."""
    from fefal_etl_spark.sources.readers import read_jdbc
    from fefal_etl_spark.sources.writers import write_jdbc, write_jdbc_upsert

    url = "jdbc:derby:memory:upsert_test;create=true"
    drv = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    base = spark.createDataFrame(
        [(1, "old-1"), (2, "old-2")], "id bigint, nome string"
    )
    write_jdbc(base, url, "dim", mode="overwrite", driver=drv)
    incoming = spark.createDataFrame(
        [(2, "new-2"), (3, "new-3")], "id bigint, nome string"
    )
    sql = write_jdbc_upsert(
        incoming, url, "dim", keys=["id"], mode="insert_ignore", driver=drv
    )
    assert "MERGE INTO dim" in sql
    got = {
        (r["id"], r["nome"])
        for r in read_jdbc(spark, url, "dim", driver=drv).collect()
    }
    assert got == {(1, "old-1"), (2, "old-2"), (3, "new-3")}
    # upsert mode updates the matched row
    write_jdbc_upsert(
        incoming, url, "dim", keys=["id"], mode="upsert", driver=drv
    )
    got = {
        (r["id"], r["nome"])
        for r in read_jdbc(spark, url, "dim", driver=drv).collect()
    }
    assert got == {(1, "old-1"), (2, "new-2"), (3, "new-3")}
    # staging table was dropped
    with pytest.raises(Exception):
        read_jdbc(spark, url, "dim_stage", driver=drv).collect()


# --------------------------------------------------------------------------
# Transactional table layer (fefal_etl_spark/table.py)
# --------------------------------------------------------------------------


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_txn_table_overwrite_append_time_travel(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    assert t.latest_version() is None
    v0 = t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v1 = t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert (v0, v1) == (0, 1)
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(t.read(version=0)) == [(1, "a"), (2, "b")]  # time travel
    v2 = t.overwrite(spark.createDataFrame([(9, "z")], "k int, v string"))
    assert v2 == 2 and _rows(t.read()) == [(9, "z")]
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b"), (3, "c")]


def test_txn_table_crash_mid_write_invisible(spark, tmp_path):
    """A writer dying after its data files are written (and even after a
    temp manifest exists) must leave every reader on the old snapshot."""
    import os

    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    # crash point 1: data staged, no manifest
    t.stage_files(spark.createDataFrame([(666, "dead")], "k int, v string"))
    # crash point 2: a temp manifest left behind by a dying publisher
    with open(os.path.join(str(tmp_path / "t"), "_manifests", ".tmp-dead.json"), "w") as f:
        f.write('{"version": 99, "files": ["data/x/y.parquet"]}')
    assert t.versions() == [0]
    assert _rows(t.read()) == [(1, "a")]
    # the table keeps working: next commit lands as version 1 and the
    # orphaned staged rows never appear
    t.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    assert _rows(t.read()) == [(1, "a"), (2, "b")]


def test_txn_table_append_rebases_overwrite_conflicts(spark, tmp_path):
    from fefal_etl_spark.table import CommitConflict, TransactionalTable

    root = str(tmp_path / "t")
    t1 = TransactionalTable(spark, root)
    t2 = TransactionalTable(spark, root)
    t1.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    # t1 stages an append at base 0; t2 commits first; t1's commit must
    # rebase and include BOTH writers' rows
    files = t1.stage_files(spark.createDataFrame([(3, "c")], "k int, v string"))
    t2.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    v = t1._commit(files, "append", 0, rebase_ok=True, carry_parent_files=True)
    assert v == 2
    assert _rows(t1.read()) == [(1, "a"), (2, "b"), (3, "c")]
    # a serial op (overwrite) at a stale base must refuse
    files2 = t1.stage_files(spark.createDataFrame([(9, "z")], "k int, v string"))
    with pytest.raises(CommitConflict):
        t1._commit(files2, "overwrite", 0, rebase_ok=False)


def test_txn_table_merge_and_delete(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    )
    t.merge(
        spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"),
        keys=["k"],
    )
    assert _rows(t.read()) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    t.delete_where(F.col("k") % 2 == 0)
    assert _rows(t.read()) == [(1, "a"), (3, "c")]
    # full history is still navigable
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert _rows(t.read(version=0)) == [(1, "a"), (2, "b"), (3, "c")]


def test_txn_table_append_txn_idempotent(spark, tmp_path):
    """(app_id, txn_version) ledger: replaying a micro-batch must not
    double-append; the ledger is carried forward through later commits
    and is per-app."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    b0 = spark.createDataFrame([(1, "a")], "k int, v string")
    b1 = spark.createDataFrame([(2, "b")], "k int, v string")
    assert t.append_txn(b0, "streamA", 0) == 0
    assert t.append_txn(b0, "streamA", 0) is None  # replay skipped
    assert t.append_txn(b1, "streamA", 1) == 1
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    # an interleaved non-txn commit must not lose the ledger
    t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert t.append_txn(b1, "streamA", 1) is None  # still remembered
    # a different app id is independent
    assert t.append_txn(b1, "streamB", 1) is not None
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (2, "b"), (3, "c")]


def test_txn_table_stats_skipping(spark, tmp_path):
    """Manifest file stats prune non-intersecting files; the pruned read
    returns exactly what the full-filter read does."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    df = (
        spark.range(1000)
        .selectExpr("id as k", "cast(id % 10 as string) as v")
        .repartitionByRange(4, "k")  # 4 files with disjoint k ranges
    )
    t.overwrite(df)
    kept, total = t.skipped_files("k", 100, 120)
    assert total == 4 and kept == 1  # 3 of 4 files skipped by stats alone
    got = sorted(r["k"] for r in t.read_where("k", 100, 120).collect())
    assert got == list(range(100, 121))
    # range outside all stats -> empty frame, schema intact
    empty = t.read_where("k", 5000, 6000)
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_transactional_table_sink_stream_exactly_once(spark, tmp_path):
    """The foreachBatch sink lands each micro-batch atomically and a
    replayed batch id is a no-op."""
    from fefal_etl_spark.streaming.events import transactional_table_sink
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    sink = transactional_table_sink(root, app_id="s1")
    sink(spark.createDataFrame([(1, "a")], "k int, v string"), 0)
    sink(spark.createDataFrame([(2, "b")], "k int, v string"), 1)
    # crash-replay of batch 1 (checkpoint not yet committed)
    sink(spark.createDataFrame([(2, "b")], "k int, v string"), 1)
    t = TransactionalTable(spark, root)
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    assert t.latest_version() == 1  # replay published nothing


def test_txn_table_compact(spark, tmp_path):
    """compact() folds a many-file snapshot into few files without
    changing rows; history stays navigable; ledger survives."""
    import os

    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    sink_app = "s"
    for i in range(5):  # 5 micro-batch commits -> >=5 files
        t.append_txn(
            spark.createDataFrame([(i, str(i))], "k int, v string"),
            sink_app,
            i,
        )
    before = len(t._read_manifest(t.latest_version()).files)
    assert before >= 5
    v = t.compact(target_file_mb=128)
    mf = t._read_manifest(v)
    assert len(mf.files) == 1
    assert _rows(t.read()) == [(i, str(i)) for i in range(5)]
    assert _rows(t.read(version=v - 1)) == [(i, str(i)) for i in range(5)]
    # ledger carried through the compaction commit
    assert t.append_txn(
        spark.createDataFrame([(0, "0")], "k int, v string"), sink_app, 4
    ) is None


def test_txn_table_partitioned_commits_and_pruning(spark, tmp_path):
    """Hive-partitioned commits: partition values are recorded in the
    manifest, read() reconstructs the partition column, read_partition
    prunes from the manifest without listing storage, and mixed
    partitioned+unpartitioned history still reads."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "F"), (2, "F"), (3, "O"), (4, "P")], "k int, st string"
    )
    t.overwrite(df, partition_by=["st"])
    # partition column reconstructed on plain read
    assert sorted((r["k"], r["st"]) for r in t.read().collect()) == [
        (1, "F"), (2, "F"), (3, "O"), (4, "P"),
    ]
    # manifest-side pruning: only the st=F file(s) survive
    kept, total = t.pruned_partition_files(st="F")
    assert total >= 3 and kept < total
    got = sorted(r["k"] for r in t.read_partition(st="F").collect())
    assert got == [1, 2]
    # appending another partition extends the map
    t.append(
        spark.createDataFrame([(5, "F")], "k int, st string"),
        partition_by=["st"],
    )
    assert sorted(r["k"] for r in t.read_partition(st="F").collect()) == [1, 2, 5]
    # unpartitioned append coexists: conservative keep + residual filter
    t.append(spark.createDataFrame([(6, "F")], "k int, st string"))
    assert sorted(r["k"] for r in t.read_partition(st="F").collect()) == [
        1, 2, 5, 6,
    ]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 4, 5, 6]


def test_txn_table_partition_values_escaped(spark, tmp_path):
    """Partition values with URL-escaped characters round-trip through
    the path parsing."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a b"), (2, "c/d")], "k int, g string"
        ),
        partition_by=["g"],
    )
    mf = t._read_manifest(0)
    vals = sorted(v["g"] for v in (mf.partitions or {}).values())
    assert vals == ["a b", "c/d"]
    assert sorted(r["k"] for r in t.read_partition(g="c/d").collect()) == [2]


def test_txn_table_optimize_zorder_improves_two_dim_skipping(spark, tmp_path):
    """After OPTIMIZE ZORDER, the per-file stats prune band queries on
    BOTH interleaved columns; rows are unchanged."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    # 2-D data where neither column correlates with insertion order:
    # a = id scrambled, b = reversed-bit-ish companion
    df = spark.range(4096).selectExpr(
        "cast(pmod(hash(id), 1024) as long) as a",
        "cast(pmod(hash(id * 31 + 7), 1024) as long) as b",
        "id as payload",
    )
    t.overwrite(df.repartition(8))  # random layout: every file spans ~everything
    kept_a0, total0 = t.skipped_files("a", 0, 63)
    kept_b0, _ = t.skipped_files("b", 0, 63)
    assert total0 == 8 and kept_a0 == 8 and kept_b0 == 8  # nothing prunes
    v = t.optimize_zorder("a", "b", n_files=8, bits=10)
    kept_a1, total1 = t.skipped_files("a", 0, 63)
    kept_b1, _ = t.skipped_files("b", 0, 63)
    assert total1 == 8
    assert kept_a1 < 8 and kept_b1 < 8  # both dimensions now prune
    # rows identical, and the pruned read returns the exact band
    assert t.read(version=v).count() == 4096
    got = sorted(
        r["payload"] for r in t.read_where("a", 0, 63).collect()
    )
    expect = sorted(
        r["payload"]
        for r in df.filter((F.col("a") >= 0) & (F.col("a") <= 63)).collect()
    )
    assert got == expect


def test_txn_table_schema_evolution_append(spark, tmp_path):
    """An append with an added column evolves the table: old commits
    surface the new column as NULLs; time travel still reads the old
    schema exactly."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.append(
        spark.createDataFrame(
            [(2, "b", "extra")], "k int, v string, w string"
        )
    )
    got = sorted(
        (r["k"], r["v"], r["w"]) for r in t.read().collect()
    )
    assert got == [(1, "a", None), (2, "b", "extra")]
    assert t.read(version=0).columns == ["k", "v"]


def test_txn_table_change_data_feed_roundtrip(spark, tmp_path):
    """change_feed(v_from, v_to) replayed latest-wins over v_from
    (per version: deletes/preimages, then inserts/postimages)
    reconstructs v_to exactly."""
    from fefal_etl_spark.operators.upsert import apply_changelog
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        )
    )
    t.merge(spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"), keys=["k"])
    t.delete_where(F.col("k") == 3)
    cdf = t.change_feed(0, 2)
    # round-trip: v0 ∪ the feed, latest-wins -> v2
    base = t.read(version=0).select(
        "k", "v", F.lit(0).alias("__seq"), F.lit(0).alias("__ord"),
        F.lit("U").alias("op"),
    )
    out = F.col("_change_type").isin("delete", "update_preimage")
    feed = cdf.select(
        "k",
        "v",
        F.col("_commit_version").alias("__seq"),
        F.when(out, 0).otherwise(1).alias("__ord"),
        F.when(out, "D").otherwise("U").alias("op"),
    )
    rebuilt = apply_changelog(
        base.unionByName(feed), "k", seq_cols=["__seq", "__ord"]
    ).select("k", "v")
    assert _rows(rebuilt) == _rows(t.read(version=2))


def test_txn_table_concurrent_appends_land_exactly_once(spark, tmp_path):
    """8 threads × 3 appends each race on one table: the CAS loop must
    land every batch exactly once (64 distinct rows, version count =
    commit count, each version's file set a strict superset of its
    parent's)."""
    import threading

    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    TransactionalTable(spark, root).overwrite(
        spark.createDataFrame([(-1, "seed")], "k int, v string")
    )
    errors = []

    def writer(wid: int):
        try:
            t = TransactionalTable(spark, root)
            for j in range(3):
                k = wid * 10 + j
                t.append(
                    spark.createDataFrame([(k, f"w{wid}b{j}")], "k int, v string")
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    t = TransactionalTable(spark, root)
    assert t.latest_version() == 24  # 1 overwrite + 24 appends
    rows = _rows(t.read())
    assert len(rows) == 25 and len(set(rows)) == 25
    # manifest chain is strictly monotone in file sets (appends only)
    prev: set = set()
    for v in t.versions():
        cur = set(t._read_manifest(v).files)
        assert prev <= cur
        prev = cur


def test_txn_table_model_based_history(spark, tmp_path):
    """Model-based check: a scripted mix of overwrite/append/delete/merge
    replayed against a plain-Python model; every historical version must
    read back exactly the model state at that point."""
    from fefal_etl_spark.table import TransactionalTable

    def df_of(rows):
        return spark.createDataFrame(rows, "k int, v string")

    t = TransactionalTable(spark, str(tmp_path / "t"))
    history: list[dict[int, str]] = []
    model: dict[int, str] = {}

    def snap():
        history.append(dict(model))

    t.overwrite(df_of([(1, "a"), (2, "b"), (3, "c")]))
    model = {1: "a", 2: "b", 3: "c"}
    snap()
    t.append(df_of([(4, "d"), (5, "e")]))
    model.update({4: "d", 5: "e"})
    snap()
    t.delete_where(F.col("k").isin(2, 4))
    model = {k: v for k, v in model.items() if k not in (2, 4)}
    snap()
    t.merge(df_of([(3, "C"), (6, "f")]), keys=["k"])
    model.update({3: "C", 6: "f"})
    snap()
    t.compact(target_file_mb=64)
    snap()
    t.append(df_of([(7, "g")]))
    model[7] = "g"
    snap()
    assert t.versions() == list(range(len(history)))
    for v, expected in enumerate(history):
        got = dict(_rows(t.read(version=v)))
        assert got == expected, f"version {v}"


def test_transactional_table_sink_real_stream_restart(spark, tmp_path):
    """The sink under a REAL stream (file source, availableNow): every
    micro-batch lands as one atomic snapshot; a checkpoint restart over
    the same input re-lands nothing; new input extends the table."""
    from fefal_etl_spark.datasets import load_table
    from fefal_etl_spark.streaming.events import (
        read_event_stream,
        run_foreach_batch,
        transactional_table_sink,
    )
    from fefal_etl_spark.table import TransactionalTable

    src = str(tmp_path / "src")
    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .limit(300)
    )
    ev.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches

    root = str(tmp_path / "table")
    sink = transactional_table_sink(root, app_id="e2e")
    ckpt = str(tmp_path / "ckpt")
    run_foreach_batch(read_event_stream(spark, src), sink, ckpt)
    t = TransactionalTable(spark, root)
    assert t.read().count() == 300
    n_versions = len(t.versions())
    assert n_versions == 3  # one atomic commit per micro-batch
    # restart on the same checkpoint: no re-landing (checkpoint replays
    # nothing; even if it did, the txn ledger would skip)
    run_foreach_batch(read_event_stream(spark, src), sink, ckpt)
    assert t.read().count() == 300 and len(t.versions()) == n_versions
    # fresh checkpoint = full replay of all 3 batches: the LEDGER (not
    # the checkpoint) must dedupe every one
    run_foreach_batch(
        read_event_stream(spark, src), sink, str(tmp_path / "ckpt2")
    )
    assert t.read().count() == 300 and len(t.versions()) == n_versions


def test_txn_table_vacuum(spark, tmp_path):
    import os

    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.overwrite(spark.createDataFrame([(2, "b")], "k int, v string"))
    t.overwrite(spark.createDataFrame([(3, "c")], "k int, v string"))
    removed = t.vacuum(keep_versions=1)
    assert len(removed) == 2
    assert t.versions() == [2]
    assert _rows(t.read()) == [(3, "c")]
    # vacuumed history is gone (that's the contract), data dirs pruned
    assert len(os.listdir(os.path.join(str(tmp_path / "t"), "data"))) == 1


@pytest.mark.slow
def test_bfs_min_agg_mode_matches_pruned_mode(spark):
    """prune_visited=False (layered min-aggregation, single DAG) must
    return exactly the same (node, level) map as the pruned
    anti-join form on a graph with cycles, reconvergent paths, and
    unreachable nodes."""
    from fefal_etl_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),  # reconverge at d
            ("d", "a"),                                      # cycle back
            ("d", "e"), ("e", "f"),
            ("x", "y"),                                      # unreachable island
        ],
        "src string, dst string",
    )
    for hops in (1, 2, 3, 6):
        pruned = {
            r["node"]: r["level"]
            for r in bfs_levels(
                edges, "a", max_hops=hops, early_exit=False
            ).collect()
        }
        layered = {
            r["node"]: r["level"]
            for r in bfs_levels(
                edges, "a", max_hops=hops, prune_visited=False
            ).collect()
        }
        assert layered == pruned, f"hops={hops}"


# ----------------------------------------------------------------------
# deletion vectors (merge-on-read delete)
# ----------------------------------------------------------------------


def test_txn_table_dv_delete_masks_without_rewrite(spark, tmp_path):
    """delete_where_dv must not touch the data files (merge-on-read):
    the new manifest lists the SAME data files plus a DV sidecar, reads
    exclude the masked rows, and time travel still sees them."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    df = spark.range(40).select(
        F.col("id").cast("int").alias("k"), (F.col("id") % 4).alias("g")
    )
    v0 = t.overwrite(df.repartition(3))
    files_before = t._read_manifest(v0).files
    v1 = t.delete_where_dv(F.col("k") % 10 == 7)
    mf = t._read_manifest(v1)
    assert mf.files == files_before  # zero data files rewritten
    assert mf.dv_files and mf.op == "delete-dv"
    assert t.read().count() == 36
    assert t.deleted_positions() == 4
    assert t.read(v0).count() == 40  # pre-delete snapshot intact
    # stacked second vector composes
    t.delete_where_dv(F.col("k") % 10 == 8)
    assert t.read().count() == 32 and t.deleted_positions() == 8
    # masked rows are really the right ones
    ks = sorted(r["k"] for r in t.read().select("k").collect())
    assert all(k % 10 not in (7, 8) for k in ks) and len(ks) == 32


def test_txn_table_dv_applies_on_every_read_path(spark, tmp_path):
    """read(), read_where() and read_partition() must all apply the
    vectors — a path that forgets them resurrects deleted rows."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    df = spark.range(30).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
    )
    t.overwrite(df, partition_by=["p"])
    t.delete_where_dv(F.col("k") < 6)
    assert t.read().count() == 24
    assert t.read_where("k", 0, 11).count() == 6
    got = sorted(r["k"] for r in t.read_partition(p="0").collect())
    assert got == [6, 9, 12, 15, 18, 21, 24, 27]


def test_txn_table_dv_append_carries_and_rewrite_materializes(spark, tmp_path):
    """Appends carry the parent's vectors (they mask parent files);
    any CoW rewrite (compact here) materializes them — same rows, no
    dv_files in the new manifest — and vacuum keeps live DV sidecars."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(20).select(F.col("id").alias("k")))
    t.delete_where_dv(F.col("k") >= 15)
    v2 = t.append(spark.range(20, 25).select(F.col("id").alias("k")))
    assert t._read_manifest(v2).dv_files  # carried
    assert t.read().count() == 20
    v3 = t.compact()
    mf3 = t._read_manifest(v3)
    assert mf3.dv_files is None and t.read().count() == 20
    # vacuum to just the compacted snapshot: still readable
    t.vacuum(keep_versions=1)
    assert t.read().count() == 20
    assert sorted(r["k"] for r in t.read().collect()) == list(range(15)) + [
        20, 21, 22, 23, 24,
    ]


def test_txn_table_dv_vacuum_keeps_dv_sidecars(spark, tmp_path):
    """vacuum(keep_versions=1) on a DV snapshot must NOT remove the DV
    sidecar's directory — deleting it would resurrect masked rows."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(10).select(F.col("id").alias("k")))
    t.delete_where_dv(F.col("k") == 3)
    t.vacuum(keep_versions=1)
    assert sorted(r["k"] for r in t.read().collect()) == [
        0, 1, 2, 4, 5, 6, 7, 8, 9,
    ]


# ----------------------------------------------------------------------
# metadata-driven row deltas + incremental materialized view
# ----------------------------------------------------------------------


def test_row_deltas_append_reads_only_new_files(spark, tmp_path):
    """An append's delta is exactly the appended rows as +1 — and it is
    computed from ONLY the added files (the retained files' rows never
    enter the plan)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    v0 = t.overwrite(spark.range(100).select(F.col("id").alias("k")))
    v1 = t.append(spark.range(100, 130).select(F.col("id").alias("k")))
    d = t.row_deltas(v0, v1)
    assert d.groupBy("__delta").count().collect()[0][1] == 30
    assert sorted(r["k"] for r in d.collect()) == list(range(100, 130))
    # plan-level: only the appended commit's directory is scanned
    mf0, mf1 = t._read_manifest(v0), t._read_manifest(v1)
    added_dirs = {
        f.split("/")[1] for f in mf1.files if f not in set(mf0.files)
    }
    old_dirs = {f.split("/")[1] for f in mf0.files}
    scanned = {p.split("/data/")[1].split("/")[0] for p in d.inputFiles()}
    assert scanned == added_dirs
    assert not (scanned & old_dirs)


def test_row_deltas_dv_and_cow(spark, tmp_path):
    """DV deletes surface as -1 rows (only newly-masked positions);
    a CoW rewrite degenerates to full old(-1)/new(+1) and identical
    rows cancel at the aggregate level."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    v0 = t.overwrite(spark.range(50).select(F.col("id").alias("k")))
    v1 = t.delete_where_dv(F.col("k") % 5 == 0)
    d = t.row_deltas(v0, v1)
    assert {(r["__delta"], r["k"]) for r in d.collect()} == {
        (-1, k) for k in range(0, 50, 5)
    }
    # second vector: delta between v1 and v2 is only the NEW masks
    v2 = t.delete_where_dv(F.col("k") % 7 == 1)
    d2 = t.row_deltas(v1, v2)
    assert sorted(r["k"] for r in d2.collect()) == [1, 8, 22, 29, 36, 43]
    # CoW delete is FILE-level since r7: the delta covers only the
    # rewritten files — deleted keys appear as pure -1, survivors of
    # rewritten files appear as matched -1/+1 pairs, carried files
    # emit nothing
    v3 = t.delete_where(F.col("k") >= 40)
    d3 = [(r["__delta"], r["k"]) for r in t.row_deltas(v2, v3).collect()]
    minus = sorted(k for s, k in d3 if s == -1)
    plus = sorted(k for s, k in d3 if s == 1)
    deleted = sorted(
        k
        for k in range(40, 50)
        if k % 5 != 0 and k % 7 != 1  # already DV-masked rows excluded
    )
    assert sorted(set(minus) - set(plus)) == deleted
    assert set(plus) <= set(minus)  # rewritten survivors pair up
    assert t.read(v3).count() == t.read(v2).count() - len(deleted)
    # no change -> empty delta with the data schema + __delta
    assert t.row_deltas(v3, v3).count() == 0


def test_incremental_mv_matches_full_recompute(spark, tmp_path):
    """The self-maintainable SUM/COUNT view must equal a from-scratch
    recompute after init, append, DV-delete and CoW-delete refreshes —
    including NULL sum values and group disappearance."""
    from fefal_etl_spark.materialized import IncrementalAggView
    from fefal_etl_spark.table import TransactionalTable

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("g"),
            F.when(F.col("id") % 9 == 0, F.lit(None))
            .otherwise(F.col("id") * 1.5)
            .alias("v"),
        )

    src = TransactionalTable(spark, str(tmp_path / "src"))
    src.overwrite(mk(0, 80).repartition(3))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), ["g"], ["v"]
    )

    def check():
        got = {
            r["g"]: (r["n_rows"], r["sum_v"]) for r in mv.current().collect()
        }
        exp = {
            r["g"]: (r["n_rows"], r["sum_v"])
            for r in src.read()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.col("v").cast("decimal(24,4)"))
                .cast("decimal(30,4)")
                .alias("sum_v"),
            )
            .collect()
        }
        assert got == exp, (got, exp)

    assert mv.refresh() == 0  # init
    assert mv.view._read_manifest(0).op == "mv-init"
    check()
    assert mv.refresh() is None  # idempotent no-op
    src.append(mk(80, 120))
    assert mv.refresh() == 1
    assert mv.view._read_manifest(1).op == "mv-incr"  # took the delta path
    check()
    src.delete_where_dv(F.col("k") % 3 == 2)
    assert mv.refresh() == 2
    check()
    src.delete_where(F.col("g") == 1)  # CoW: whole group disappears
    assert mv.refresh() == 3
    check()
    assert not [r for r in mv.current().collect() if r["g"] == 1]
    # view history time-travels: the init state is still readable
    assert mv.current(version=0).count() == 4


def test_incremental_mv_all_null_group_sum_is_null(spark, tmp_path):
    """A group whose surviving rows are all-NULL in the sum column must
    report SUM = NULL (the SQL convention), even after incremental
    subtraction drove the non-null count to zero."""
    from fefal_etl_spark.materialized import IncrementalAggView
    from fefal_etl_spark.table import TransactionalTable

    src = TransactionalTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.createDataFrame(
            [(1, "a", 5.0), (2, "a", None), (3, "b", 7.0)],
            "k long, g string, v double",
        )
    )
    mv = IncrementalAggView(spark, src, str(tmp_path / "mv"), ["g"], ["v"])
    mv.refresh()
    src.delete_where_dv(F.col("k") == 1)  # group a loses its only value
    mv.refresh()
    got = {r["g"]: (r["n_rows"], r["sum_v"]) for r in mv.current().collect()}
    assert got["a"][0] == 1 and got["a"][1] is None
    assert got["b"][0] == 1 and float(got["b"][1]) == 7.0


def test_incremental_mv_replayed_refresh_skips(spark, tmp_path):
    """Exactly-once refresh: a replica replaying refresh() against an
    already-applied source version must not double-apply the delta (the
    ledger check runs inside the commit CAS)."""
    from fefal_etl_spark.materialized import IncrementalAggView
    from fefal_etl_spark.table import TransactionalTable

    src = TransactionalTable(spark, str(tmp_path / "src"))
    src.overwrite(spark.range(10).select(F.col("id").alias("k"), F.lit("x").alias("g"), F.col("id").cast("double").alias("v")))
    mv_a = IncrementalAggView(spark, src, str(tmp_path / "mv"), ["g"], ["v"])
    mv_b = IncrementalAggView(spark, src, str(tmp_path / "mv"), ["g"], ["v"])
    mv_a.refresh()
    src.append(spark.range(10, 15).select(F.col("id").alias("k"), F.lit("x").alias("g"), F.col("id").cast("double").alias("v")))
    assert mv_a.refresh() == 1
    assert mv_b.refresh() is None  # replica sees the ledger, skips
    assert mv_b.current().collect()[0]["n_rows"] == 15


def test_transactional_table_mv_sink_keeps_view_fresh(spark, tmp_path):
    """The combined sink lands batches exactly-once AND keeps the
    aggregate view equal to a full recompute after every batch; a
    replayed batch changes nothing; a crash between table-commit and
    view-refresh is healed by the next batch's catch-up delta."""
    from fefal_etl_spark.materialized import IncrementalAggView
    from fefal_etl_spark.streaming.events import (
        transactional_table_mv_sink,
        transactional_table_sink,
    )
    from fefal_etl_spark.table import TransactionalTable

    root, vroot = str(tmp_path / "t"), str(tmp_path / "v")
    sink = transactional_table_mv_sink(
        root, vroot, ["g"], ["x"], app_id="s1"
    )

    def batch(rows):
        return spark.createDataFrame(rows, "g string, x double")

    def check():
        t = TransactionalTable(spark, root)
        mv = IncrementalAggView(spark, t, vroot, ["g"], ["x"])
        got = {
            r["g"]: (r["n_rows"], float(r["sum_x"]))
            for r in mv.current().collect()
        }
        exp = {
            r["g"]: (r["n_rows"], float(r["s"]))
            for r in t.read()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.col("x").cast("decimal(24,4)")).alias("s"),
            )
            .collect()
        }
        assert got == exp, (got, exp)

    sink(batch([("a", 1.0), ("b", 2.0)]), 0)
    check()
    sink(batch([("a", 3.0)]), 1)
    check()
    # crash-replay of batch 1: table ledger skips, view stays consistent
    sink(batch([("a", 3.0)]), 1)
    check()
    assert TransactionalTable(spark, root).latest_version() == 1
    # crash between table-commit and view-refresh: land batch 2 via the
    # PLAIN sink (no refresh), then batch 3 via the mv sink — its single
    # catch-up delta must cover both
    transactional_table_sink(root, app_id="s1")(batch([("c", 5.0)]), 2)
    sink(batch([("b", 7.0)]), 3)
    check()


def test_txn_table_merge_dv_masks_and_appends(spark, tmp_path):
    """merge_dv must leave every pre-merge data file in the manifest
    (mask + append, zero rewrites), produce exactly the CoW merge()
    result, honor partial update_cols, and stack across merges."""
    from fefal_etl_spark.table import TransactionalTable

    def base(root):
        t = TransactionalTable(spark, str(tmp_path / root))
        t.overwrite(
            spark.createDataFrame(
                [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
                "k long, g string, v double",
            ).repartition(2)
        )
        return t

    src = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, g string, v double"
    )
    t = base("t")
    files0 = t._read_manifest(0).files
    v1 = t.merge_dv(src, ["k"])
    mf = t._read_manifest(v1)
    assert mf.op == "merge-dv"
    assert set(files0) <= set(mf.files)  # no data file dropped/rewritten
    assert mf.dv_files
    got = sorted(tuple(r) for r in t.read().collect())
    t2 = base("t2")
    t2.merge(src, ["k"])
    assert got == sorted(tuple(r) for r in t2.read().collect())
    assert got == [(1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0), (4, "d", 40.0)]
    assert t.read(0).count() == 3  # pre-merge snapshot intact
    # partial update_cols keeps target values for unlisted columns
    t3 = base("t3")
    t3.merge_dv(
        spark.createDataFrame([(1, "ZZZ", 77.0)], "k long, g string, v double"),
        ["k"],
        update_cols=["v"],
    )
    r = t3.read().filter(F.col("k") == 1).collect()[0]
    assert (r["g"], r["v"]) == ("a", 77.0)
    # a second merge_dv re-targets a row that is itself a merge image
    t.merge_dv(
        spark.createDataFrame([(2, "B2", 100.0)], "k long, g string, v double"),
        ["k"],
    )
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows == {1: 10.0, 2: 100.0, 3: 30.0, 4: 40.0}


def test_incremental_mv_sumsq_variance_matches_var_pop(spark, tmp_path):
    """track_sumsq: after init + append + DV delete, stats() must serve
    mean == avg and var == var_pop of a from-scratch recompute (moments
    accumulate in exact decimal, so incremental == full bit-for-bit on
    the carriers; the double derivation matches to float equality), and
    an all-NULL group must report NULL mean/var."""
    from fefal_etl_spark.materialized import IncrementalAggView
    from fefal_etl_spark.table import TransactionalTable

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            F.when(F.col("id") % 7 == 0, F.lit(None))
            .otherwise(F.col("id") * 2.5 + 0.33)
            .alias("v"),
        )

    src = TransactionalTable(spark, str(tmp_path / "src"))
    src.overwrite(mk(0, 60).repartition(3))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), ["g"], ["v"], track_sumsq=True
    )
    mv.refresh()
    src.append(mk(60, 90))
    mv.refresh()
    src.delete_where_dv(F.col("k") % 4 == 1)
    assert mv.refresh() == 2
    assert mv.view._read_manifest(2).op == "mv-incr"
    got = {
        r["g"]: (r["n_rows"], r["mean_v"], r["var_v"])
        for r in mv.stats().collect()
    }
    exp = {
        r["g"]: (r["n"], r["m"], r["var"])
        for r in src.read()
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("v").alias("m"),
            F.var_pop("v").alias("var"),
        )
        .collect()
    }
    assert set(got) == set(exp)
    for g in exp:
        assert got[g][0] == exp[g][0]
        assert abs(got[g][1] - exp[g][1]) < 1e-9 * max(1.0, abs(exp[g][1]))
        assert abs(got[g][2] - exp[g][2]) < 1e-6 * max(1.0, abs(exp[g][2]))
    # all-NULL group: sum/var go NULL, not 0
    src2 = TransactionalTable(spark, str(tmp_path / "s2"))
    src2.overwrite(
        spark.createDataFrame([(1, "a", None)], "k long, g string, v double")
    )
    mv2 = IncrementalAggView(
        spark, src2, str(tmp_path / "m2"), ["g"], ["v"], track_sumsq=True
    )
    mv2.refresh()
    r = mv2.stats().collect()[0]
    assert r["n_rows"] == 1 and r["mean_v"] is None and r["var_v"] is None


@_posix_log
@pytest.mark.slow
def test_txn_table_stream_source_tails_commits(spark, tmp_path):
    """The Python-data-source stream over a transactional table: initial
    drain covers all committed versions, a restart on the same checkpoint
    emits ONLY newly committed files, re-draining with no new commits
    emits nothing, and a CoW rewrite fails the append-only contract
    unless ignoreChanges=true."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableStreamDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.range(10).select(F.col("id").alias("k")))
    t.append(spark.range(10, 25).select(F.col("id").alias("k")))

    df = (
        spark.readStream.format("txn_table_stream")
        .option("path", root)
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain(frame=df, o=out, c=ckpt):
        q = (
            frame.writeStream.format("parquet")
            .option("path", o)
            .option("checkpointLocation", c)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 25
    t.append(spark.range(25, 30).select(F.col("id").alias("k")))
    drain()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == list(
        range(30)
    )
    drain()  # no new commits -> no new rows
    assert spark.read.parquet(out).count() == 30
    # CoW rewrite breaks the append-only contract
    t.delete_where(F.col("k") < 5)
    with pytest.raises(Exception, match="append-only"):
        drain()
    # ignoreChanges streams additions only: 25 initial + 5 appended +
    # the survivors the delete actually restaged (delete is FILE-level
    # since r7, so compute the restaged count from the commit log)
    v_del = t.latest_version()
    restaged = set(t._read_manifest(v_del).files) - set(
        t._read_manifest(v_del - 1).files
    )
    n_restaged = (
        t._read_files(sorted(restaged)).count() if restaged else 0
    )
    df2 = (
        spark.readStream.format("txn_table_stream")
        .option("path", root)
        .option("ignoreChanges", "true")
        .load()
    )
    drain(df2, str(tmp_path / "out2"), str(tmp_path / "ckpt2"))
    assert (
        spark.read.parquet(str(tmp_path / "out2")).count()
        == 30 + n_restaged
    )
    # the file-level delete carried at least one file by reference
    assert set(t._read_manifest(v_del).files) & set(
        t._read_manifest(v_del - 1).files
    )


def test_txn_table_schema_enforcement_and_constraints(spark, tmp_path):
    """Governance rides the manifest: a type-redefining write is
    rejected (new columns still evolve), CHECK constraints validate
    every write (SQL NULL-passes semantics), ADD CONSTRAINT validates
    existing data first, and both survive rewrites and appends."""
    from fefal_etl_spark.table import (
        ConstraintViolation,
        SchemaConflict,
        TransactionalTable,
    )

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "a", 10.0)], "k long, g string, v double")
    )
    assert t._read_manifest(0).schema == {
        "k": "bigint", "g": "string", "v": "double",
    }
    # evolution: a NEW column is fine and lands in the schema record
    t.append(
        spark.createDataFrame(
            [(2, "b", 5.0, "x")], "k long, g string, v double, extra string"
        )
    )
    assert t._read_manifest(1).schema["extra"] == "string"
    # redefining an existing column's type is rejected before staging
    with pytest.raises(SchemaConflict):
        t.append(
            spark.createDataFrame([("s", "c", 1.0)], "k string, g string, v double")
        )
    v = t.add_constraint("v >= 0")
    assert t._read_manifest(v).constraints == ["v >= 0"]
    n_before = t.read().count()
    with pytest.raises(ConstraintViolation):
        t.append(
            spark.createDataFrame([(3, "d", -1.0)], "k long, g string, v double")
        )
    assert t.read().count() == n_before  # nothing published
    t.append(spark.createDataFrame([(4, "e", None)], "k long, g string, v double"))
    assert t.read().count() == n_before + 1  # NULL passes CHECK
    with pytest.raises(ConstraintViolation):
        t.add_constraint("k < 3")  # existing k=4 violates
    t.compact()
    with pytest.raises(ConstraintViolation):  # survives the rewrite
        t.append(
            spark.createDataFrame([(9, "z", -5.0)], "k long, g string, v double")
        )
    # merge respects constraints too (the staged images are validated)
    with pytest.raises(ConstraintViolation):
        t.merge(
            spark.createDataFrame([(1, "a", -7.0)], "k long, g string, v double"),
            ["k"],
            update_cols=["v"],
        )


@_posix_log
def test_txn_table_changes_stream_cdf(spark, tmp_path):
    """The CDF stream: per-commit change rows with versions — appends
    ship added files, DV deletes ship only newly-masked rows, merge_dv
    surfaces Delta-parity update_preimage/update_postimage images plus
    plain inserts for source-only keys (round 9), the net replay of
    the feed equals the snapshot, and a restart ships only new commits."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableChangesDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableChangesDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.range(10).select(F.col("id").alias("k")))
    t.append(spark.range(10, 15).select(F.col("id").alias("k")))
    t.delete_where_dv(F.col("k") % 5 == 0)
    t.merge_dv(spark.createDataFrame([(7,), (99,)], "k long"), ["k"])

    df = (
        spark.readStream.format("txn_table_changes")
        .option("path", root)
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    r = spark.read.parquet(out)
    by_commit = {
        (x["_commit_version"], x["_change_type"]): x["count"]
        for x in r.groupBy("_commit_version", "_change_type").count().collect()
    }
    assert by_commit == {
        (0, "insert"): 10,
        (1, "insert"): 5,
        (2, "delete"): 3,  # k in {0, 5, 10} newly masked
        (3, "update_preimage"): 1,  # merge_dv masks old k=7
        (3, "update_postimage"): 1,  # ... appends k=7's new image
        (3, "insert"): 1,  # ... and inserts source-only k=99
    }
    # net replay (+1/-1 per key) reconstructs the live snapshot
    sig = (
        r.select(
            "k",
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                1,
            )
            .otherwise(-1)
            .alias("d"),
        )
        .groupBy("k")
        .agg(F.sum("d").alias("s"))
    )
    live = sorted(x["k"] for x in sig.filter("s = 1").collect())
    assert live == sorted(x["k"] for x in t.read().collect())
    # restart: only the new commit's changes arrive
    t.delete_where_dv(F.col("k") == 99)
    drain()
    new = (
        spark.read.parquet(out).filter("_commit_version = 4").collect()
    )
    assert [(x["k"], x["_change_type"]) for x in new] == [(99, "delete")]


def test_txn_table_history_asof_restore(spark, tmp_path):
    """history() lists every commit with wall time; read_as_of resolves
    by timestamp; restore() atomically re-points at an old snapshot
    (files + deletion vectors) without copying data, keeping the undone
    commits time-travelable."""
    import time

    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(5).select(F.col("id").alias("k")))
    ts0 = time.time()
    time.sleep(0.05)
    t.append(spark.range(5, 8).select(F.col("id").alias("k")))
    t.delete_where_dv(F.col("k") == 0)
    h = {r["version"]: r["op"] for r in t.history().collect()}
    assert h == {0: "overwrite", 1: "append", 2: "delete-dv"}
    assert all(
        r["commit_ts"] is not None for r in t.history().collect()
    )
    assert t.read_as_of(ts0).count() == 5
    assert t.read_as_of(time.time()).count() == 7
    v3 = t.restore(0)
    assert t._read_manifest(v3).op == "restore"
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 3, 4]
    assert t.read(2).count() == 7  # undone commits still travel
    # restore to a DV snapshot carries its vectors
    t.restore(2)
    assert t.read().count() == 7 and t.deleted_positions() == 1
    # vacuum to the restored snapshot: still readable (files + sidecars
    # referenced by the restore manifest survive)
    t.vacuum(keep_versions=1)
    assert t.read().count() == 7


def test_review_fixes_null_delete_restore_delta_evolved_cdf(spark, tmp_path):
    """Round-5 self-review regressions: (1) delete_where keeps rows with
    a NULL predicate (SQL DELETE semantics, matching delete_where_dv);
    (2) row_deltas emits +1 re-inserts when restore() un-masks deletion
    vectors, so an incremental MV converges after a restore; (3) the
    change feed covers columns added between the snapshots."""
    from fefal_etl_spark.materialized import IncrementalAggView
    from fefal_etl_spark.table import TransactionalTable

    # (1) NULL predicate rows survive both delete paths identically
    for sub, method in (("a", "delete_where"), ("b", "delete_where_dv")):
        t = TransactionalTable(spark, str(tmp_path / f"null_{sub}"))
        t.overwrite(
            spark.createDataFrame(
                [(1, 1.0), (2, None), (3, 9.0)], "k long, x double"
            )
        )
        getattr(t, method)(F.col("x") < 5)
        assert sorted(r["k"] for r in t.read().collect()) == [2, 3], method

    # (2) restore un-masks vectors -> row_deltas emits the re-inserts
    src = TransactionalTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.range(10).select(
            F.col("id").alias("k"),
            F.lit("g").alias("g"),
            F.col("id").cast("double").alias("v"),
        )
    )
    mv = IncrementalAggView(spark, src, str(tmp_path / "mv"), ["g"], ["v"])
    mv.refresh()
    src.delete_where_dv(F.col("k") < 4)
    mv.refresh()
    v_restore = src.restore(0)
    d = src.row_deltas(1, v_restore)
    assert sorted(r["k"] for r in d.collect()) == [0, 1, 2, 3]
    assert {r["__delta"] for r in d.collect()} == {1}
    mv.refresh()
    got = mv.current().collect()[0]
    assert (got["n_rows"], float(got["sum_v"])) == (10, 45.0)

    # (3) the change feed under schema evolution: a column added
    # between the versions appears, typed NULL on the delete side
    t2 = TransactionalTable(spark, str(tmp_path / "evo"))
    t2.overwrite(
        spark.createDataFrame([(1, "x"), (2, "y")], "k long, s string")
    )
    t2.overwrite(
        spark.createDataFrame(
            [(1, "x", 7.0), (2, "y", None)], "k long, s string, note double"
        )
    )
    ch = t2.change_feed(0, 1)
    assert dict(ch.dtypes)["note"] == "double"
    rows = {(r["k"], r["_change_type"]): r for r in ch.collect()}
    # k=1 gained note=7.0: the insert carries the new column, the
    # delete of the old row carries a NULL there
    assert rows[(1, "insert")]["note"] == 7.0
    assert rows[(1, "delete")]["note"] is None
    assert rows[(1, "delete")]["s"] == "x"


@_posix_log
def test_txn_table_changes_stream_restore_unmasks(spark, tmp_path):
    """The CDF stream must emit +insert rows when a restore() un-masks
    deletion vectors on retained files (sidecar sets are compared, not
    length-sliced), keeping downstream CDC consumers convergent."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableChangesDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableChangesDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.range(8).select(F.col("id").alias("k")))
    t.delete_where_dv(F.col("k") < 3)
    t.restore(0)  # un-masks k in {0,1,2}; same data files throughout

    df = (
        spark.readStream.format("txn_table_changes")
        .option("path", root)
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    r = spark.read.parquet(out)
    v2 = sorted(
        (x["k"], x["_change_type"])
        for x in r.filter("_commit_version = 2").collect()
    )
    assert v2 == [(0, "insert"), (1, "insert"), (2, "insert")]
    # net replay equals the restored snapshot
    sig = (
        r.select(
            "k",
            F.when(F.col("_change_type") == "insert", 1)
            .otherwise(-1)
            .alias("d"),
        )
        .groupBy("k")
        .agg(F.sum("d").alias("s"))
    )
    live = sorted(x["k"] for x in sig.filter("s = 1").collect())
    assert live == sorted(x["k"] for x in t.read().collect())


def test_txn_table_overwrite_partition(spark, tmp_path):
    """overwrite_partition swaps exactly one partition's files in one
    commit: every other partition's files are CARRIED (same paths),
    the target's rows are replaced, time travel sees the pre-reload
    state, and conflicting interleaved commits are rejected."""
    from fefal_etl_spark.table import CommitConflict, TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    base = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p")
    )
    t.overwrite(base, partition_by=["p"])
    files0 = set(t._read_manifest(0).files)
    v1 = t.overwrite_partition(
        spark.createDataFrame([(100,), (101,)], "k long"), p="1"
    )
    mf = t._read_manifest(v1)
    assert mf.op == "overwrite-partition"
    other0 = {
        f for f in files0 if (t._read_manifest(0).partitions or {}).get(f, {}).get("p") != "1"
    }
    assert other0 <= set(mf.files)  # untouched partitions carried as-is
    r = t.read()
    assert sorted(x["k"] for x in r.filter("p = '1'").collect()) == [100, 101]
    assert r.filter("p = '0'").count() == 10
    assert r.filter("p = '2'").count() == 10
    assert t.read(0).filter("p = '1'").count() == 10  # time travel
    # further appends land on top and the replaced partition persists
    t.append(
        spark.createDataFrame([(200, "0")], "k long, p string"),
        partition_by=["p"],
    )
    assert sorted(
        x["k"] for x in t.read().filter("p = '1'").collect()
    ) == [100, 101]
    assert CommitConflict is not None  # conflict path covered generically


def test_txn_table_bloom_point_lookup(spark, tmp_path):
    """build_bloom + read_point: manifest-side bloom skipping prunes
    files for point lookups with zero false negatives; files written
    after the build are conservatively kept; vectors still apply."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    t.overwrite(df.repartitionByRange(8, "k"))
    t.build_bloom("k")
    kept, total = t.skipped_files_bloom("k", 1234)
    assert kept < total  # real pruning
    for probe in (0, 1234, 3999):
        assert [r["k"] for r in t.read_point("k", probe).collect()] == [probe]
    # absent key: typically zero files, always zero rows
    assert t.read_point("k", 10**9).count() == 0
    # appended files have no bloom -> conservatively kept, still found
    t.append(spark.createDataFrame([(99999, 1)], "k long, g long"))
    assert t.read_point("k", 99999).count() == 1
    # deletion vectors apply on the point-lookup path too
    t.delete_where_dv(F.col("k") == 1234)
    assert t.read_point("k", 1234).count() == 0
