"""Round-8 hardening tests: NaN-sound predicate pruning end-to-end,
boolean partition-value normalization, null-count / IS NULL pruning,
truncated string stats, MERGE conflict narrowing, the batch write
DataSource, the object-store backend end-to-end, and the streaming
schema-evolution restart contract (VERDICT r7 items + ADVICE r7) —
plus the round-8 extensions: maintenance-op (compact/zorder/bloom)
rebase over interleaved appends, the STREAMING txn_table write
DataSource, and hive ``partitionBy`` through both sinks."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

# mirror of the guard in the r5-r7 suites: these tests read the log from
# disk artifacts or from DataSource worker processes, so they need the
# commit log on the filesystem
_posix_log = pytest.mark.skipif(
    os.environ.get("FEFAL_TABLE_BACKEND") == "memory",
    reason="needs the commit log on the filesystem (disk artifact "
    "inspection or DataSource worker-side log reads)",
)


# ----------------------------------------------------------------------
# ADVICE r7 (medium): NaN rows vs stats-pruned predicate discovery
# ----------------------------------------------------------------------


def test_delete_where_finds_nan_rows_despite_stats(spark, tmp_path):
    """A float column's footer min/max exclude NaN, but Spark orders NaN
    above every double: delete_where('v > 100.0') must still find and
    delete the NaN rows even when every file's stats say max < 100."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, float("nan")), (4, 3.0)],
            "k int, v double",
        ).repartition(2)
    )
    # the file holding the NaN row has stats max <= 3.0 — an unsound
    # pruner would skip it and the NaN row (which matches > 100 under
    # Spark NaN ordering) would survive the delete
    t.delete_where("v > 100.0")
    rows = {r["k"] for r in t.read().collect()}
    assert rows == {1, 2, 4}


def test_read_matching_keeps_nan_files(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 1.0), (2, float("nan"))], "k int, v double"
        ).coalesce(1)
    )
    got = t.read_matching("v >= 50.0").collect()
    assert [r["k"] for r in got] == [2]  # the NaN row matches >= in Spark


def test_between_prunes_float_stats_despite_nan():
    """NaN <= hi is false, so a NaN row never makes BETWEEN TRUE: float
    stats [0.5, 1.5] prove the file holds no row in [5, 8]. NOT BETWEEN
    still keeps it (the NaN row matches)."""
    from fefal_etl_spark.predicate_prune import prune_candidates

    stats = {"a": {"x": [0.5, 1.5]}}
    assert prune_candidates("x BETWEEN 5 AND 8", ["a"], stats, {}) == []
    assert prune_candidates("x BETWEEN 1 AND 8", ["a"], stats, {}) == ["a"]
    assert prune_candidates("NOT x BETWEEN 0 AND 2", ["a"], stats, {}) == [
        "a"
    ]


def test_read_where_between_on_float_files_with_nan(spark, tmp_path):
    """read_where is the pruner's BETWEEN: a float file whose stats miss
    [lo, hi] is skipped, a file holding a NaN row (its footer max is NaN
    — junk bounds) is kept, and the NaN row matches no BETWEEN but
    does match its negation."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, 0.5), (2, 1.5)], "k int, v double")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(3, 1.0), (4, float("nan"))], "k int, v double"
        ).coalesce(1)
    )
    assert t.skipped_files("v", 5.0, 8.0) == (1, 2)
    assert t.pruned_predicate_files("v BETWEEN 5 AND 8") == (1, 2)
    assert t.read_where("v", 5.0, 8.0).count() == 0
    assert {r["k"] for r in t.read_where("v", 0.5, 1.0).collect()} == {1, 3}
    got = t.read_matching("NOT v BETWEEN 0.0 AND 2.0").collect()
    assert [r["k"] for r in got] == [4]


# ----------------------------------------------------------------------
# ADVICE r7 (low): boolean partition values vs hive path form
# ----------------------------------------------------------------------


def test_overwrite_partition_boolean_values(spark, tmp_path):
    """Spark writes boolean partitions as ``c=true``; str(True) is
    'True', so the pre-fix in_target never matched and the target's old
    files were carried alongside the replacement (duplicates)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, True), (2, True), (3, False)], "k int, flag boolean"
        ),
        partition_by=["flag"],
    )
    t.overwrite_partition(
        spark.createDataFrame([(10,)], "k int"), flag=True
    )
    got = sorted(
        (r["k"], str(r["flag"]).lower()) for r in t.read().collect()
    )
    assert got == [(3, "false"), (10, "true")]


def test_overwrite_partition_rewrites_mixed_files(spark, tmp_path):
    """Review finding: a layout-less file holding rows of SEVERAL
    partitions used to be dropped whole when any of them was the
    overwrite target — its other-partition rows silently lost. Mixed
    files are now rewritten keeping their non-target survivors."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([("1", 10), ("2", 20)], "p string, v int"),
        partition_by=["p"],
    )
    # layout-less append MIXING target (p=1) and non-target (p=3) rows
    # in ONE file — stats cannot disprove target membership
    t.append(
        spark.createDataFrame(
            [("1", 11), ("3", 30)], "p string, v int"
        ).coalesce(1)
    )
    t.overwrite_partition(spark.createDataFrame([(100,)], "v int"), p="1")
    got = sorted((str(r["p"]), r["v"]) for r in t.read().collect())
    # p=1 fully replaced (both the hive file and the mixed file's row);
    # p=2 carried; p=3 SURVIVED the mixed-file rewrite
    assert got == [("1", 100), ("2", 20), ("3", 30)]


def test_read_partition_boolean_filter(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, True), (2, False), (3, False)], "k int, flag boolean"
        ),
        partition_by=["flag"],
    )
    kept, total = t.pruned_partition_files(flag=False)
    assert kept < total  # boolean filter actually prunes now
    assert {r["k"] for r in t.read_partition(flag=False).collect()} == {2, 3}


def test_rendered_literals_read_back_in_spark(spark, tmp_path):
    """The keyword readers render their values as SQL text: quotes and
    backslashes in strings survive Spark's parser (and the pruner's),
    and an infinite bound still reads (it renders as a cast the pruner
    leaves unpruned)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a\\b", 0.5), (2, "it's", 1.5), (3, None, 2.5)],
            "k int, s string, v double",
        ).repartition(3, "k")
    )
    assert [r["k"] for r in t.read_partition(s="a\\b").collect()] == [1]
    assert t.pruned_partition_files(s="a\\b")[0] == 1
    got = t.read_partition_in("s", ["it's", None]).collect()
    assert sorted(r["k"] for r in got) == [2, 3]
    got = t.read_where("v", 1.0, float("inf")).collect()
    assert sorted(r["k"] for r in got) == [2, 3]


def test_read_partition_none_reads_null_partition(spark, tmp_path):
    """``p=None`` is the NULL partition for both the read and the
    replace: read_partition returns the rows overwrite_partition
    replaces (``= NULL`` used to match nothing)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, None)], "k int, p string"
        ).coalesce(1),
        partition_by=["p"],
    )
    assert t.pruned_partition_files(p=None) == (1, 2)
    assert {r["k"] for r in t.read_partition(p=None).collect()} == {2, 3}
    assert {r["k"] for r in t.read_partition_in("p", [None]).collect()} == {
        2,
        3,
    }
    t.overwrite_partition(spark.createDataFrame([(9,)], "k int"), p=None)
    assert {r["k"] for r in t.read_partition(p=None).collect()} == {9}
    assert {r["k"] for r in t.read().collect()} == {1, 9}


def test_overwrite_partition_opens_no_covered_file(spark, tmp_path):
    """On a hive-only table every target file is covered by the
    partition predicate (and every other file pruned): the replace
    drops them from the manifest without a discovery scan or a restage
    — no existing data file is opened."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(12)
        .coalesce(1)
        .select(F.col("id").alias("k"), (F.col("id") % 3).alias("p")),
        partition_by=["p"],
    )
    before = set(t._read_manifest(0).files)
    opened = []
    orig = t._read_files

    def spy(files, **kw):
        opened.extend(files)
        return orig(files, **kw)

    t._read_files = spy
    v = t.overwrite_partition(spark.createDataFrame([(100,)], "k long"), p=1)
    t._read_files = orig
    assert not set(opened) & before
    mf = t._read_manifest(v)
    assert len(before - set(mf.files)) == 1  # the p=1 file, dropped whole
    assert {r["k"] for r in t.read_partition(p=1).collect()} == {100}
    assert t.read().count() == 9


def test_delete_where_opens_no_covered_file(spark, tmp_path):
    """A string delete whose predicate covers a whole hive file drops
    that file from the manifest without a discovery scan or a rewrite
    read, and leaves every other file carried unopened."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(12)
        .coalesce(1)
        .select(F.col("id").alias("k"), (F.col("id") % 3).alias("p")),
        partition_by=["p"],
    )
    before = set(t._read_manifest(0).files)
    opened = []
    orig = t._read_files

    def spy(files, **kw):
        opened.extend(files)
        return orig(files, **kw)

    t._read_files = spy
    v = t.delete_where("p = 1")
    t._read_files = orig
    assert opened == []
    mf = t._read_manifest(v)
    assert len(before - set(mf.files)) == 1  # the p=1 file, dropped whole
    assert set(mf.files) < before
    assert sorted(r["k"] for r in t.read().collect()) == [
        k for k in range(12) if k % 3 != 1
    ]


# ----------------------------------------------------------------------
# VERDICT r7 item 2: null counts in file stats + IS NULL pruning
# ----------------------------------------------------------------------


def test_is_null_pruning_from_null_counts(spark, tmp_path):
    """Files whose footers record zero nulls are pruned for an IS NULL
    predicate; all-null files are pruned for IS NOT NULL — both judged
    from manifest metadata alone."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"))
    t.append(
        spark.createDataFrame([(3, None), (4, "d")], "k int, s string")
    )
    t.append(
        spark.createDataFrame(
            [(5, None), (6, None)], "k int, s string"
        ).coalesce(1)
    )
    kept, total = t.pruned_predicate_files("s IS NULL")
    assert total >= 3 and kept < total  # no-null files pruned
    assert {r["k"] for r in t.read_matching("s IS NULL").collect()} == {
        3, 5, 6,
    }
    kept_nn, _ = t.pruned_predicate_files("s IS NOT NULL")
    assert kept_nn < total  # the all-null file is pruned
    assert {r["k"] for r in t.read_matching("s IS NOT NULL").collect()} == {
        1, 2, 4,
    }
    # all-NULL column proof: a range atom on an all-null file is NULL
    # for every row, so combined discovery can skip it
    t2 = TransactionalTable(spark, str(tmp_path / "t2"))
    t2.overwrite(
        spark.createDataFrame(
            [(1, None), (2, None)], "k int, v string"
        ).coalesce(1)
    )
    assert t2.pruned_predicate_files("v = 'x'")[0] == 0


def test_delete_where_null_cleanup(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, None)], "k int, s string"))
    t.delete_where("s IS NULL")
    assert [r["k"] for r in t.read().collect()] == [1]


# ----------------------------------------------------------------------
# VERDICT r7 item 3: Delta-style truncated string stats
# ----------------------------------------------------------------------


def test_truncate_str_range_bounds():
    from fefal_etl_spark.table import TransactionalTable as T

    n = T.STATS_MAX_STR_LEN
    lo, hi = "a" * (n + 40), "b" * (n + 40)
    rng = T._truncate_str_range(lo, hi)
    assert rng is not None
    assert len(rng[0]) <= n and len(rng[1]) <= n
    assert rng[0] <= lo and rng[1] > hi  # sound bounds
    # short strings pass through untouched
    assert T._truncate_str_range("x", "y") == ["x", "y"]
    # max at the increment boundary skips the surrogate range
    mx = "a" * (n - 1) + "퟿" + "tail-beyond-limit"
    rng = T._truncate_str_range("a", mx)
    assert rng is not None and rng[1] > mx and "\ud800" not in rng[1]
    # un-incrementable prefix: no sound upper bound -> entry dropped
    assert T._truncate_str_range("a", chr(0x10FFFF) * (n + 1)) is None


@_posix_log
def test_long_text_append_keeps_manifest_small(spark, tmp_path):
    """A long-document append must not copy document-sized min/max into
    the manifest — stats entries stay capped, and pruning on the
    truncated bounds stays sound (matching rows are never lost)."""
    import json

    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    # 200-char bodies: inside the band where parquet footers still
    # carry full min/max (the writer only drops stats for multi-KB
    # values) but far above the manifest's 32-char cap
    docs = spark.createDataFrame(
        [(i, ("doc-%03d " % i) + "x" * 200) for i in range(16)],
        "doc_id int, body string",
    ).repartitionByRange(4, "doc_id")
    t.overwrite(docs)
    rec = json.load(
        open(os.path.join(str(tmp_path / "t"), "_manifests", "manifest-0.json"))
    )
    saw_body_stats = False
    for fs in (rec.get("stats") or {}).values():
        for col, rng in fs.items():
            if col.startswith("__"):
                continue
            saw_body_stats = saw_body_stats or col == "body"
            for bound in rng:
                if isinstance(bound, str):
                    assert (
                        len(bound)
                        <= TransactionalTable.STATS_MAX_STR_LEN
                    )
    assert saw_body_stats  # entries exist AND are capped
    # pruning on truncated bounds: an equality probe for a real body
    # must keep its file (prefix bounds stay a superset test)
    body = ("doc-%03d " % 7) + "x" * 200
    esc = body.replace("'", "''")
    got = t.read_matching(f"body = '{esc}'").collect()
    assert len(got) == 1 and got[0]["doc_id"] == 7
    kept, total = t.pruned_predicate_files(f"body = '{esc}'")
    assert kept < total  # and the probe still prunes other files


# ----------------------------------------------------------------------
# VERDICT r7 item 1: MERGE conflict narrowing vs disjoint appends
# ----------------------------------------------------------------------


def _merge_base(spark, root):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, root)
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.overwrite(df.repartitionByRange(4, "k"))
    return t


def _interleave_append(t, t2, appended):
    """Monkeypatch ``t.stage_files`` so a second handle's append lands
    between the merge's staging and its commit — the deterministic
    two-writer interleave the round-7 narrowing tests use."""
    done = [False]
    orig = t.stage_files

    def hook(df, **kw):
        files = orig(df, **kw)
        if not done[0]:
            done[0] = True
            t2.append(appended.coalesce(1))
        return files

    t.stage_files = hook
    return orig


def test_merge_dv_rebases_over_disjoint_append(spark, tmp_path):
    """merge_dv + a key-disjoint append landing concurrently: BOTH
    commit — the merge rebases, the appended rows ride along untouched,
    the DV masks still apply (pre-r8 the merge lost every race)."""
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)
    t2 = TransactionalTable(spark, root)
    appended = spark.createDataFrame([(500, 1), (501, 2)], "k long, v long")
    orig = _interleave_append(t, t2, appended)
    src = spark.createDataFrame(
        [(3, -3), (7, -7), (60, -60)], "k long, v long"
    )
    v = t.merge_dv(src, keys=["k"])
    t.stage_files = orig
    assert v == 2  # append won v1, the merge landed as v2
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows[3] == -3 and rows[7] == -7  # updates applied
    assert rows[60] == -60  # insert applied
    assert rows[500] == 1 and rows[501] == 2  # appended rows carried
    assert rows[4] == 40  # untouched rows intact
    assert len(rows) == 53


def test_merge_cow_rebases_over_disjoint_append(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)
    t2 = TransactionalTable(spark, root)
    appended = spark.createDataFrame([(600, 6)], "k long, v long")
    orig = _interleave_append(t, t2, appended)
    src = spark.createDataFrame([(5, -5)], "k long, v long")
    v = t.merge(src, keys=["k"])
    t.stage_files = orig
    assert v == 2
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows[5] == -5 and rows[600] == 6 and rows[0] == 0
    assert len(rows) == 51


def test_merge_dv_overlapping_append_still_conflicts(spark, tmp_path):
    """An interleaved append whose keys intersect the merge key range
    stays a REAL conflict (the appended row could have been matched)."""
    from fefal_etl_spark.table import CommitConflict, TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)
    t2 = TransactionalTable(spark, root)
    appended = spark.createDataFrame([(5, 99)], "k long, v long")
    _interleave_append(t, t2, appended)
    src = spark.createDataFrame([(3, -3), (7, -7)], "k long, v long")
    with pytest.raises(CommitConflict):
        t.merge_dv(src, keys=["k"])


def test_merge_interleaved_rewrite_still_conflicts(spark, tmp_path):
    """A non-append interleaved commit (here a delete) never narrows."""
    from fefal_etl_spark.table import CommitConflict, TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)
    t2 = TransactionalTable(spark, root)
    done = [False]
    orig = t.stage_files

    def hook(df, **kw):
        files = orig(df, **kw)
        if not done[0]:
            done[0] = True
            t2.delete_where("k >= 45")
        return files

    t.stage_files = hook
    src = spark.createDataFrame([(3, -3)], "k long, v long")
    with pytest.raises(CommitConflict):
        t.merge(src, keys=["k"])


# ----------------------------------------------------------------------
# VERDICT r7 item 5: batch WRITE DataSource (df.write.format("txn_table"))
# ----------------------------------------------------------------------


@pytest.fixture()
def txn_format(spark):
    from fefal_etl_spark.sources.table_batch import TxnTableBatchDataSource

    spark.dataSource.register(TxnTableBatchDataSource)
    return spark


@_posix_log
def test_sink_append_overwrite_roundtrip(txn_format, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    root = str(tmp_path / "t")
    df = spark.range(10).selectExpr("id AS k", "id * 2 AS v")
    df.write.format("txn_table").mode("append").save(root)
    spark.range(10, 15).selectExpr("id AS k", "id * 2 AS v").write.format(
        "txn_table"
    ).mode("append").save(root)
    t = TransactionalTable(spark, root)
    assert t.latest_version() == 1 and t.read().count() == 15
    # stats (incl. null counts) recorded for sink-written files
    mf = t._read_manifest(1)
    assert any("k" in fs for fs in (mf.stats or {}).values())
    # overwrite replaces atomically
    spark.range(3).selectExpr("id AS k", "id * 2 AS v").write.format(
        "txn_table"
    ).mode("overwrite").save(root)
    assert t.read().count() == 3 and t._read_manifest(2).op == "overwrite"
    # time travel still sees the pre-overwrite snapshot
    assert t.read(1).count() == 15
    # round-trips through the read DataSource too
    assert spark.read.format("txn_table").load(root).count() == 3


@_posix_log
def test_sink_txn_ledger_skips_replay(txn_format, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    root = str(tmp_path / "t")
    spark.range(5).selectExpr("id AS k").write.format("txn_table").mode(
        "append"
    ).save(root)
    for _ in range(2):
        (
            spark.range(5, 8)
            .selectExpr("id AS k")
            .write.format("txn_table")
            .mode("append")
            .option("txnAppId", "job")
            .option("txnVersion", 3)
            .save(root)
        )
    t = TransactionalTable(spark, root)
    assert t.latest_version() == 1  # the replay published nothing
    assert t.read().count() == 8


@_posix_log
def test_sink_enforces_schema_and_constraints(txn_format, tmp_path):
    # Spark wraps driver-side commit() exceptions in AnalysisException
    # (PYTHON_DATA_SOURCE_ERROR) — match the carried message
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, 10)], "k int, v int"))
    t.add_constraint("v >= 0")
    # type redefinition rejected (int -> string is no widening)
    with pytest.raises(Exception, match="cannot redefine"):
        spark.createDataFrame([("x", 1)], "k string, v int").write.format(
            "txn_table"
        ).mode("append").save(root)
    # constraint violation rejected before any commit
    with pytest.raises(Exception, match="CHECK constraint"):
        spark.createDataFrame([(2, -5)], "k int, v int").write.format(
            "txn_table"
        ).mode("append").save(root)
    assert t.read().count() == 1  # nothing leaked
    # lossless widening accepted
    spark.createDataFrame([(2, 20)], "k bigint, v int").write.format(
        "txn_table"
    ).mode("append").save(root)
    assert t.read().count() == 2


# ----------------------------------------------------------------------
# VERDICT r7 item 7: streaming schema-evolution RESTART contract
# ----------------------------------------------------------------------


@_posix_log
@pytest.mark.slow
def test_stream_schema_evolution_restart_contract(spark, tmp_path):
    """The table stream's declared schema is FIXED at stream start
    (Delta's own semantics): a mid-stream additive evolution does NOT
    change a running stream's output schema — the new column arrives
    only after a RESTART (a fresh load()). This pins the contract the
    r7 verdict said was only documented in comments."""
    from pyspark.sql import functions as F

    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableStreamDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.createDataFrame([(1,), (2,)], "k int"))

    stream = (
        spark.readStream.format("txn_table_stream")
        .option("path", root)
        .load()
    )
    out1, ckpt1 = str(tmp_path / "out1"), str(tmp_path / "ckpt1")

    def drain(s, out, ckpt):
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(stream, out1, ckpt1)
    # EVOLVE mid-stream: append rows carrying a NEW column
    t.append(
        spark.createDataFrame([(3, "x"), (4, "y")], "k int, tag string")
    )
    # the RUNNING stream's schema is stable: no tag column, the new
    # rows still arrive (projected onto the declared schema)
    assert "tag" not in stream.columns
    drain(stream, out1, ckpt1)
    old = spark.read.parquet(out1)
    assert "tag" not in old.columns
    assert {r["k"] for r in old.collect()} == {1, 2, 3, 4}
    # RESTART (fresh load): the evolved schema is declared, old files
    # surface the added column as typed NULLs
    restarted = (
        spark.readStream.format("txn_table_stream")
        .option("path", root)
        .load()
    )
    assert "tag" in restarted.columns
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    drain(restarted, out2, ckpt2)
    got = {
        (r["k"], r["tag"])
        for r in spark.read.parquet(out2).collect()
    }
    assert got == {(1, None), (2, None), (3, "x"), (4, "y")}


# ----------------------------------------------------------------------
# VERDICT r7 item 4: object-store backend end-to-end (reads + listing
# + deletion through the backend, not just publish)
# ----------------------------------------------------------------------


@pytest.mark.slow
def test_inmemory_backend_full_table_lifecycle(spark, tmp_path):
    """The WHOLE table-layer surface with the commit log living ONLY in
    an InMemoryBackend (the S3-conditional-put model): no manifest,
    checkpoint or pointer object ever touches the filesystem, and
    every read path (snapshot resolution, time travel, history,
    pruning, DV masking, conflict walks, vacuum) works through backend
    get/list/delete. Two handles share the backend — the multi-writer
    shape."""
    from fefal_etl_spark.commit_backend import InMemoryBackend
    from fefal_etl_spark.table import CommitConflict, TransactionalTable

    b = InMemoryBackend()
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root, backend=b)
    t2 = TransactionalTable(spark, root, backend=b)

    df = spark.range(40).selectExpr("id AS k", "id * 2 AS v")
    t.overwrite(df.repartitionByRange(4, "k"))
    t2.append(spark.createDataFrame([(100, 1)], "k long, v long"))
    # stats-pruned predicate delete through the in-memory log
    t.delete_where("k >= 30 AND k <= 39")
    assert t.read().count() == 31
    # merge-on-read delete + merge with narrowing machinery
    t.delete_where_dv("k = 5")
    t2.merge_dv(
        spark.createDataFrame([(6, -6), (200, -1)], "k long, v long"),
        keys=["k"],
    )
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert 5 not in rows and rows[6] == -6 and rows[200] == -1
    # conflict detection still fires across handles
    staged = t.stage_files(spark.createDataFrame([(7, 0)], "k long, v long"))
    t2.append(spark.createDataFrame([(300, 3)], "k long, v long"))
    with pytest.raises(CommitConflict):
        t._commit(staged, "overwrite", 3, rebase_ok=False)
    # maintenance: bloom, zorder, compact, restore, checkpoints, vacuum
    t.build_bloom("k")
    assert t.skipped_files_bloom("k", 6)[0] < t.skipped_files_bloom("k", 6)[1]
    t.optimize_zorder("k", "v", n_files=2)
    t.compact()
    for i in range(4):  # push past CHECKPOINT_INTERVAL=10 commits
        t.append(spark.createDataFrame([(400 + i, i)], "k long, v long"))
    n_before = t.read().count()
    pre = t.latest_version()
    t.restore(pre - 1)
    assert t.read().count() == n_before - 1
    t.restore(pre)
    assert t.read().count() == n_before
    # history + AS OF through the backend
    assert t.history().count() == t.latest_version() + 1
    assert t.version_as_of(float("inf")) == t.latest_version()
    removed = t.vacuum(keep_versions=1)
    assert removed  # old snapshots physically gone
    assert t.read().count() == n_before
    # THE point: zero log objects on the filesystem
    mdir = os.path.join(root, "_manifests")
    assert os.listdir(mdir) == []
    assert any("manifest-" in k for k in b._objects)


def test_env_default_memory_backend(spark, tmp_path, monkeypatch):
    """FEFAL_TABLE_BACKEND=memory flips the process default so the
    existing table suites can run log-off-filesystem unchanged."""
    import fefal_etl_spark.table as tbl

    monkeypatch.setenv("FEFAL_TABLE_BACKEND", "memory")
    monkeypatch.setattr(tbl, "_MEMORY_BACKEND", None)
    root = str(tmp_path / "t")
    t = tbl.TransactionalTable(spark, root)
    t2 = tbl.TransactionalTable(spark, root)  # same shared log
    t.overwrite(spark.createDataFrame([(1,)], "k int"))
    t2.append(spark.createDataFrame([(2,)], "k int"))
    assert t.read().count() == 2
    assert os.listdir(os.path.join(root, "_manifests")) == []


@_posix_log
def test_sink_rejects_partitioned_table_append(txn_format, tmp_path):
    """Review finding: appending layout-less sink files into a
    hive-partitioned table would make a later overwrite_partition
    treat the mixed file as possibly-in-target — reject loudly.
    mode('overwrite') replaces the whole table (layout-less) and is
    allowed."""
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, p string"),
        partition_by=["p"],
    )
    with pytest.raises(Exception, match="partition layout"):
        spark.createDataFrame([(3, "c")], "k int, p string").write.format(
            "txn_table"
        ).mode("append").save(root)
    assert t.read().count() == 2
    # …but declaring the table's OWN layout via partitionBy is allowed
    # (round-8 extension): the sink writes hive col=value files
    spark.createDataFrame([(3, "c")], "k int, p string").write.format(
        "txn_table"
    ).mode("append").option("partitionBy", "p").save(root)
    assert t.read().count() == 3
    kept, total = t.pruned_partition_files(p="c")
    assert kept == 1 and total == 3  # the sink file partition-prunes
    spark.createDataFrame([(9, "z")], "k int, p string").write.format(
        "txn_table"
    ).mode("overwrite").save(root)
    assert t.read().count() == 1  # full replace is well-defined


@_posix_log
def test_sink_replay_cleans_staged_files(txn_format, tmp_path):
    """Review finding: a ledger-skipped replay must not leave its
    (invisible) staged parquet behind — repeated replays would
    accumulate unbounded dead files."""
    import glob

    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    root = str(tmp_path / "t")

    def save():
        (
            spark.range(4)
            .selectExpr("id AS k")
            .write.format("txn_table")
            .mode("append")
            .option("txnAppId", "job")
            .option("txnVersion", 1)
            .save(root)
        )

    save()
    n_files = len(glob.glob(os.path.join(root, "data", "*", "*.parquet")))
    for _ in range(3):
        save()  # replays: ledger-skipped
    t = TransactionalTable(spark, root)
    assert t.latest_version() == 0 and t.read().count() == 4
    assert (
        len(glob.glob(os.path.join(root, "data", "*", "*.parquet")))
        == n_files
    )


def test_rename_keeps_null_count_pruning(spark, tmp_path):
    """Review finding: the zero-rewrite rename must move the __nulls
    sub-map's key too, or IS NULL pruning silently dies on the renamed
    column (range pruning on the same column kept working)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    )
    t.append(
        spark.createDataFrame([(3, None)], "k int, s string").coalesce(1)
    )
    t.rename_column("s", "s2")
    kept, total = t.pruned_predicate_files("s2 IS NULL")
    assert kept < total  # null counts followed the rename
    assert {r["k"] for r in t.read_matching("s2 IS NULL").collect()} == {3}
    # and drop retires the entries instead of orphaning them
    t.drop_column("s2")
    mf = t._read_manifest(t.latest_version())
    for fs in (mf.stats or {}).values():
        assert "s2" not in (fs.get("__nulls") or {})


@_posix_log
def test_sink_rejects_generated_partition_tables(txn_format, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(
        spark.createDataFrame([(1, 4)], "k int, v int"),
        generated={"bucket": "k % 2"},
    )
    with pytest.raises(Exception, match="GENERATED"):
        spark.createDataFrame([(2, 5)], "k int, v int").write.format(
            "txn_table"
        ).mode("append").save(root)


# ----------------------------------------------------------------------
# round-8 extension: maintenance ops (compact / zorder / bloom) rebase
# over interleaved pure appends — OPTIMIZE must win races with a
# streaming ingest (table.py::_rebase_appends)
# ----------------------------------------------------------------------


def test_compact_rebases_over_append(spark, tmp_path):
    """compact + a concurrent append: BOTH commit — the compaction is a
    logical no-op so it carries the appended files verbatim (pre-r8
    OPTIMIZE lost every race with a streaming ingest)."""
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)  # 50 rows across 4 files
    t2 = TransactionalTable(spark, root)
    appended = spark.createDataFrame([(500, 1), (501, 2)], "k long, v long")
    orig = _interleave_append(t, t2, appended)
    v = t.compact()
    t.stage_files = orig
    assert v == 2  # append won v1, the compaction landed as v2
    ops = {r["version"]: r["op"] for r in t.history().collect()}
    assert ops[1] == "append" and ops[2] == "compact"
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 52 and rows[500] == 1 and rows[501] == 2
    mf = t._read_manifest(v)
    # base's 4 files collapsed; the appended file rides along untouched
    assert len(mf.files) == 2
    # the retained appended file KEEPS its stats in the resolved state
    # (cache and replay agree — the round-8 _commit carry)
    appended_file = [f for f in mf.files if f in set(
        t._read_manifest(1).files
    )]
    assert len(appended_file) == 1
    assert appended_file[0] in (mf.stats or {})
    fresh = TransactionalTable(spark, root)
    assert appended_file[0] in (fresh._read_manifest(v).stats or {})


def test_zorder_rebases_over_append(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)
    t2 = TransactionalTable(spark, root)
    appended = spark.createDataFrame([(600, 6)], "k long, v long")
    orig = _interleave_append(t, t2, appended)
    v = t.optimize_zorder("k", "v", n_files=2)
    t.stage_files = orig
    assert v == 2
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 51 and rows[600] == 6 and rows[0] == 0


def test_bloom_rebases_over_append(spark, tmp_path):
    """build_bloom + a concurrent append: the bloom commit rebases; the
    appended file has no bloom entry so read_point conservatively keeps
    it — no false negatives on either side of the race."""
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)
    t2 = TransactionalTable(spark, root)
    done = [False]
    orig = t._commit

    def hook(*a, **kw):
        if not done[0]:
            done[0] = True
            t2.append(
                spark.createDataFrame([(700, 7)], "k long, v long")
                .coalesce(1)
            )
        return orig(*a, **kw)

    t._commit = hook
    try:
        v = t.build_bloom("k")
    finally:
        t._commit = orig
    assert v == 2
    ops = {r["version"]: r["op"] for r in t.history().collect()}
    assert ops[1] == "append" and ops[2] == "bloom"
    # bloomed point lookup still finds base rows, appended rows are
    # conservatively readable (no bloom entry for their file)
    assert {r["k"] for r in t.read_point("k", 7).collect()} == {7}
    assert {r["k"] for r in t.read_point("k", 700).collect()} == {700}
    kept, total = t.skipped_files_bloom("k", 7)
    assert kept < total  # base files actually pruned


def test_compact_interleaved_delete_still_conflicts(spark, tmp_path):
    """A non-append interleaved commit (a delete rewrote rows the
    compaction also rewrote) stays a REAL conflict."""
    from fefal_etl_spark.table import CommitConflict, TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)
    t2 = TransactionalTable(spark, root)
    done = [False]
    orig = t.stage_files

    def hook(df, **kw):
        files = orig(df, **kw)
        if not done[0]:
            done[0] = True
            t2.delete_where("k >= 45")
        return files

    t.stage_files = hook
    try:
        with pytest.raises(CommitConflict):
            t.compact()
    finally:
        t.stage_files = orig


def test_compact_rebases_twice(spark, tmp_path):
    """Two appends land during one compaction (one per CAS retry): the
    rebase accumulates both — the loop converges, nothing is lost."""
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)
    t2 = TransactionalTable(spark, root)
    batches = [
        spark.createDataFrame([(800, 8)], "k long, v long"),
        spark.createDataFrame([(801, 9)], "k long, v long"),
    ]
    orig = t._commit

    def hook(*a, **kw):
        if batches:
            t2.append(batches.pop(0).coalesce(1))
        return orig(*a, **kw)

    t._commit = hook
    try:
        v = t.compact()
    finally:
        t._commit = orig
    assert v == 3
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 52 and rows[800] == 8 and rows[801] == 9


# ----------------------------------------------------------------------
# round-8 extension: STREAMING write DataSource
# (df.writeStream.format("txn_table") — sources/table_sink.py)
# ----------------------------------------------------------------------


def _drain(stream_df, root, ckpt, app_id, mode="append"):
    q = (
        stream_df.writeStream.format("txn_table")
        .option("path", root)
        .option("txnAppId", app_id)
        .option("checkpointLocation", ckpt)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@_posix_log
def test_stream_sink_appends_batches(txn_format, tmp_path):
    """txn_table source table → streaming read → streaming txn_table
    SINK: every micro-batch lands as one atomic stream-append commit
    with a ledger entry, and the target equals the source."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    spark.dataSource.register(TxnTableStreamDataSource)
    src_root = str(tmp_path / "src")
    dst_root = str(tmp_path / "dst")
    src = TransactionalTable(spark, src_root)
    src.overwrite(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"))
    src.append(spark.createDataFrame([(3, 30)], "k int, v int"))
    stream = (
        spark.readStream.format("txn_table_stream")
        .option("path", src_root)
        .load()
    )
    _drain(stream, dst_root, str(tmp_path / "ck"), "sink-a")
    dst = TransactionalTable(spark, dst_root)
    rows = {r["k"]: r["v"] for r in dst.read().collect()}
    assert rows == {1: 10, 2: 20, 3: 30}
    ops = {r["op"] for r in dst.history().collect()}
    assert ops == {"stream-append"}
    mf = dst._read_manifest(dst.latest_version())
    assert "sink-a" in (mf.txns or {})  # ledgered


@_posix_log
@pytest.mark.slow
def test_stream_sink_restart_is_incremental(txn_format, tmp_path):
    """Restarting with the same checkpoint after new source commits
    lands ONLY the new rows (offsets + ledger agree); restarting with
    no new data commits nothing."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    spark.dataSource.register(TxnTableStreamDataSource)
    src_root = str(tmp_path / "src")
    dst_root = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ck")
    src = TransactionalTable(spark, src_root)
    src.overwrite(spark.createDataFrame([(1, 10)], "k int, v int"))

    def stream():
        return (
            spark.readStream.format("txn_table_stream")
            .option("path", src_root)
            .load()
        )

    _drain(stream(), dst_root, ckpt, "sink-b")
    dst = TransactionalTable(spark, dst_root)
    v1 = dst.latest_version()
    _drain(stream(), dst_root, ckpt, "sink-b")  # no new data
    assert dst.latest_version() == v1
    src.append(spark.createDataFrame([(2, 20)], "k int, v int"))
    _drain(stream(), dst_root, ckpt, "sink-b")
    rows = {r["k"]: r["v"] for r in dst.read().collect()}
    assert rows == {1: 10, 2: 20}


@_posix_log
def test_stream_sink_ledger_skips_replayed_batch(txn_format, tmp_path):
    """The crash-between-sink-commit-and-checkpoint-commit case, driven
    through the writer protocol directly: re-committing the SAME
    (txnAppId, batchId) is skipped and its staged files are dropped —
    at-least-once replay, exactly-once landed rows."""
    import glob

    import pyarrow as pa

    from fefal_etl_spark.sources.table_sink import (
        TxnTableStreamWriter,
        _stage_task_batches,
    )
    from fefal_etl_spark.table import TransactionalTable
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = txn_format
    root = str(tmp_path / "t")
    schema = StructType([StructField("k", IntegerType())])
    w = TxnTableStreamWriter(root, schema, False, {"txnappid": "app"})
    batch = pa.record_batch({"k": pa.array([1, 2], type=pa.int32())})
    m1 = _stage_task_batches(root, "c1", iter([batch]))
    w.commit([m1], batchId=0)
    t = TransactionalTable(spark, root)
    assert t.latest_version() == 0
    # replay of batch 0 after a simulated crash: new staged file, same
    # (app, batch) — must skip AND clean the orphaned staging
    m2 = _stage_task_batches(root, "c2", iter([batch]))
    w.commit([m2], batchId=0)
    assert t.latest_version() == 0  # no new version
    staged = glob.glob(os.path.join(root, "data", "*", "*.parquet"))
    assert len(staged) == 1  # the replay's file was dropped
    # the NEXT batch proceeds normally
    m3 = _stage_task_batches(root, "c3", iter([batch]))
    w.commit([m3], batchId=1)
    assert t.latest_version() == 1
    assert t.read().count() == 4


def test_stream_sink_requires_app_id(tmp_path):
    from fefal_etl_spark.sources.table_sink import TxnTableStreamWriter
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([StructField("k", IntegerType())])
    with pytest.raises(ValueError, match="txnAppId"):
        TxnTableStreamWriter(str(tmp_path / "t"), schema, False, {})


@_posix_log
def test_stream_sink_complete_mode_overwrites(txn_format, tmp_path):
    """outputMode('complete') (an aggregate stream) maps to a ledgered
    OVERWRITE per micro-batch: the target always holds exactly the
    current aggregate state."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    spark.dataSource.register(TxnTableStreamDataSource)
    src_root = str(tmp_path / "src")
    dst_root = str(tmp_path / "dst")
    src = TransactionalTable(spark, src_root)
    src.overwrite(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "g string, v int"
        )
    )
    agg = (
        spark.readStream.format("txn_table_stream")
        .option("path", src_root)
        .load()
        .groupBy("g")
        .agg(F.sum("v").cast("long").alias("total"))
    )
    _drain(agg, dst_root, str(tmp_path / "ck"), "sink-c", mode="complete")
    dst = TransactionalTable(spark, dst_root)
    rows = {r["g"]: r["total"] for r in dst.read().collect()}
    assert rows == {"a": 3, "b": 3}
    ops = {r["op"] for r in dst.history().collect()}
    assert ops == {"overwrite"}


# ----------------------------------------------------------------------
# round-8 extension: hive partitionBy through the sink DataSources
# ----------------------------------------------------------------------


@_posix_log
def test_sink_partitioned_overwrite_and_prune(txn_format, tmp_path):
    """.option('partitionBy', ...) lays sink files out hive-style:
    partition values land in the manifest (pruning works), partition
    columns are dropped from file content and reconstructed on read —
    interoperable with stage_files' own layout."""
    import pyarrow.parquet as pq

    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, None, 40)],
        "k int, p string, v int",
    )
    # one task → deterministic file-per-partition counts
    df.coalesce(1).write.format("txn_table").mode("overwrite").option(
        "partitionBy", "p"
    ).save(root)
    t = TransactionalTable(spark, root)
    got = sorted((r["k"], r["p"], r["v"]) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, None, 40)]
    # manifest partition values present for every file
    mf = t._read_manifest(0)
    assert mf.partitions and len(mf.partitions) == len(mf.files)
    vals = {pv["p"] for pv in mf.partitions.values()}
    assert vals == {"a", "b", "__HIVE_DEFAULT_PARTITION__"}
    # pruning actually skips files
    kept, total = t.pruned_partition_files(p="b")
    assert kept == 1 and total == 3
    assert {r["k"] for r in t.read_partition(p="b").collect()} == {3}
    # partition column is NOT in the file content (hive convention)
    f = next(iter(mf.files))
    cols = pq.read_schema(os.path.join(root, f)).names
    assert "p" not in cols and set(cols) == {"k", "v"}
    # helper-API partition ops work on the sink-written layout
    t.overwrite_partition(
        spark.createDataFrame([(100, 1000)], "k int, v int"), p="a"
    )
    got = sorted(
        (r["k"], str(r["p"]), r["v"]) for r in t.read().collect()
    )
    assert got == [(3, "b", 30), (4, "None", 40), (100, "a", 1000)]


@_posix_log
def test_sink_partitioned_multi_column_and_escaping(txn_format, tmp_path):
    """Two partition columns, values needing percent-escaping (spaces,
    '=', '/'): the hive segments must round-trip through Spark's
    reconstruction AND the manifest's path parser."""
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (1, "x y", 2024, 1.5),
            (2, "a=b", 2024, 2.5),
            (3, "c/d", 2025, 3.5),
        ],
        "k int, cat string, yr int, v double",
    )
    df.coalesce(1).write.format("txn_table").mode("overwrite").option(
        "partitionBy", "cat,yr"
    ).save(root)
    t = TransactionalTable(spark, root)
    got = sorted(
        (r["k"], r["cat"], int(r["yr"]), r["v"])
        for r in t.read().collect()
    )
    assert got == [
        (1, "x y", 2024, 1.5),
        (2, "a=b", 2024, 2.5),
        (3, "c/d", 2025, 3.5),
    ]
    kept, total = t.pruned_partition_files(cat="a=b")
    assert kept == 1 and total == 3


@_posix_log
def test_stream_sink_partitioned_ingest(txn_format, tmp_path):
    """The 100 TB ingest topology: a stream lands hive-partitioned
    through the STREAMING sink — per-batch atomic commits, partition
    pruning live immediately after each batch."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    spark.dataSource.register(TxnTableStreamDataSource)
    src_root = str(tmp_path / "src")
    dst_root = str(tmp_path / "dst")
    src = TransactionalTable(spark, src_root)
    src.overwrite(
        spark.createDataFrame(
            [(1, "d1", 10), (2, "d2", 20)], "k int, day string, v int"
        )
    )
    src.append(
        spark.createDataFrame([(3, "d1", 30)], "k int, day string, v int")
    )
    stream = (
        spark.readStream.format("txn_table_stream")
        .option("path", src_root)
        .load()
    )
    q = (
        stream.writeStream.format("txn_table")
        .option("path", dst_root)
        .option("txnAppId", "part-ingest")
        .option("partitionBy", "day")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dst = TransactionalTable(spark, dst_root)
    rows = sorted((r["k"], r["day"], r["v"]) for r in dst.read().collect())
    assert rows == [(1, "d1", 10), (2, "d2", 20), (3, "d1", 30)]
    kept, total = dst.pruned_partition_files(day="d2")
    assert kept < total
    assert {r["k"] for r in dst.read_partition(day="d1").collect()} == {1, 3}


def test_sink_rejects_all_partition_columns(tmp_path):
    import pyarrow as pa

    from fefal_etl_spark.sources.table_sink import _stage_task_batches

    batch = pa.record_batch({"p": pa.array(["a"])})
    with pytest.raises(ValueError, match="ALL columns"):
        _stage_task_batches(
            str(tmp_path / "t"), "c0", iter([batch]), ["p"]
        )


def test_sink_rejects_missing_partition_column(tmp_path):
    import pyarrow as pa

    from fefal_etl_spark.sources.table_sink import _stage_task_batches

    batch = pa.record_batch({"k": pa.array([1])})
    with pytest.raises(ValueError, match="not in the written"):
        _stage_task_batches(
            str(tmp_path / "t"), "c0", iter([batch]), ["day"]
        )


# ----------------------------------------------------------------------
# round-8 extension: INCREMENTAL compaction (small_file_mb bin-packing —
# O(small files), not O(table))
# ----------------------------------------------------------------------


def test_incremental_compact_rewrites_only_small_files(spark, tmp_path):
    """compact(small_file_mb=...) bin-packs only the sub-threshold
    files; well-sized files are retained verbatim (same path, stats
    carried) — routine maintenance must not be a full table rewrite."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    big = spark.range(120_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
    )
    t.overwrite(big.coalesce(1))
    mf0 = t._read_manifest(0)
    assert len(mf0.files) == 1
    big_file = mf0.files[0]
    for i in range(3):  # three streaming-shaped tiny appends
        t.append(
            spark.createDataFrame(
                [(1_000_000 + i, "x")], "k long, v string"
            ).coalesce(1)
        )
    v = t.compact(small_file_mb=1)  # threshold below the big file
    assert v == 4
    mf = t._read_manifest(v)
    assert big_file in mf.files  # retained verbatim, not rewritten
    assert len(mf.files) == 2  # big + one packed file
    assert big_file in (mf.stats or {})  # stats carried for retained
    assert t.read().count() == 120_003


def test_incremental_compact_noop_without_victims(spark, tmp_path):
    """Fewer than two small files = nothing to pack: no empty commit."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1)
    )
    assert len(t._read_manifest(0).files) == 1
    assert t.compact(small_file_mb=1) == 0
    assert t.latest_version() == 0


def test_incremental_compact_keeps_retained_dv_masks(spark, tmp_path):
    """A deletion vector masking a RETAINED file must keep applying
    after an incremental compact (sidecars are kept while retained
    files may need them); masks on rewritten files are materialized."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    big = spark.range(120_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
    )
    t.overwrite(big.coalesce(1))
    t.append(
        spark.createDataFrame(
            [(1_000_000, "x"), (1_000_001, "y")], "k long, v string"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame([(1_000_002, "z")], "k long, v string")
        .coalesce(1)
    )
    # one DV delete hitting BOTH the big (retained) and small (victim)
    # files
    t.delete_where_dv("k IN (7, 1000000)")
    assert t.read().count() == 120_001
    v = t.compact(small_file_mb=1)
    mf = t._read_manifest(v)
    assert mf.dv_files  # sidecar kept for the retained file
    rows = t.read()
    assert rows.count() == 120_001
    ks = {
        r["k"]
        for r in rows.filter(F.col("k").isin(7, 1000000, 1000001, 1000002))
        .collect()
    }
    assert ks == {1000001, 1000002}  # both masks still effective


def test_incremental_compact_rebases_over_append(spark, tmp_path):
    """The selective rewrite inherits the maintenance rebase loop."""
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    t = _merge_base(spark, root)  # 4 small files
    t2 = TransactionalTable(spark, root)
    appended = spark.createDataFrame([(900, 9)], "k long, v long")
    orig = _interleave_append(t, t2, appended)
    v = t.compact(small_file_mb=64)  # everything is a victim
    t.stage_files = orig
    assert v == 2
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 51 and rows[900] == 9


def test_partition_scoped_compact(spark, tmp_path):
    """compact(partition_filter=...) rewrites ONE partition's shattered
    files and retains every other partition verbatim — at 100 TB you
    OPTIMIZE yesterday's partition, never the table."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "d1", 10), (2, "d2", 20)], "k int, day string, v int"
        ),
        partition_by=["day"],
    )
    for i in range(3):  # shatter d1 with per-batch appends
        t.append(
            spark.createDataFrame(
                [(10 + i, "d1", 100 + i)], "k int, day string, v int"
            ),
            partition_by=["day"],
        )
    before = t._read_manifest(t.latest_version())
    d2_files = [
        f
        for f, pv in (before.partitions or {}).items()
        if pv.get("day") == "d2"
    ]
    v = t.compact(partition_filter={"day": "d1"})
    mf = t._read_manifest(v)
    # d2's file untouched; d1's four files packed into one
    assert all(f in mf.files for f in d2_files)
    d1_after = [
        f
        for f, pv in (mf.partitions or {}).items()
        if pv.get("day") == "d1" and f in mf.files
    ]
    assert len(d1_after) == 1
    got = sorted((r["k"], str(r["day"]), r["v"]) for r in t.read().collect())
    assert got == [
        (1, "d1", 10), (2, "d2", 20),
        (10, "d1", 100), (11, "d1", 101), (12, "d1", 102),
    ]
    # scoping a partition with nothing to pack = no-op
    assert t.compact(partition_filter={"day": "d2"}) == v


def test_sink_auto_compact_self_maintains(spark, tmp_path):
    """transactional_table_sink(auto_compact_every=N): after every Nth
    landed batch the ingest bin-packs its own small files — the table
    never accumulates unbounded per-batch fragments."""
    from fefal_etl_spark.streaming.events import transactional_table_sink
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    fn = transactional_table_sink(root, "app", auto_compact_every=3)
    for b in range(6):
        fn(
            spark.createDataFrame([(b, b * 10)], "k int, v int").coalesce(1),
            b,
        )
    t = TransactionalTable(spark, root)
    ops = [r["op"] for r in t.history().orderBy("version").collect()]
    assert ops.count("compact") == 2  # fired at landed versions 3 and 6
    mf = t._read_manifest(t.latest_version())
    assert len(mf.files) <= 2  # fragments erased by the last pass
    assert {r["k"] for r in t.read().collect()} == {0, 1, 2, 3, 4, 5}
    # replayed batch: ledger skips, auto-compact does not fire again
    v = t.latest_version()
    fn(spark.createDataFrame([(0, 0)], "k int, v int"), 0)
    assert t.latest_version() == v


@_posix_log
def test_stream_sink_schema_evolution_across_restart(txn_format, tmp_path):
    """A restarted stream whose schema gained a column keeps appending:
    the sink's commit unions the schema (additive evolution), and rows
    landed before the restart surface the new column as NULLs — the
    same restart contract the streaming SOURCE pins."""
    import pyarrow as pa

    from fefal_etl_spark.sources.table_sink import (
        TxnTableStreamWriter,
        _stage_task_batches,
    )
    from fefal_etl_spark.table import TransactionalTable
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    spark = txn_format
    root = str(tmp_path / "t")
    s1 = StructType([StructField("k", IntegerType())])
    w1 = TxnTableStreamWriter(root, s1, False, {"txnappid": "app"})
    m = _stage_task_batches(
        root, "c1",
        iter([pa.record_batch({"k": pa.array([1], type=pa.int32())})]),
    )
    w1.commit([m], batchId=0)
    # restart with an evolved schema (new nullable column)
    s2 = StructType(
        [StructField("k", IntegerType()), StructField("tag", StringType())]
    )
    w2 = TxnTableStreamWriter(root, s2, False, {"txnappid": "app"})
    m = _stage_task_batches(
        root, "c2",
        iter([
            pa.record_batch(
                {"k": pa.array([2], type=pa.int32()),
                 "tag": pa.array(["b"])}
            )
        ]),
    )
    w2.commit([m], batchId=1)
    t = TransactionalTable(spark, root)
    got = sorted(
        (r["k"], r["tag"]) for r in t.read().collect()
    )
    assert got == [(1, None), (2, "b")]


# ----------------------------------------------------------------------
# round-8 extension self-review findings (partition rendering, vacuum
# reclamation, hive constraints, combo collisions, compaction cadence)
# ----------------------------------------------------------------------


def test_sink_rejects_float_partition_column(tmp_path):
    """pyarrow casts 1.0 -> '1' where Spark's hive writer and the
    manifest normalizer render '1.0' — a float-partitioned sink write
    would record values no probe ever matches, so it is rejected."""
    import pyarrow as pa

    from fefal_etl_spark.sources.table_sink import _stage_task_batches

    batch = pa.record_batch(
        {"k": pa.array([1]), "price": pa.array([1.0])}
    )
    with pytest.raises(ValueError, match="partitionBy column 'price'"):
        _stage_task_batches(
            str(tmp_path / "t"), "c0", iter([batch]), ["price"]
        )


def test_sink_partition_split_separator_values(tmp_path, spark):
    """Values containing the old join separators must stay distinct
    combos (review finding: a joined string key merged them)."""
    import pyarrow as pa

    from fefal_etl_spark.sources.table_sink import _stage_task_batches

    root = str(tmp_path / "t")
    batch = pa.record_batch(
        {
            "a": pa.array(["x\x1fy", "x", None]),
            "b": pa.array(["z", "y\x1fz", "z"]),
            "v": pa.array([1, 2, 3]),
        }
    )
    m = _stage_task_batches(root, "c0", iter([batch]), ["a", "b"])
    assert len(m.files) == 3  # three distinct combos, none merged
    dirs = {tuple(f.split("/")[2:-1]) for f in m.files}
    assert ("a=__HIVE_DEFAULT_PARTITION__", "b=z") in dirs


@_posix_log
def test_sink_partitioned_constraint_on_partition_column(
    txn_format, tmp_path
):
    """A CHECK constraint referencing a partition column must validate
    sink writes whose staged files carry that column in the PATH."""
    from fefal_etl_spark.table import ConstraintViolation, TransactionalTable

    spark = txn_format
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(
        spark.createDataFrame([(1, "EU")], "k int, region string"),
        partition_by=["region"],
    )
    t.add_constraint("region IN ('EU', 'US')")
    ok = spark.createDataFrame([(2, "US")], "k int, region string")
    ok.coalesce(1).write.format("txn_table").mode("append").option(
        "partitionBy", "region"
    ).save(root)
    assert t.read().count() == 2
    bad = spark.createDataFrame([(3, "XX")], "k int, region string")
    with pytest.raises(Exception) as ei:
        bad.coalesce(1).write.format("txn_table").mode("append").option(
            "partitionBy", "region"
        ).save(root)
    assert "CHECK" in str(ei.value)
    assert t.read().count() == 2


@_posix_log
def test_stream_sink_batches_vacuum_independently(txn_format, tmp_path):
    """Each stream-sink task invocation stages into its own
    data/<uuid>/ dir, so after compaction VACUUM reclaims superseded
    batches while the stream's newest files stay live (review finding:
    a query-lifetime shared dir was unreclaimable forever)."""
    import glob

    import pyarrow as pa

    from fefal_etl_spark.sources.table_sink import (
        TxnTableStreamWriter,
        _stage_task_batches,
    )
    from fefal_etl_spark.table import TransactionalTable
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = txn_format
    root = str(tmp_path / "t")
    schema = StructType([StructField("k", IntegerType())])
    w = TxnTableStreamWriter(root, schema, False, {"txnappid": "app"})
    for b in range(3):
        batch = pa.record_batch({"k": pa.array([b], type=pa.int32())})
        m = w.write(iter([batch]))
        w.commit([m], batchId=b)
    t = TransactionalTable(spark, root)
    dirs_before = {f.split("/")[1] for f in t._read_manifest(2).files}
    assert len(dirs_before) == 3  # one staging dir per batch
    t.compact()
    removed = t.vacuum(keep_versions=1)
    assert len(removed) >= 3  # every superseded batch dir reclaimed
    assert {r["k"] for r in t.read().collect()} == {0, 1, 2}
    leftover = glob.glob(os.path.join(root, "data", "*", "*.parquet"))
    assert len(leftover) == len(t._read_manifest(t.latest_version()).files)


def test_sink_auto_compact_counts_landed_batches(spark, tmp_path):
    """The cadence is every Nth LANDED batch — compaction's own
    commits must not inflate the trigger (review finding: a
    version-modulo trigger compacted every batch once parities
    aligned)."""
    from fefal_etl_spark.streaming.events import transactional_table_sink
    from fefal_etl_spark.table import TransactionalTable

    root = str(tmp_path / "t")
    fn = transactional_table_sink(root, "app", auto_compact_every=2)
    for b in range(4):
        fn(
            spark.createDataFrame([(b, b)], "k int, v int").coalesce(1),
            b,
        )
    t = TransactionalTable(spark, root)
    ops = [r["op"] for r in t.history().orderBy("version").collect()]
    # 4 landed batches, N=2 -> exactly 2 compactions, never per-batch
    assert ops.count("compact") == 2


# ----------------------------------------------------------------------
# round-8 extension: SQL UPDATE (CoW file-level + merge-on-read DV)
# ----------------------------------------------------------------------


def test_update_where_rewrites_only_hit_files(spark, tmp_path):
    """UPDATE ... SET ... WHERE as file-level CoW: files without
    matching rows carry untouched; NULL-predicate rows are unchanged
    (SQL semantics)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, None), (40, 400.0)],
            "k int, v double",
        ).repartitionByRange(2, "k")
    )
    mf0 = t._read_manifest(0)
    low_file = [
        f for f in mf0.files
        if (mf0.stats or {})[f]["k"][1] <= 3
    ]
    v = t.update_where("k <= 3 AND v > 5.0", {"v": "v + 100.0"})
    assert v == 1
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows == {1: 110.0, 2: 120.0, 3: None, 40: 400.0}
    mf = t._read_manifest(1)
    # the high-key file was carried by reference, not rewritten
    high = [f for f in mf0.files if f not in low_file]
    assert all(f in mf.files for f in high)
    assert all(f not in mf.files for f in low_file)
    # time travel shows the pre-update values
    assert {r["v"] for r in t.read(0).filter(F.col("k") == 1).collect()} == {
        10.0
    }


def test_update_where_rejects_unknown_set_column(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 1.0)], "k int, v double"))
    with pytest.raises(ValueError, match="SET column"):
        t.update_where("k = 1", {"nope": "1"})


def test_update_where_set_preserves_column_type(spark, tmp_path):
    """SET expressions cast back to the column's current type so the
    staged files never contradict the recorded schema."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 10)], "k int, v int"))
    t.update_where("k = 1", {"v": "v / 2"})  # / yields double pre-cast
    mf = t._read_manifest(1)
    assert (mf.schema or {}).get("v") == "int"
    assert [r["v"] for r in t.read().collect()] == [5]


def test_update_where_partition_column_rebuckets(spark, tmp_path):
    """Updating a hive partition column moves the rewritten rows into
    their new partition dirs; pruning keeps working."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "cold"), (2, "hot"), (3, "cold")], "k int, tier string"
        ),
        partition_by=["tier"],
    )
    t.update_where("k = 1", {"tier": "'hot'"})
    assert {r["k"] for r in t.read_partition(tier="hot").collect()} == {1, 2}
    kept, total = t.pruned_partition_files(tier="hot")
    assert kept < total


def test_update_where_dv_is_o_of_updated_rows(spark, tmp_path):
    """Merge-on-read UPDATE: the data files stay in the manifest, the
    old images are DV-masked, updated images append — and time travel
    still sees the originals."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    t.overwrite(base.repartitionByRange(4, "k"))
    mf0 = t._read_manifest(0)
    v = t.update_where_dv("k % 250 = 0", {"v": "v + 0.5"})
    assert v == 1
    mf = t._read_manifest(1)
    # every original data file still listed (no rewrite), plus images
    assert set(mf0.files) <= set(mf.files)
    assert mf.dv_files
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 1000
    assert rows[0] == 0.5 and rows[250] == 250.5 and rows[251] == 251.0
    # pre-update snapshot untouched
    old = {r["k"]: r["v"] for r in t.read(0).collect()}
    assert old[250] == 250.0
    # a later CoW pass materializes the masks away
    t.compact()
    assert not t._read_manifest(2).dv_files
    assert {
        r["v"] for r in t.read().filter(F.col("k") == 250).collect()
    } == {250.5}


def test_update_where_dv_no_match_is_noop_commit(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 1.0)], "k int, v double"))
    t.update_where_dv("k > 100", {"v": "0.0"})
    assert t.read().count() == 1
    assert [r["v"] for r in t.read().collect()] == [1.0]


@_posix_log
@pytest.mark.slow
def test_round8_model_based_random_ops(txn_format, tmp_path):
    """Seeded random mix exercising the ROUND-8 extension surfaces
    together: CoW and MoR UPDATE (string predicates — pruned and
    conservative discovery paths), incremental + partition-scoped
    compaction (which may legitimately decline to commit), DV deletes
    interleaved with updates, partitioned appends through the sink
    DataSource, and restore — every historical version must read back
    exactly the Python model through the writing handle AND a fresh
    handle (pure checkpoint + tail replay)."""
    import random

    from fefal_etl_spark.table import TransactionalTable

    spark = txn_format
    # separate op-choice and parameter streams so op coverage is a
    # pure function of the seed (parameter draws don't shift the ops)
    rng = random.Random(20260816)
    par = random.Random(7)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.CHECKPOINT_INTERVAL = 4

    def df_of(rows):
        return spark.createDataFrame(rows, "p string, k int, v int")

    model: dict[int, tuple[str, int]] = {
        k: (str(k % 3), k * 10) for k in range(12)
    }
    t.overwrite(
        df_of([(p, k, v) for k, (p, v) in model.items()]),
        partition_by=["p"],
    )
    history = [dict(model)]
    next_k = 100
    seen: set[str] = set()
    for _step in range(16):
        op = rng.choice(
            ["sink_append", "upd_cow", "upd_dv", "dv_del",
             "compact_small", "compact_part", "restore"]
        )
        seen.add(op)
        if op == "sink_append":
            rows = [
                (str(par.randrange(3)), next_k + i, (next_k + i) * 10)
                for i in range(par.randrange(1, 3))
            ]
            next_k += len(rows)
            df_of(rows).coalesce(1).write.format("txn_table").mode(
                "append"
            ).option("partitionBy", "p").save(root)
            model.update({k: (p, v) for p, k, v in rows})
        elif op == "upd_cow":
            cut = par.choice([6, 103, 106])
            t.update_where(f"k < {cut}", {"v": "v + 1"})
            model = {
                k: (p, v + 1 if k < cut else v)
                for k, (p, v) in model.items()
            }
        elif op == "upd_dv":
            mod = par.choice([2, 3, 5])
            # modulo predicate: conservative full-candidate discovery
            t.update_where_dv(f"k % {mod} = 0", {"v": "v * 2"})
            model = {
                k: (p, v * 2 if k % mod == 0 else v)
                for k, (p, v) in model.items()
            }
        elif op == "dv_del":
            cut = par.choice([4, 102, 110])
            t.delete_where_dv(f"k >= {cut}")
            model = {k: pv for k, pv in model.items() if k < cut}
        elif op == "compact_small":
            t.compact(small_file_mb=64, partition_by=["p"])
        elif op == "compact_part":
            t.compact(partition_filter={"p": str(par.randrange(3))})
        elif op == "restore":
            target = par.randrange(len(history))
            t.restore(target)
            model = dict(history[target])
        # compaction may decline (fewer than two victims): only record
        # a history entry when a version actually landed
        lv = t.latest_version()
        assert lv is not None and lv <= len(history)
        if lv == len(history):
            history.append(dict(model))
    assert seen == {
        "sink_append", "upd_cow", "upd_dv", "dv_del",
        "compact_small", "compact_part", "restore",
    }
    assert t.versions() == list(range(len(history)))

    def check(handle):
        for v, want in enumerate(history):
            if not want:
                with pytest.raises(FileNotFoundError, match="empty"):
                    handle.read(version=v)
                continue
            got = {
                r["k"]: (str(r["p"]), r["v"])
                for r in handle.read(version=v).collect()
            }
            assert got == want, f"version {v}"

    check(t)
    check(TransactionalTable(spark, root))


def test_update_where_enforces_check_constraints(spark, tmp_path):
    """UPDATE runs the same commit-time governance as every writing
    path (review finding: it previously skipped CHECK constraints —
    the one way to commit violating rows)."""
    from fefal_etl_spark.table import ConstraintViolation, TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 10)], "k int, v int"))
    t.add_constraint("v >= 0")
    with pytest.raises(ConstraintViolation):
        t.update_where("k = 1", {"v": "v - 100"})
    with pytest.raises(ConstraintViolation):
        t.update_where_dv("k = 1", {"v": "v - 100"})
    assert [r["v"] for r in t.read().collect()] == [10]
    t.update_where("k = 1", {"v": "v + 5"})  # valid updates still land
    assert [r["v"] for r in t.read().collect()] == [15]


def test_update_where_rederives_generated_columns(spark, tmp_path):
    """Updating a generated transform's SOURCE column moves the stored
    value AND the hive placement (review finding: hidden partitioning
    otherwise mis-pruned updated rows); SET directly on the generated
    column is rejected."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, 3), (2, 7)], "k int, ts int"),
        generated={"bucket": "ts % 2"},
    )
    with pytest.raises(ValueError, match="GENERATED"):
        t.update_where("k = 1", {"bucket": "0"})
    t.update_where("k = 1", {"ts": "ts + 1"})  # 3 -> 4: bucket 1 -> 0
    got = {
        r["k"]: (r["ts"], int(r["bucket"])) for r in t.read().collect()
    }
    assert got == {1: (4, 0), 2: (7, 1)}
    # manifest-side partition pruning sees the row in its NEW bucket
    assert {
        r["k"] for r in t.read_partition(bucket=0).collect()
    } == {1}


def test_update_where_dv_images_keep_hive_layout(spark, tmp_path):
    """MoR update images on a hive-partitioned table land in the
    table's layout, so partition pruning and partition-scoped
    compaction keep covering them (review finding: layout-less image
    files were unprunable forever)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "d1", 10), (2, "d2", 20)], "k int, day string, v int"
        ),
        partition_by=["day"],
    )
    t.update_where_dv("k = 1", {"v": "v + 1"})
    mf = t._read_manifest(1)
    assert all(
        "day" in (mf.partitions or {}).get(f, {}) for f in mf.files
    )
    kept, total = t.pruned_partition_files(day="d2")
    assert kept < total  # the image file prunes away for day=d2
    assert {r["v"] for r in t.read_partition(day="d1").collect()} == {11}


def test_dv_ops_no_empty_sidecar_on_unprunable_miss(spark, tmp_path):
    """A modulo predicate (not stats-prunable) matching nothing must
    not stage an empty sidecar or image file (review finding: every
    later read paid the anti-join for a mask that masks nothing)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double"))
    v1 = t.delete_where_dv("k % 7 = 3")  # no key ≡ 3 (mod 7)
    v2 = t.update_where_dv("k % 7 = 3", {"v": "0.0"})
    mf = t._read_manifest(v2)
    assert not mf.dv_files
    assert len(mf.files) == len(t._read_manifest(0).files)
    assert v1 == 1 and v2 == 2  # still versioned no-ops
    assert t.read().count() == 2
