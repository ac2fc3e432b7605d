"""A `TransactionalTable` read takes each commit dir's schema from its
files' own footers (the Spark schema Spark's parquet writer stores
there): the frame equals Spark's inference over the same files, and
building it runs no Spark job."""

from __future__ import annotations

import datetime
import decimal
import os

import pytest

from fefal_etl_spark import cache, table
from fefal_etl_spark.queries import _jobs_submitted
from fefal_etl_spark.table import TransactionalTable


def _multi_commit(spark, t):
    t.overwrite(spark.range(3).selectExpr("id AS k", "id * 2 AS v"))
    t.append(spark.range(3, 5).selectExpr("id AS k", "id * 2 AS v"))
    t.append(spark.range(5, 6).selectExpr("id AS k", "id * 2 AS v"))


def _hive(spark, t):
    # numeric-looking string partition values and the NULL partition
    t.overwrite(
        spark.sql(
            "SELECT * FROM VALUES (1, '01'), (2, '1'), (3, NULL) AS t(k, p)"
        ),
        partition_by=["p"],
    )
    t.append(
        spark.sql("SELECT * FROM VALUES (4, '2.5'), (5, '1') AS t(k, p)"),
        partition_by=["p"],
    )


def _partition_evolution(spark, t):
    df = "SELECT * FROM VALUES {} AS t(k, v, p)"
    t.overwrite(
        spark.sql(df.format("(1, 'a', 'x'), (2, 'b', 'y')")),
        partition_by=["p"],
    )
    t.set_partition_spec([])  # later commits have no layout
    t.append(spark.sql(df.format("(3, 'c', 'x')")))
    t.append(spark.sql(df.format("(4, 'd', 'z')")))


def _column_ops(spark, t):
    t.overwrite(
        spark.sql(
            "SELECT CAST(id AS INT) AS k, CAST(id AS INT) AS v, "
            "CAST(id AS STRING) AS w, 'x' AS x FROM range(3)"
        )
    )
    t.alter_column_type("v", "bigint")
    t.append(
        spark.sql(
            "SELECT CAST(id AS INT) AS k, id AS v, CAST(id AS STRING) AS w, "
            "'x' AS x FROM range(3, 5)"
        )
    )
    t.add_column("z", "string")
    t.append(
        spark.sql(
            "SELECT CAST(id AS INT) AS k, id AS v, CAST(id AS STRING) AS w, "
            "'x' AS x, 'zz' AS z FROM range(5, 6)"
        )
    )
    t.rename_column("w", "w2")
    t.drop_column("x")


def _nested(spark, t):
    from pyspark.sql import functions as F

    def wave(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k", metadata={"comment": "the key"}),
            F.array("id", F.lit(None).cast("bigint")).alias("a"),
            F.struct(F.col("id").alias("x"), F.lit("s").alias("y")).alias("s"),
            F.create_map(F.lit("m"), F.col("id")).alias("m"),
            F.col("id").cast("decimal(12,3)").alias("d"),
            F.lit(datetime.datetime(2024, 1, 2, 3, 4, 5)).alias("ts"),
            F.expr("TIMESTAMP_NTZ'2024-01-02 03:04:05'").alias("tn"),
            F.lit(decimal.Decimal("1.5")).alias("d2"),
        )

    t.overwrite(wave(0, 3))
    t.append(wave(3, 4))


def _dv_masked(spark, t):
    t.overwrite(spark.range(8).selectExpr("id AS k", "id % 3 AS v"))
    t.append(spark.range(8, 10).selectExpr("id AS k", "id % 3 AS v"))
    t.delete_where_dv("k % 2 = 0")


def _sink(spark, t):
    from fefal_etl_spark.sources.table_batch import TxnTableBatchDataSource

    spark.dataSource.register(TxnTableBatchDataSource)
    for lo, hi in ((0, 4), (4, 6)):
        spark.range(lo, hi).selectExpr("id AS k", "id * 2 AS v").write.format(
            "txn_table"
        ).mode("append").save(t.root)


CASES = {
    "multi_commit": _multi_commit,
    "hive": _hive,
    "partition_evolution": _partition_evolution,
    "column_ops": _column_ops,
    "nested": _nested,
    "dv_masked": _dv_masked,
    "sink": _sink,
}


def _inferred(spark, t, files):
    """Spark's own inference over ``files``: one plain read per commit
    dir, ``basePath`` at the dir, the reads unioned by name."""
    groups: dict[str, list[str]] = {}
    for f in files:
        groups.setdefault("/".join(f.split("/")[:2]), []).append(f)
    out = None
    for commit, fs in groups.items():
        df = spark.read.option("basePath", os.path.join(t.root, commit)).parquet(
            *[os.path.join(t.root, f) for f in fs]
        )
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def _rows(df):
    return sorted(repr(r) for r in df.collect())


@pytest.mark.parametrize("case", list(CASES))
def test_read_schema_from_footers_equals_inference(
    spark, tmp_path, monkeypatch, case
):
    if case == "sink" and os.environ.get("FEFAL_TABLE_BACKEND") == "memory":
        pytest.skip("the sink's workers read the commit log from disk")
    root = str(tmp_path / "t")
    CASES[case](spark, TransactionalTable(spark, root))
    cache.release("read_plan")
    t = TransactionalTable(spark, root)  # fresh handle
    mf = t._read_manifest(t.latest_version())
    spark_written = case != "sink"  # the sink writes with pyarrow

    j0 = _jobs_submitted(spark)
    got = t.read()
    matching = t.read_matching("k >= 1")
    raw = t._read_files(mf.files)
    built = _jobs_submitted(spark) - j0
    if spark_written:
        assert built == 0
    else:  # no footer schema: each commit dir is inferred
        assert built > 0

    # the scan itself: Spark's inference over the same files
    want = _inferred(spark, t, mf.files)
    assert raw.schema == want.schema
    assert _rows(raw) == _rows(want)

    # the whole read (masks, column ops, declared types): the same read
    # with every footer hidden, so each group is read by inference
    cache.release("read_plan")
    monkeypatch.setattr(table, "_footer_schema", lambda path: None)
    ref = TransactionalTable(spark, root)
    assert got.schema == ref.read().schema
    assert _rows(got) == _rows(ref.read())
    assert _rows(matching) == _rows(ref.read_matching("k >= 1"))
    monkeypatch.undo()

    if mf.dv_files:
        cache.release("read_plan")
        j0 = _jobs_submitted(spark)
        n = TransactionalTable(spark, root).deleted_positions()
        jobs = _jobs_submitted(spark) - j0
        assert n == 5
        # its count is all it runs (a count is two scheduler jobs under
        # adaptive execution): no schema inference before it
        j0 = _jobs_submitted(spark)
        assert t._read_files(mf.dv_files).count() == n
        assert jobs == _jobs_submitted(spark) - j0
