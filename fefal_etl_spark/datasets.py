"""Canonical loaders for the driver-generated test tables (TESTDATA.md).

Centralizes the one schema quirk: ``events.parquet`` stores its ``ts`` column
as parquet TIMESTAMP(NANOS), which Spark's parquet reader rejects unless
``spark.sql.legacy.parquet.nanosAsLong=true`` (then it surfaces as LongType
nanoseconds). We normalize it to TIMESTAMP_NTZ microseconds — the same value
DuckDB sees — using integer division (``div``) so no precision is lost going
through doubles (ns-since-epoch exceeds 2^53).

At 100 TB these helpers are the template for source tables: a single
``spark.read.parquet`` per table, no driver-side materialization; column
pruning and predicate pushdown happen in the scan via Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fefal_etl_spark.cache import memo
from fefal_etl_spark.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<sf_dir>/<name>.parquet`` as a DataFrame, from the session cache
    (kind ``table``, keyed by dir and table name and stamped with that
    table's source fingerprint). A DataFrame is an immutable LAZY plan —
    caching the object reuses the resolved parquet relation (schema
    inference + file listing + DataSource resolution, measured ~110 ms
    of driver time per `spark.read.parquet` call), not any computed
    rows: every action on it still scans the parquet inputs. The frozen
    file listing is exact while the fingerprint holds, and a regenerated
    table gets a fresh relation. This is the same class of metadata
    reuse as Spark's own session-level FileStatusCache — it exists
    because a 180-query bench pass otherwise spends tens of seconds
    re-inferring schemas of the same ten files (optimization guide §5:
    the driver should do almost no data work)."""

    def build() -> DataFrame:
        apply_runtime_confs(spark)
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # nanos → micros exactly, then to tz-naive timestamp
            # (session tz=UTC).
            df = df.withColumn(
                "ts",
                F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"),
            )
        return df

    return memo(
        spark,
        "table",
        (os.path.abspath(sf_dir), name),
        build,
        sources=(sf_dir, (name,)),
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for spark.sql() access."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def fan_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` + repartition to the session's default parallelism.

    For operators whose per-row MAP work (word/shingle explodes, n-gram
    hashing, edit-distance DP, per-replicate fan-out) far exceeds the
    scanned bytes: Spark sizes scan splits by input bytes, so a small or
    single-row-group parquet arrives as ONE split and the whole map stage
    runs on one core until the first shuffle. The explicit repartition
    decouples map parallelism from input splits for a |rows|-shuffle that
    is noise next to the generated work (measured 3.7× on
    levenshtein_neardup, ~8× as part of the bootstrap_ci fix). At 100 TB
    scans have plentiful splits and AQE coalesces the extra exchange away
    — use it only where generated-work-per-input-byte is high."""
    return load_table(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )
