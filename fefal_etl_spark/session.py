"""SparkSession factory with scale-aware defaults.

The engine targets multi-executor clusters over ~100 TB; locally we run
``local[N]``. All tuning is expressed as plain Spark confs so the same code
runs unchanged on a real cluster — only ``master`` and the shuffle-partition
count change.

Key choices (rationale):

- **AQE on** (`spark.sql.adaptive.*`): runtime re-planning fixes shuffle
  partition counts, converts sort-merge to broadcast when a side turns out
  small, and splits skewed partitions — essential at 100 TB where static
  estimates are wrong.
- **ANSI off** for engine-owned sessions: the reference's semantics are
  "coerce, NULL on failure" (pandas ``errors='coerce'``; reference
  etl_ui.py:180,192-193,227-232). Library code nevertheless uses
  ``try_cast``/``try_*`` everywhere so it is also correct under a
  caller-provided ANSI-on session (Spark 4 default).
- **Session timezone UTC**: test parquet is timezone-naive; keeps
  TIMESTAMP ↔ TIMESTAMP_NTZ conversions identity-like and oracle-comparable.
- **Arrow on**: fast pandas interchange for the few driver-side shims
  (xlsx export) and for Pandas UDF extension points.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every engine entry point applies even to sessions it
# did not create (driver-owned sessions): these are all SQLConf runtime confs.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # parquet reader rejects; read as long nanos and convert (datasets.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions to the advisory byte size instead of
    # maximizing parallelism (the Spark-docs-recommended setting): multi-stage
    # DAGs over modest shuffle volumes otherwise pay per-task scheduling
    # overhead on dozens of near-empty partitions (measured 2.44s → 1.88s on
    # the minhash pipeline at sf0.1); at cluster scale partitions are sized
    # by bytes either way.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Best-effort application of runtime confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — proceed with its value
    return spark


def get_spark(
    app_name: str = "fefal_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count — correct for
    local mode; on a cluster leave AQE's coalescing to right-size post-shuffle
    partitions (initial partition num can stay high).

    ``spark.python.sql.dataFrameDebugging.enabled`` is off: with it on,
    every ``F.*``/Column call walks the Python stack and makes about five
    extra py4j calls to record its call site, which made up a third of
    a cold survey wave's plan-building time. The trade: an error raised
    when an action runs no longer names the Python line that built the
    failing column.
    """
    cpus = default_parallelism()
    # Driver heap: Spark's 1g default is sized for a thin cluster driver,
    # not a local[N] JVM that is simultaneously driver AND all executors.
    # Long shared sessions (the test suite, bench loops) accumulate
    # broadcasts/cached plans and OOM the 1g heap late in the run
    # (observed: Task serialization failed: java.lang.OutOfMemoryError
    # after ~170 suite tests). Sized well below the box but far above the
    # workload; override with SPARK_GRAFT_DRIVER_MEM.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        # ContextCleaner is driven by JVM weak references: with a large
        # driver heap, full GCs are rare and dead broadcasts/shuffle
        # state from a many-query session pile up in the block manager
        # until the default 30-minute periodic GC. A long-lived session
        # running hundreds of queries (bench loops here; a warehouse
        # endpoint in production) wants the floor lower; the System.gc
        # pause on an idle driver is milliseconds.
        .config("spark.cleaner.periodicGC.interval", "4min")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.showConsoleProgress", "false")
        # static: a session's Column calls skip the call-site capture
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    # spark.driver.memory only takes effect when THIS call launches the
    # process's first JVM; if a SparkContext already exists (e.g. an
    # embedding harness created one before get_spark), getOrCreate
    # silently ignores it and the heap sizing above does not apply — warn
    # instead of failing silently (ADVICE r3).
    from pyspark import SparkContext

    pre_existing = SparkContext._active_spark_context is not None
    spark = builder.getOrCreate()
    if pre_existing:
        def _mem_bytes(v: str) -> int:
            # JavaUtils-style suffix parse so '8g' == '8192m' == '8388608k'
            # compares equal instead of spuriously warning on spelling
            v = v.strip().lower()
            mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
            if v and v[-1] == "b" and len(v) > 1 and v[-2] in mult:
                v = v[:-1]
            if v and v[-1] in mult:
                try:
                    return int(v[:-1]) * mult[v[-1]]
                except ValueError:
                    return -1
            try:
                # Spark parses suffix-less spark.driver.memory as MiB
                # (JavaUtils.byteStringAsMb), not bytes
                return int(v) << 20
            except ValueError:
                return -1

        actual = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
        if _mem_bytes(actual) != _mem_bytes(driver_mem):
            import warnings

            warnings.warn(
                f"get_spark reused an existing SparkContext with "
                f"spark.driver.memory={actual} (requested {driver_mem}); "
                "set SPARK_GRAFT_DRIVER_MEM before any context is created "
                "to size the driver heap",
                RuntimeWarning,
                stacklevel=2,
            )
    return apply_runtime_confs(spark)
