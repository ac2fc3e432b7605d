"""Scale-mechanics tests: salted joins keep semantics while spreading hot
keys; bucketed tables join without exchanges; partitioned writes prune."""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from fefal_etl_spark.operators.skew import (
    explode_salt,
    repartition_for_join,
    salted_join,
    with_salt,
)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_join_equals_plain_join(spark):
    # heavy skew: 90% of probe rows share key 1
    probe = spark.range(1000).select(
        F.when(F.col("id") % 10 != 0, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    build = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    plain = probe.join(build, "k").select("k", "v", "w")
    salted = salted_join(probe, build, "k", n_salts=8).select("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    probe = spark.createDataFrame([(1, "a"), (99, "b")], "k int, v string")
    build = spark.createDataFrame([(1, "x")], "k int, w string")
    out = salted_join(probe, build, "k", n_salts=4, how="left").collect()
    got = {(r["k"], r["w"]) for r in out}
    assert got == {(1, "x"), (99, None)}


def test_salt_determinism_and_spread(spark):
    df = spark.range(1000).toDF("id")
    a = with_salt(df, 16).groupBy("__salt").count()
    assert a.count() > 8  # spreads over most salt values
    s1 = sorted(map(tuple, with_salt(df, 16).collect()))
    s2 = sorted(map(tuple, with_salt(df, 16).collect()))
    assert s1 == s2  # deterministic across evaluations
    b = explode_salt(spark.createDataFrame([(7,)], "k int"), 4)
    assert b.count() == 4


def test_bucketed_join_no_exchange(spark):
    import shutil

    from fefal_etl_spark.sources.writers import write_bucketed

    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_cust_b")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_orders_b", "t_cust_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    orders = spark.range(1000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 100).alias("custkey")
    )
    cust = spark.range(100).select(
        F.col("id").alias("custkey"), F.concat(F.lit("c"), F.col("id")).alias("name")
    )
    write_bucketed(orders, "t_orders_b", ["custkey"], num_buckets=8)
    write_bucketed(cust, "t_cust_b", ["custkey"], num_buckets=8)
    joined = (
        spark.table("t_orders_b")
        .hint("merge")  # force SMJ path so bucketing (not broadcast) is tested
        .join(spark.table("t_cust_b").hint("merge"), "custkey")
    )
    text = plan_of(joined)
    assert "Exchange" not in text, text  # co-bucketed: shuffle-free join
    assert joined.count() == 1000


def test_partition_pruning(spark):
    import os
    import shutil

    from fefal_etl_spark.sources.writers import write_parquet

    path = "/root/repo/.tmp/part_prune"
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3 + 2020).cast("int").alias("ano")
    )
    write_parquet(df, path, partition_by=["ano"])
    read = spark.read.parquet(path).filter(F.col("ano") == 2021)
    text = plan_of(read)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "ano" in m.group(1), text  # pruned at the directory level
    assert read.count() == df.filter(F.col("ano") == 2021).count()
    shutil.rmtree(path, ignore_errors=True)


def test_repartition_reuse(spark):
    df = spark.range(1000).select((F.col("id") % 10).alias("k"), F.col("id").alias("v"))
    pre = repartition_for_join(df, ["k"], num_partitions=8)
    agg1 = pre.groupBy("k").agg(F.sum("v").alias("s"))
    # groupBy on the pre-partitioned key adds no further exchange beyond the
    # explicit repartition itself (formatted plans list each node twice:
    # tree + details — count the detail headers)
    text = plan_of(agg1)
    assert len(re.findall(r"\(\d+\) Exchange", text)) == 1, text


def test_asof_join_plan_no_nested_loop(spark):
    from datetime import datetime

    from fefal_etl_spark.operators.joins import asof_join

    t = datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t, "a")], "k long, ts timestamp, x string")
    right = spark.createDataFrame([(1, t, 9)], "k long, ts timestamp, rv int")
    out = asof_join(left, right, on="k", right_cols={"rv": "rv", "ts": "rts"})
    text = plan_of(out)
    # union-then-window: scales as one key shuffle — never a join node at all
    assert "BroadcastNestedLoopJoin" not in text, text
    assert "CartesianProduct" not in text, text
    assert "Window" in text, text


def test_range_join_plan_no_nested_loop(spark):
    from datetime import datetime

    from fefal_etl_spark.operators.joins import range_join

    t = datetime(2024, 1, 1)
    pts = spark.createDataFrame([(1, t)], "pid long, ts timestamp")
    wins = spark.createDataFrame(
        [(0, t, datetime(2024, 1, 2))], "wid long, w_start timestamp, w_end timestamp"
    )
    out = range_join(pts, wins, "ts", "w_start", "w_end", bucket_seconds=3600)
    text = plan_of(out)
    # bucketized equi-join: the interval predicate is a post-join filter,
    # the join itself is hashable on __bucket — no quadratic fallback
    assert "BroadcastNestedLoopJoin" not in text, text
    assert "CartesianProduct" not in text, text


# The ONLY registry plans allowed to contain SortMergeJoin, each documented
# in docs/SCALE.md (big×big legs, bucketed layout, audit-scale truth joins).
# A new SMJ anywhere else is a plan regression: some dim join stopped
# broadcasting or a shuffle appeared where a broadcast belongs.
SMJ_WHITELIST = {
    "bucketed_join_orders",       # exchange-free SMJ is the bucketing's point
    "revenue_by_nation",          # orderkey-aligned fact×fact
    "full_outer_nation_activity", # big×big full outer
    "suppliers_kept_waiting",     # lineitem semi/anti self-joins
    "pagerank_trade_graph",       # per-round node joins, both sides grow
    "min_cost_supplier",          # derived×derived min-equality join
    "gaussian_lsh_recall",        # audit-scale truth join
    "star_idempotent_reload",     # reload-vs-dim truth join
    "cluster_safe_split",         # corpus×components: in a dup-heavy corpus
                                  # the component map approaches corpus
                                  # cardinality — SMJ is the safe static
                                  # shape; AQE demotes to BHJ when small
    "copurchase_triangles",       # orderkey-keyed fact×fact self-join for
                                  # co-occurrence pairs + wedge/closing
                                  # joins whose sides are edge-cardinality
                                  # — all genuinely big×big at scale
    "merge_into_orders",          # MERGE's full-outer target×source: both
                                  # sides are table-scale by definition —
                                  # SMJ is the only safe static shape
    "containment_neardup",        # corpus-shingles×rare-shingle-index
                                  # join: the rare index is corpus-
                                  # derived (not a dim) and grows with
                                  # the corpus — big×big, SMJ correct;
                                  # AQE demotes to BHJ when small
    "table_diff",                 # snapshot-vs-snapshot full outer:
                                  # both sides are the table itself
    "cdc_extract",                # same snapshot×snapshot full outer as
                                  # table_diff, different projection
    "minhash_jaccard_sources",    # the exact-Jaccard AUDIT side joins
                                  # vocab×vocab on word (corpus-derived,
                                  # big×big) — test-SF truth scaffolding
                                  # like gaussian_lsh_recall; the sketch
                                  # path being audited never joins
                                  # vocabularies
    "ppjoin_pairs",               # prefix×prefix candidate self-join on the
                                  # shingle key: both sides are corpus-
                                  # derived posting lists (big×big — SMJ is
                                  # the safe static shape; AQE demotes to
                                  # BHJ when the staged prefix table is
                                  # actually small). Surfaced when tokens
                                  # moved to a staged parquet whose real
                                  # size stats stopped the optimistic BHJ.
    "graph_bfs_levels",           # frontier×edges per BFS round: edges are
                                  # fact-derived and the frontier approaches
                                  # node cardinality on dense graphs —
                                  # big×big, SMJ is the safe static shape;
                                  # AQE demotes to BHJ when the frontier
                                  # is actually small
    "index_compaction_probe",     # same verify shape as
                                  # incremental_dedup_match below (the
                                  # compacted-index probe runs the same
                                  # match_new plan)
    "incremental_dedup_match",    # Jaccard-verify shingle intersection:
                                  # batch-shingles×candidate-shingles, both
                                  # corpus-derived posting lists (a daily
                                  # batch can be TBs) — big×big, SMJ is the
                                  # safe static shape; AQE demotes to BHJ
                                  # when the batch is actually small. The
                                  # INDEX probe itself broadcasts the new
                                  # side and never SMJs.
}


def test_registry_smj_whitelist_and_no_row_python(spark):
    """Full-registry plan gate (VERDICT r2 item 7): BatchEvalPython must be
    0 everywhere, and SortMergeJoin may appear ONLY in the whitelisted
    plans above — so 'every dim join broadcasts' can't silently rot."""
    from fefal_etl_spark.queries import get_queries

    q = get_queries()
    sf = "/root/testdata/sf0.001"
    offenders, python = [], []
    for name, fn in q.items():
        text = plan_of(fn(spark, sf))
        if "BatchEvalPython" in text:
            python.append(name)
        if "SortMergeJoin" in text and name not in SMJ_WHITELIST:
            offenders.append(name)
    assert not python, f"row-at-a-time Python crept into: {python}"
    assert not offenders, f"unwhitelisted SortMergeJoin in: {offenders}"


def test_round3_plans_no_python_no_cartesian(spark):
    """Round-3 plan-shape regression: none of the new query families may
    regress into row-at-a-time Python or a cartesian product, the
    decontamination train side must broadcast the eval set (never shuffle
    the corpus), and the Q21 self-joins must stay orderkey-keyed SMJ/BHJ."""
    from fefal_etl_spark.queries import get_queries

    q = get_queries()
    sf = "/root/testdata/sf0.001"
    for name in (
        "suppliers_kept_waiting",
        "decontaminate_overlap",
        "funnel_conversion",
        "events_ohlc",
        "ewma_smoothing",
        "purchase_attribution_join",
        "tfidf_top_terms",
        "dup_clusters",
        "scd2_dim_merge",
    ):
        text = plan_of(q[name](spark, sf))
        assert "BatchEvalPython" not in text, name
        assert "CartesianProduct" not in text, name
    # decontaminate: the eval shingle set is the broadcast side
    text = plan_of(q["decontaminate_overlap"](spark, sf))
    assert "BroadcastHashJoin" in text, text
    # attribution: user-keyed join with a range residual, no BNLJ
    text = plan_of(q["purchase_attribution_join"](spark, sf))
    assert "BroadcastNestedLoopJoin" not in text, text


def test_dpp_partition_join_prunes_dynamically(spark):
    """dpp_partition_join (V100) must actually trigger Spark's dynamic
    partition pruning: the quarter filter lives on the DIM, so the fact
    scan's PartitionFilters must carry a dynamicpruningexpression — if
    this regresses, the query silently degrades to scanning all month
    partitions (the exact failure DPP exists to prevent at 100 TB)."""
    from fefal_etl_spark.queries import get_queries

    df = get_queries()["dpp_partition_join"](spark, "/root/testdata/sf0.001")
    text = plan_of(df)
    assert "dynamicpruning" in text.lower(), text
