"""Product/event-analytics query shapes over the events table.

The reference's event processing stops at windows/sessions (SURVEY §2.11);
these add the three classic clickstream shapes a warehouse team would run on
the same data — funnel conversion, cohort retention, and Markov-style
event-transition counts — each expressed as one declarative plan (conditional
aggregation, self-grouped date math, lag window) with a DuckDB oracle twin.

Scale notes: all three are single-shuffle plans — funnel and retention hash
on user_id, transitions hashes on user_id for the window then on the pair key
for the count. No self-joins: the funnel uses conditional MIN aggregation
instead of joining the events table once per stage (the naive 3-way self-join
would shuffle the fact three times; the conditional-agg form shuffles once
and scales linearly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fefal_etl_spark.datasets import load_table
from fefal_etl_spark.queries import register

# ==========================================================================
# Funnel conversion: view → click → purchase, ordered by first occurrence
# ==========================================================================


@register(
    "funnel_conversion",
    """
    WITH stages AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT
        CAST(count(*) AS BIGINT) AS n_users,
        CAST(count(t_view) AS BIGINT) AS n_view,
        CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
            AS n_view_click,
        CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_view
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
    FROM stages
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis — strictly-ordered view→click→purchase conversion
    counted from each user's *first* occurrence of every stage. One
    conditional-MIN aggregation per user then one global rollup: two
    shuffles total (user_id, then a single-row reduce), versus the naive
    per-stage self-join that reads and shuffles the events fact once per
    funnel stage. NULL timestamps (stage never reached) drop out of the
    strict > comparisons on both engines."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(stage: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == stage, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    strict_chain = (F.col("t_purchase") > F.col("t_click")) & (
        F.col("t_click") > F.col("t_view")
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)
        ).alias("n_view_click"),
        F.sum(F.when(strict_chain, 1).otherwise(0)).alias("n_view_click_purchase"),
    )


# ==========================================================================
# Cohort retention: first-activity-day cohorts × day offset
# ==========================================================================


@register(
    "cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(day_offset AS INT) AS day_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — users grouped by first-seen day, counted as active
    at each day offset ≤ 7. The cohort assignment is an aggregation on
    user_id joined back to the fact (shuffle-aligned: both sides hash on
    user_id, so AQE keeps them in one exchange), then a distinct + count on
    (cohort, offset). The events table spans one month, so day-granularity
    cohorts are the meaningful resolution (monthly cohorts would be one
    group). At 100 TB the firsts-frame is per-user-small and the join stays
    co-partitioned with the dedup that follows it."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        # date → timestamp so the hash canonicalizer sees one dtype on both
        # engines (pandas renders SQL DATE as Timestamp, Spark DATE as
        # datetime.date — same values, different hash)
        .withColumn("cohort_day", F.col("cohort_day").cast("timestamp_ntz"))
    )


# ==========================================================================
# Event transitions: per-user ordered bigrams (Markov transition counts)
# ==========================================================================


@register(
    "event_transitions",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n
    FROM ordered
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix — per-user lag() bigrams counted into a
    Markov transition table. The window orders by (ts, event_id) so
    same-timestamp events have a total order and the lag is deterministic
    on both engines. One user_id shuffle for the window (within-partition
    sort only — no global sort), one 25-group count. The 5×5 output is the
    input to funnel diagnostics ("where do users go after an error?")."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ==========================================================================
# Time-series downsampling: per-hour OHLC bars
# ==========================================================================


@register(
    "events_ohlc",
    """
    WITH ranked AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT user_id, bucket,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ranked
    GROUP BY user_id, bucket
    """,
)
def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling — per (user, hour) OHLC bars (the rollup a
    hypertable/metrics store continuously maintains). First/last are picked
    by a total (ts, event_id) order so same-timestamp events can't flip
    open/close between engines; high/low/count are order-insensitive. One
    (user, hour)-keyed window + the aggregation on the same key — the
    window shuffle satisfies the groupBy's distribution, so one exchange
    total, and at scale this is exactly the incremental-rollup shape
    (recompute only the buckets a late event touches)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    wa = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("bucket", bucket)
        .withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
        .groupBy("user_id", "bucket")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ==========================================================================
# EWMA smoothing: weighted rolling window via HOFs over a windowed list
# ==========================================================================


@register(
    "ewma_smoothing",
    """
    WITH wl AS (
        SELECT user_id, event_id,
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
        FROM events
    )
    SELECT user_id, event_id,
           CAST(round(
               list_reduce(
                   list_transform(l, (x, i) -> x * pow(0.5, len(l) - i)),
                   (acc, x2) -> acc + x2)
               / ((1 - pow(0.5, len(l))) * 2.0), 6) AS DOUBLE) AS ewma10
    FROM wl
    """,
)
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing (half-life decay over the trailing 10 events) — a
    *weighted* rolling aggregate, which no built-in window function
    expresses: `collect_list` over the row frame + a higher-order
    transform/fold applies the per-position weights entirely JVM-side
    (no UDF). The normalizer uses the closed-form geometric sum
    (1-a^n)/(1-a). Left-fold summation on both engines keeps the float
    result bit-comparable; output rounded to 6.
    Scale: one user-keyed window shuffle; the frame is 10 elements, so
    state per row is O(10) regardless of history length."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    wl = F.collect_list("value").over(w)
    n = F.size(F.col("l"))
    a = F.lit(0.5)
    weighted = F.transform(
        F.col("l"), lambda x, j: x * F.pow(a, (n - 1 - j).cast("double"))
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    den = (F.lit(1.0) - F.pow(a, n.cast("double"))) * 2.0
    return (
        ev.withColumn("l", wl)
        .select(
            "user_id",
            "event_id",
            F.round(num / den, 6).alias("ewma10"),
        )
    )


# ==========================================================================
# Stream-stream interval join, batch-verified (streaming/events.py)
# ==========================================================================


@register(
    "purchase_attribution_join",
    """
    SELECT p.user_id,
           p.event_id AS purchase_id,
           v.event_id AS view_id,
           p.value,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_s
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
)
def q_purchase_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, exercised batch-side (SURVEY §2.11):
    every purchase matched to the same user's views in the preceding 30
    minutes — the exact transform `streaming/events.py::
    purchase_view_attribution` runs under readStream with watermark-bounded
    join state (stream==batch pinned by
    tests/test_streaming_sources.py::test_purchase_view_attribution_stream_equals_batch).
    Batch plan: user-keyed hash join with a time-range residual — never a
    cartesian; both sides prune to their event_type at the scan."""
    from fefal_etl_spark.streaming.events import purchase_view_attribution

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return purchase_view_attribution(views, purchases, max_lag="30 minutes")


# ==========================================================================
# PageRank (iterative propagation template #3) on the customer↔supplier graph
# ==========================================================================


def _trade_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional customer↔supplier co-occurrence edges (orders ⋈
    lineitem, o_orderkey ≤ 6000), STAGED content-addressed so the two
    iterative-graph queries (`pagerank_trade_graph`, `graph_bfs_levels`)
    derive them once per source fingerprint instead of re-joining per
    call (BFS warm 1.87 → 1.44 s at sf0.1; the staging parquet read also
    replaces the operators' internal edge persist cheaply)."""
    from fefal_etl_spark.staging import source_fingerprint, stage_parquet

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 6000
    )
    li = load_table(spark, sf_dir, "lineitem")
    raw = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = raw.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(raw.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    return stage_parquet(
        spark,
        "trade_edges",
        source_fingerprint(sf_dir, "orders", "lineitem"),
        edges,
        scope="session",
    )



@register(
    "pagerank_trade_graph",
    """
    WITH raw AS (
        SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
                        's:' || CAST(l_suppkey AS VARCHAR) AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey <= 6000
    ),
    e AS (SELECT c AS src, s AS dst FROM raw UNION ALL SELECT s, c FROM raw),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    n AS (SELECT count(*) AS nn FROM nodes),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn AS rank FROM nodes, n),
    c1 AS (SELECT e.dst AS node, sum(r.rank / deg.d) AS contrib
           FROM e JOIN r0 r ON r.node = e.src JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
    r1 AS (SELECT nodes.node,
                  (CAST(1.0 AS DOUBLE) - 0.85) / nn + 0.85 * coalesce(c1.contrib, 0.0) AS rank
           FROM nodes CROSS JOIN n LEFT JOIN c1 ON c1.node = nodes.node),
    c2 AS (SELECT e.dst AS node, sum(r.rank / deg.d) AS contrib
           FROM e JOIN r1 r ON r.node = e.src JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
    r2 AS (SELECT nodes.node,
                  (CAST(1.0 AS DOUBLE) - 0.85) / nn + 0.85 * coalesce(c2.contrib, 0.0) AS rank
           FROM nodes CROSS JOIN n LEFT JOIN c2 ON c2.node = nodes.node)
    SELECT node, CAST(round(rank, 9) AS DOUBLE) AS rank FROM r2
    """,
)
def q_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative-propagation template #3 — PageRank (2 unrolled rounds,
    d=0.85) over the bidirectional customer↔supplier trade graph derived
    from co-occurrence in orders. Same design family as the k-means
    template: fixed rounds unroll into one lazy DAG,
    the edge frame persists once, each round = two node-keyed shuffles.
    Because the graph is bidirectional every node has out-edges, so the
    dangling-mass term vanishes exactly. Ranks rounded to 9 (float sums
    are order-dependent at ~1e-16; see operators/graph.py::pagerank)."""
    from fefal_etl_spark.operators.graph import pagerank

    out = pagerank(_trade_graph_edges(spark, sf_dir), iters=2, damping=0.85)
    return out.select("node", F.round("rank", 9).alias("rank"))


# ==========================================================================
# Hierarchy traversal: ancestor paths over an implicit tree (recursive class)
# ==========================================================================


@register(
    "hierarchy_paths",
    """
    WITH RECURSIVE nodes AS (
        SELECT o_orderkey AS id FROM orders WHERE o_orderkey BETWEEN 1 AND 255
    ),
    walk(id, cur, path) AS (
        SELECT id, id, CAST(id AS VARCHAR) FROM nodes
        UNION ALL
        SELECT w.id, w.cur // 2,
               CAST(w.cur // 2 AS VARCHAR) || '/' || w.path
        FROM walk w WHERE w.cur > 1
    )
    SELECT id, CAST(len(string_split(path, '/')) - 1 AS INT) AS depth, path
    FROM walk
    WHERE cur = 1
    """,
)
def q_hierarchy_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical/recursive query class: root-to-node ancestor paths over
    the implicit binary tree parent(n) = n/2 on order keys 1–255. Spark
    has no recursive CTE, and this tree needs none: the ancestor k levels
    up is ``id >> k``, so depth = bit length − 1 and the path is the
    shifts from ``depth`` down to 0 — one narrow projection (zero joins,
    zero shuffles). Unrolling the climb instead (one nested select per
    level) doubles the expression each level, and the generated class
    for 8 levels outgrows janino's 64 KB limit. With an explicit parent
    table each level becomes one broadcast join against the dim-sized
    parent map (BOM explosion, org charts). Oracle = genuine recursive
    CTE."""
    orders = load_table(spark, sf_dir, "orders")
    nodes = orders.filter(F.col("o_orderkey").between(1, 255)).select(
        F.col("o_orderkey").alias("id")
    )
    # shiftright() only takes a literal shift in the Python API; the SQL
    # form accepts the lambda variable
    path = F.expr(
        "transform(sequence(depth, 0, -1), k -> CAST(shiftright(id, k) AS STRING))"
    )
    return nodes.select(
        "id", (F.length(F.bin("id")) - 1).cast("int").alias("depth")
    ).select("id", "depth", F.concat_ws("/", path).alias("path"))


# ==========================================================================
# Dense time-grid gap filling: every (hour, event_type) cell, zeros filled
# ==========================================================================


@register(
    "events_gapfill",
    """
    WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
    counts AS (
        SELECT h, event_type, CAST(count(*) AS BIGINT) AS n
        FROM ev GROUP BY h, event_type
    ),
    bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM ev)
    SELECT g.h AS hour, t.event_type, COALESCE(c.n, 0) AS n
    FROM grid g
    CROSS JOIN types t
    LEFT JOIN counts c ON g.h = c.h AND t.event_type = c.event_type
    """,
)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-grid gap filling — the resample step dashboards and
    forecasting features need: a zero-count row for every (hour,
    event_type) cell of the [min, max] range, even hours with no events.

    Shape: hourly counts (one shuffle), a one-row min/max agg exploded
    into the hour grid (`sequence` + explode — the grid is derived data,
    never a driver loop), grid × distinct-types broadcast cross join,
    left join of the counts back. The grid side is tiny (hours × types),
    so the only data-sized cost stays the original count aggregation —
    at 100 TB the dense frame is still hours × types, independent of the
    event count."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    )
    counts = ev.groupBy("h", "event_type").agg(F.count(F.lit(1)).alias("n"))
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    return (
        grid.crossJoin(F.broadcast(types))
        .join(counts, on=["h", "event_type"], how="left")
        .select(
            F.col("h").alias("hour"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


# ==========================================================================
# Rolling 7-day distinct users (V50): sliding COUNT(DISTINCT) by fan-out
# ==========================================================================


@register(
    "rolling_distinct_users",
    """
    WITH ud AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
        FROM events
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ud),
    contrib AS (
        SELECT user_id,
               CAST(unnest(generate_series(
                   CAST(d AS TIMESTAMP),
                   CAST(d AS TIMESTAMP) + INTERVAL 6 DAY,
                   INTERVAL 1 DAY)) AS DATE) AS day
        FROM ud
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users_7d
    FROM contrib
    WHERE day BETWEEN (SELECT lo FROM bounds) AND (SELECT hi FROM bounds)
    GROUP BY day
    """,
)
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window COUNT(DISTINCT) — 7-day rolling active users per day,
    the engagement metric every product warehouse computes and the shape
    SQL windows cannot express (no DISTINCT over a RANGE frame).

    Spark-first formulation: collapse events to distinct (user, day) pairs
    FIRST (one shuffle; output is users x active-days, orders of magnitude
    below the event count), then fan each pair out to the <=7 window days
    it contributes to (`sequence` + explode — a narrow x7 expansion of the
    already-collapsed table, never of the raw events), and count distinct
    users per window day. The distinct-before-fanout ordering is the scale
    decision: fanning out raw events first would 7x the full fact table
    through a shuffle, while this plan's second shuffle carries <= 7 rows
    per user-day. Window days outside the observed [min, max] range are
    clipped to match the dense-grid convention of `events_gapfill`."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.to_date(F.col("ts")).alias("d"), "user_id"
    ).distinct()
    bounds = ud.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence("d", F.date_add("d", 6), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    return (
        contrib.join(
            F.broadcast(bounds),
            (F.col("day") >= F.col("lo")) & (F.col("day") <= F.col("hi")),
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("active_users_7d"))
        # date → timestamp: one dtype for the hash canonicalizer (see
        # cohort_retention)
        .withColumn("day", F.col("day").cast("timestamp_ntz"))
    )


# ==========================================================================
# Time-series linear interpolation over the dense hourly grid (V51)
# ==========================================================================


@register(
    "events_interpolate",
    """
    WITH ev AS (
        SELECT date_trunc('hour', ts) AS h, event_type, value FROM events
    ),
    series AS (
        SELECT h, event_type, min(value) AS v
        FROM ev GROUP BY h, event_type
    ),
    bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM ev),
    dense AS (
        SELECT g.h, t.event_type, s.v
        FROM grid g
        CROSS JOIN types t
        LEFT JOIN series s ON g.h = s.h AND t.event_type = s.event_type
    ),
    bracketed AS (
        SELECT h, event_type, v,
               last_value(v IGNORE NULLS) OVER w_past AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER w_past AS ph,
               first_value(v IGNORE NULLS) OVER w_future AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER w_future AS nh
        FROM dense
        WINDOW w_past AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_future AS (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT h AS hour, event_type,
           round(CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE pv + (nv - pv)
                    * ((epoch(h) - epoch(ph)) / (epoch(nh) - epoch(ph)))
           END, 6) AS v_interp,
           (v IS NULL) AS was_gap
    FROM bracketed
    """,
)
def q_events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing cells in a regular time series — the
    resampling step that turns raw events into model-ready feature grids.
    Builds the same dense (hour x type) grid as `events_gapfill`, then
    fills each empty cell from its bracketing observations:
    v = prev + (next - prev) * (t - t_prev) / (t_next - t_prev), with
    nearest-side fill at the series edges.

    The per-hour aggregate is MIN (order-insensitive and exact on doubles)
    rather than AVG, whose summation order would differ between engines;
    the interpolation expression is written with the identical operation
    order on both sides so the IEEE results agree bit-for-bit before the
    round(6).

    Scale: the heavy step is the hourly aggregation (one shuffle of the
    fact); everything after runs on the tiny dense grid (hours x types),
    where two ignore-nulls windows per type locate the bracketing
    observations in one pass each — no self-join of the series against
    itself, no per-gap iteration."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type", "value"
    )
    series = ev.groupBy("h", "event_type").agg(F.min("value").alias("v"))
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    dense = grid.crossJoin(F.broadcast(types)).join(
        series, on=["h", "event_type"], how="left"
    )
    w_past = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_future = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked_h = F.when(F.col("v").isNotNull(), F.col("h"))
    bracketed = dense.select(
        "h",
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(w_past).alias("pv"),
        F.last(marked_h, ignorenulls=True).over(w_past).alias("ph"),
        F.first("v", ignorenulls=True).over(w_future).alias("nv"),
        F.first(marked_h, ignorenulls=True).over(w_future).alias("nh"),
    )
    frac = (
        F.unix_timestamp("h") - F.unix_timestamp("ph")
    ).cast("double") / (F.unix_timestamp("nh") - F.unix_timestamp("ph")).cast(
        "double"
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return bracketed.select(
        F.col("h").alias("hour"),
        "event_type",
        F.round(interp, 6).alias("v_interp"),
        F.col("v").isNull().alias("was_gap"),
    )


@register(
    "purchase_attribution_outer",
    """
    SELECT p.user_id,
           p.event_id AS purchase_id,
           v.event_id AS view_id,
           p.value,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def q_purchase_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, batch-side twin: purchases
    with no view in the preceding 30 min survive with NULL view columns —
    under readStream the null-padded row is emitted only once the
    watermark proves no match can still arrive (the state-eviction
    contract outer streaming joins hang on; stream==batch pinned in
    tests/test_streaming_sources.py). Same user-keyed hash join with a
    time-range residual as the inner form."""
    from fefal_etl_spark.streaming.events import purchase_view_attribution

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return purchase_view_attribution(
        views, purchases, max_lag="30 minutes", how="left_outer"
    )


@register(
    "event_path_mining",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type, 2) OVER w AS t1,
               lag(event_type, 1) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1 || '>' || t2 || '>' || event_type AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM ordered
    WHERE t1 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT 25
    """,
)
def q_event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential path mining — top 3-step event paths across users (the
    'how do users actually reach purchase' question funnels assume an
    answer to). Per-user lag window (one user-keyed shuffle, total order
    by (ts, event_id)) → path-string count → TakeOrderedAndProject top-25
    with deterministic (count, path) ordering. Longer patterns (PrefixSpan
    territory) iterate this same shape per pattern length."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select(
            F.lag("event_type", 2).over(w).alias("t1"),
            F.lag("event_type", 1).over(w).alias("t2"),
            "event_type",
        )
        .filter(F.col("t1").isNotNull())
        .select(
            F.concat_ws(">", "t1", "t2", "event_type").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(25)
    )


@register(
    "bounce_rate_daily",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_seq,
               CAST(min(ts) AS DATE) AS day,
               count(*) AS n_events
        FROM sess GROUP BY user_id, session_seq
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
           round(CAST(count(*) FILTER (WHERE n_events = 1) AS DOUBLE)
                 / count(*), 6) AS bounce_rate
    FROM per_session GROUP BY day
    """,
)
def q_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V82 — daily bounce rate: share of 30-min-gap sessions containing a
    single event, keyed by session-start day — the engagement KPI sitting
    one aggregation above `sessionize` (same lag + running-sum
    sessionization, one user-keyed window shuffle, then a day rollup from
    exact integer counts)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # event_id tiebreak matches w: with duplicate (user_id, ts) rows a
    # ts-only ROWS frame would assign session_seq nondeterministically
    # (and could diverge from the oracle, which shares the tiebreak).
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
            > 1800
        ),
        1,
    ).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_seq", F.sum("new_sess").over(w_run)
    )
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.to_date(F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        per_session.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounces"),
        )
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "n_sessions",
            "n_bounces",
            F.round(
                F.col("n_bounces").cast("double") / F.col("n_sessions"), 6
            ).alias("bounce_rate"),
        )
    )


@register(
    "rfm_segments",
    """
    WITH base AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*) AS frequency,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY o_custkey
    ),
    anchor AS (SELECT max(o_orderdate) AS now FROM orders),
    rfm AS (
        SELECT o_custkey,
               date_diff('day', last_order, (SELECT now FROM anchor))
                   AS recency_days,
               frequency, monetary
        FROM base
    ),
    cuts AS (
        SELECT round(quantile_cont(recency_days, 0.5), 6) AS r_med,
               round(quantile_cont(frequency, 0.5), 6) AS f_med,
               round(quantile_cont(monetary, 0.5), 6) AS m_med
        FROM rfm
    )
    SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary,
           concat(CASE WHEN recency_days <= r_med THEN 'R+' ELSE 'R-' END,
                  CASE WHEN frequency   >  f_med THEN 'F+' ELSE 'F-' END,
                  CASE WHEN monetary    >  m_med THEN 'M+' ELSE 'M-' END)
               AS segment
    FROM rfm CROSS JOIN cuts
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V83 — RFM customer segmentation: recency/frequency/monetary per
    customer split at the (rounded-before-gating) medians into 8 segments
    — the classic CRM rollup. One custkey aggregation, a one-row anchor +
    one-row cuts broadcast back; DECIMAL-exact monetary sums."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("now"))
    rfm = base.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff(F.col("now"), F.col("last_order")).alias("recency_days"),
        "frequency",
        "monetary",
    )
    cuts = rfm.agg(
        F.round(F.expr("percentile(recency_days, 0.5)"), 6).alias("r_med"),
        F.round(F.expr("percentile(frequency, 0.5)"), 6).alias("f_med"),
        F.round(F.expr("percentile(monetary, 0.5)"), 6).alias("m_med"),
    )
    seg = F.concat(
        F.when(F.col("recency_days") <= F.col("r_med"), F.lit("R+")).otherwise(
            F.lit("R-")
        ),
        F.when(F.col("frequency") > F.col("f_med"), F.lit("F+")).otherwise(
            F.lit("F-")
        ),
        F.when(F.col("monetary") > F.col("m_med"), F.lit("M+")).otherwise(
            F.lit("M-")
        ),
    )
    return rfm.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
        seg.alias("segment"),
    )


# ==========================================================================
# V91 — two-sample Kolmogorov–Smirnov test (view vs purchase values)
# ==========================================================================


@register(
    "ks_test_value",
    """
    WITH s AS (
        SELECT round(value, 2) AS v,
               CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS s
        FROM events
        WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
    ),
    g AS (
        SELECT v,
               SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS c0,
               SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1
        FROM s GROUP BY v
    ),
    c AS (
        SELECT SUM(c0) OVER (ORDER BY v) AS cum0,
               SUM(c1) OVER (ORDER BY v) AS cum1
        FROM g
    ),
    t AS (SELECT SUM(c0) AS n0, SUM(c1) AS n1 FROM g),
    d AS (
        SELECT n0, n1,
               max(abs(CAST(cum0 AS DOUBLE) / n0
                       - CAST(cum1 AS DOUBLE) / n1)) AS ks
        FROM c, t GROUP BY n0, n1
    )
    SELECT CAST(n0 AS BIGINT) AS n_view,
           CAST(n1 AS BIGINT) AS n_purchase,
           round(ks, 6) AS ks_d,
           round(least(1.0, 2 * exp(-2.0 * ks * ks * n0 * n1 / (n0 + n1))), 6)
               AS p_approx,
           ks > 1.358 * sqrt(CAST(n0 + n1 AS DOUBLE) / (n0 * n1)) AS reject_05
    FROM d
    """,
)
def q_ks_test_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V91 — two-sample Kolmogorov–Smirnov test between the `value`
    distributions of view vs purchase events: D = sup|F_view − F_purchase|
    over the pooled grid, the Smirnov asymptotic p ≈ 2·exp(−2D²·n0n1/(n0+n1))
    clamped to 1, and the α = 0.05 critical-value decision
    (c(α) = 1.358·sqrt((n0+n1)/(n0n1))). The distribution-free complement to
    the parametric z-test (V81) and the χ² independence test — the
    standard drift check between two data slices before mixing them into a
    training corpus.

    Scale: values are quantized to a 2-decimal grid FIRST (one hash
    aggregation), so the ordered ECDF window runs over |grid| rows (bounded
    by value-range × 100, independent of row count), not over N events —
    the classic sort-free trick that makes exact-on-the-grid KS feasible at
    100 TB. Totals ride a one-row broadcast crossJoin; no full sort of the
    raw data anywhere."""
    # NULL values are excluded on BOTH engines: an ECDF is undefined for
    # NULL, and engine-default NULL ordering differs (Spark windows sort
    # NULLs first, DuckDB last) — leaving them in would diverge the grid.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
        & F.col("value").isNotNull()
    )
    g = (
        ev.select(
            F.round("value", 2).alias("v"),
            F.when(F.col("event_type") == "view", 0).otherwise(1).alias("s"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("c0"),
            F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("c1"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        F.sum("c0").over(w).alias("cum0"), F.sum("c1").over(w).alias("cum1")
    )
    tot = g.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    d = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n0", "n1")
        .agg(
            F.max(
                F.abs(
                    F.col("cum0").cast("double") / F.col("n0")
                    - F.col("cum1").cast("double") / F.col("n1")
                )
            ).alias("ks")
        )
    )
    n0, n1, ks = F.col("n0"), F.col("n1"), F.col("ks")
    return d.select(
        n0.cast("long").alias("n_view"),
        n1.cast("long").alias("n_purchase"),
        F.round(ks, 6).alias("ks_d"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(2.0)
                * F.exp(
                    F.lit(-2.0)
                    * ks
                    * ks
                    * n0.cast("double")
                    * n1.cast("double")
                    / (n0 + n1).cast("double")
                ),
            ),
            6,
        ).alias("p_approx"),
        (
            # n0*n1 as double: a long*long product overflows (ANSI throw)
            # once both arms exceed ~3e9 rows — the scale this runs at
            ks
            > F.lit(1.358)
            * F.sqrt(
                (n0 + n1).cast("double")
                / (n0.cast("double") * n1.cast("double"))
            )
        ).alias("reject_05"),
    )


# ==========================================================================
# V92 — Count-Min sketch frequency estimation (user event counts)
# ==========================================================================


@register(
    "countmin_freq",
    """
    WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    hashed AS (
        SELECT k, j,
               ('0x' || substr(md5('cm' || j || '|' || k), 1, 15))::BIGINT
                   % 64 AS bucket
        FROM keys, (SELECT unnest([0, 1, 2, 3]) AS j)
    ),
    sketch AS (
        SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM hashed GROUP BY j, bucket
    ),
    exact AS (
        SELECT k, CAST(count(*) AS BIGINT) AS exact_n
        FROM keys GROUP BY k
    ),
    top AS (
        SELECT k, exact_n,
               row_number() OVER (ORDER BY exact_n DESC, k ASC) AS rk
        FROM exact
    ),
    probes AS (
        SELECT t.k, t.exact_n, p.j,
               ('0x' || substr(md5('cm' || p.j || '|' || t.k), 1, 15))::BIGINT
                   % 64 AS bucket
        FROM top t, (SELECT unnest([0, 1, 2, 3]) AS j) p
        WHERE t.rk <= 20
    ),
    est AS (
        SELECT pr.k, pr.exact_n, min(s.cnt) AS est_n
        FROM probes pr JOIN sketch s
          ON s.j = pr.j AND s.bucket = pr.bucket
        GROUP BY pr.k, pr.exact_n
    )
    SELECT k AS user_key, exact_n, est_n,
           est_n - exact_n AS overestimate,
           est_n >= exact_n AS cm_ok
    FROM est
    """,
)
def q_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V92 — Count-Min sketch (d = 4 rows × w = 64 buckets, portable
    md5-derived bucket hashing) over per-user event counts, audited
    against exact counts for the top-20 heaviest users: the estimate is
    min over the 4 row-counters, always ≥ exact (the one-sided CM
    guarantee, asserted per-row in `cm_ok`), with the observed
    overestimate from bucket collisions exposed. Complements the HLL /
    quantile sketches in `approx_sketches` with the frequency-sketch
    family (heavy-hitter estimation without a per-key groupBy).

    Scale: the sketch is d·w = 256 counters regardless of input size —
    one hash aggregation with a 256-row result that broadcast-joins
    against the probe keys; counters are mergeable across
    partitions/days (sum of sketches = sketch of union), which is the
    whole point at 100 TB: per-shard sketches union without re-scanning.
    The exact top-20 here is the audit harness, not the production path —
    and because the audit already pays the per-key groupBy, this
    implementation derives the sketch FROM those key counts (identical
    counters, one scan; a pure streaming deployment would hash events
    directly and skip the exact pass entirely)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    j = F.explode(F.array([F.lit(i) for i in range(4)])).alias("j")

    from fefal_etl_spark.cache import track
    from fefal_etl_spark.llm.dedup import md5_hash64

    def bucket(jcol, kcol):
        # same portable seeded-hash helper as the dedup family (md5_hash64)
        return md5_hash64(kcol, F.concat(F.lit("cm"), jcol.cast("string"))) % 64

    # Round 13 (guide §2.3 aggregate-before-expanding): the sketch's
    # (j, bucket) counter is Σ_k [h_j(k) = bucket] · count(k), so it can be
    # built FROM the per-key exact counts the audit needs anyway — one
    # events scan + one groupBy(k) instead of two scans, and 4·|keys| md5s
    # instead of 4·|events| (the d-fold explode runs over the key counts,
    # not the event stream). Counter values are integer-identical to
    # hashing every event. The key-count frame is persisted (tracked):
    # both the sketch and the top-20 audit legs read it.
    exact = track(
        ev.groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .persist()
    )
    sketch = (
        exact.select("k", "exact_n", j)
        .select(
            "exact_n", "j", bucket(F.col("j"), F.col("k")).alias("bucket")
        )
        .groupBy("j", "bucket")
        .agg(F.sum("exact_n").cast("long").alias("cnt"))
    )
    top = (
        exact.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("exact_n").desc(), F.col("k"))
            ),
        )
        .filter(F.col("rk") <= 20)
        .drop("rk")
    )
    probes = top.select("k", "exact_n", j).select(
        "k", "exact_n", "j", bucket(F.col("j"), F.col("k")).alias("bucket")
    )
    est = (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("k", "exact_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    return est.select(
        F.col("k").alias("user_key"),
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overestimate"),
        (F.col("est_n") >= F.col("exact_n")).alias("cm_ok"),
    )


# ==========================================================================
# V93 — seasonal decomposition: linear trend + day-of-week seasonality
# ==========================================================================


@register(
    "seasonal_decompose",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               avg(value) AS daily_mean
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    anchor AS (SELECT min(d) AS d0 FROM daily),
    idx AS (
        SELECT event_type, d, daily_mean,
               CAST(d - d0 AS BIGINT) AS day_idx,
               date_part('dow', d) AS dow
        FROM daily, anchor
    ),
    trend AS (
        SELECT event_type,
               regr_slope(daily_mean, CAST(day_idx AS DOUBLE)) AS slope,
               regr_intercept(daily_mean, CAST(day_idx AS DOUBLE)) AS icept
        FROM idx GROUP BY event_type
    ),
    resid AS (
        SELECT i.event_type, i.dow,
               i.daily_mean - (t.icept + t.slope * i.day_idx) AS r,
               t.slope
        FROM idx i JOIN trend t ON i.event_type = t.event_type
    )
    SELECT event_type, CAST(dow AS INT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           round(any_value(slope), 6) AS trend_slope,
           round(avg(r), 6) AS seasonal,
           round(stddev_samp(r), 6) AS remainder_std
    FROM resid GROUP BY event_type, dow
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V93 — classical additive decomposition of the per-type daily value
    series: OLS linear trend (regr_slope/intercept over day index), then
    day-of-week seasonal component = mean of the detrended residual per
    (event_type, dow), and remainder spread = within-group stddev of the
    residual. The batch version of what a monitoring pipeline runs to
    separate "traffic grows" from "weekends dip" from "something broke" —
    and the seasonality-aware complement to `events_trend_slope` (V78)
    and `ewma_smoothing`.

    Scale: the raw fact is reduced to the (type × date) daily grid in one
    hash aggregation — every later stage (regression, residual join,
    seasonal rollup) runs on the bounded grid (|types|·|days| rows), with
    the 5-row trend table broadcast back. Day-of-week parity: Spark
    `dayofweek` is 1-based Sunday, DuckDB `date_part('dow')` is 0-based
    Sunday — the Spark side subtracts 1."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.avg("value").alias("daily_mean"))
    anchor = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "daily_mean",
        F.datediff("d", "d0").cast("long").alias("day_idx"),
        (F.dayofweek("d") - 1).alias("dow"),
    )
    trend = idx.groupBy("event_type").agg(
        F.regr_slope(
            F.col("daily_mean"), F.col("day_idx").cast("double")
        ).alias("slope"),
        F.regr_intercept(
            F.col("daily_mean"), F.col("day_idx").cast("double")
        ).alias("icept"),
    )
    resid = idx.join(F.broadcast(trend), "event_type").select(
        "event_type",
        "dow",
        (
            F.col("daily_mean")
            - (F.col("icept") + F.col("slope") * F.col("day_idx"))
        ).alias("r"),
        "slope",
    )
    return resid.groupBy("event_type", F.col("dow").cast("int").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.any_value(F.col("slope")), 6).alias("trend_slope"),
        F.round(F.avg("r"), 6).alias("seasonal"),
        F.round(F.stddev_samp("r"), 6).alias("remainder_std"),
    )


# ==========================================================================
# V97 — time-weighted average (TWAP) over irregular event series
# ==========================================================================


@register(
    "time_weighted_avg",
    """
    WITH ev AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               epoch_us(ts) AS t_us,
               CAST(round(value * 100) AS BIGINT) AS v100,
               event_id
        FROM events
    ),
    seg AS (
        SELECT event_type, d, v100,
               coalesce(
                   lead(t_us) OVER (PARTITION BY event_type, d
                                    ORDER BY t_us, event_id),
                   epoch_us(CAST(d + INTERVAL 1 DAY AS TIMESTAMP))
               ) - t_us AS w_us
        FROM ev
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(SUM(CAST(v100 AS DECIMAL(38, 0))
                          * CAST(w_us AS DECIMAL(38, 0))) AS DOUBLE)
                 / CAST(SUM(CAST(w_us AS DECIMAL(38, 0))) AS DOUBLE)
                 / 100.0, 6) AS twap,
           round(avg(CAST(v100 AS DOUBLE)) / 100.0, 6) AS plain_avg
    FROM seg GROUP BY event_type, d
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V97 — time-weighted average price (TWAP) per (event_type, day)
    over the irregularly-spaced event series: each value holds from its
    timestamp until the next event (the last one until midnight), and
    the day's TWAP is Σ(value·duration)/Σ(duration) — the estimator that
    is invariant to sampling density, vs the plain mean (also emitted)
    which over-weights bursts. The standard aggregation for sensor /
    price / metric series whose emission rate is itself bursty.

    Exactness: timestamps enter as INT64 microseconds (`unix_micros` /
    `epoch_us` — both engines see the same µs after the ns→µs
    normalization) and values as INT64 cents, so weights and the
    Σ(v·w) accumulator are DECIMAL(38,0)-exact in both engines —
    summation order cannot drift the result; the only float ops are the
    two final divisions. Scale: one hash partition by (type, day) with a
    local sort for lead() — the same shuffle any per-day rollup pays;
    no global sort, no self-join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("v100"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "d").orderBy("t_us", "event_id")
    day_end_us = F.unix_micros(
        F.date_add(F.col("d"), 1).cast("timestamp")
    )
    seg = ev.select(
        "event_type",
        "d",
        "v100",
        (
            F.coalesce(F.lead("t_us").over(w), day_end_us) - F.col("t_us")
        ).alias("w_us"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    return seg.groupBy(
        "event_type", F.date_format("d", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(
            F.sum(dec("v100") * dec("w_us")).cast("double")
            / F.sum(dec("w_us")).cast("double")
            / 100.0,
            6,
        ).alias("twap"),
        F.round(F.avg(F.col("v100").cast("double")) / 100.0, 6).alias(
            "plain_avg"
        ),
    )


# ==========================================================================
# V98 — funnel latency: time-to-convert percentiles
# ==========================================================================


@register(
    "funnel_latency",
    """
    WITH stages AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                   AS tv,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS tp
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT (tp - tv) / 60000000.0 AS delta_min
        FROM stages WHERE tv IS NOT NULL AND tp IS NOT NULL AND tp > tv
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(delta_min, 0.5), 6) AS p50_min,
           round(quantile_cont(delta_min, 0.9), 6) AS p90_min,
           round(avg(delta_min), 6) AS mean_min
    FROM conv
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V98 — funnel latency distribution: minutes from each user's FIRST
    view to their FIRST purchase (strictly after it), summarized as
    p50 / p90 / mean time-to-convert. The "how fast", complementing
    `funnel_conversion`'s "how many" — the percentile form is what SLA
    and campaign dashboards actually plot, and the p90/p50 spread flags
    heavy-tailed conversion behavior that a mean alone hides.

    Exactness: stage timestamps reduce via conditional MIN on INT64
    microseconds; delta becomes float only in the final minute
    conversion, and `percentile`/`quantile_cont` share the same linear-
    interpolation definition across engines. Scale: identical shape to
    funnel_conversion — one user_id hash aggregation then a one-row
    reduce; no per-stage self-joins, no sort of the raw fact (the exact
    percentile sorts |converted users| deltas, and swaps for
    percentile_approx/KLL at 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", t_us)).alias("tv"),
        F.min(F.when(F.col("event_type") == "purchase", t_us)).alias("tp"),
    )
    conv = stages.filter(
        F.col("tv").isNotNull()
        & F.col("tp").isNotNull()
        & (F.col("tp") > F.col("tv"))
    ).select(((F.col("tp") - F.col("tv")) / 60000000.0).alias("delta_min"))
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(delta_min, 0.5)"), 6).alias("p50_min"),
        F.round(F.expr("percentile(delta_min, 0.9)"), 6).alias("p90_min"),
        F.round(F.avg("delta_min"), 6).alias("mean_min"),
    )


# ==========================================================================
# V99 — distributed BFS: hop levels over the trade graph
# ==========================================================================


@register(
    "graph_bfs_levels",
    """
    WITH RECURSIVE raw AS (
        SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
                        's:' || CAST(l_suppkey AS VARCHAR) AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey <= 6000
    ),
    e AS (SELECT c AS src, s AS dst FROM raw UNION ALL SELECT s, c FROM raw),
    seed AS (
        SELECT 'c:' || CAST(min(o_custkey) AS VARCHAR) AS node
        FROM orders WHERE o_orderkey <= 6000
    ),
    bfs(node, lvl) AS (
        SELECT node, 0 FROM seed
        UNION
        SELECT e.dst, bfs.lvl + 1
        FROM bfs JOIN e ON e.src = bfs.node
        WHERE bfs.lvl < 4
    )
    SELECT node, CAST(min(lvl) AS INT) AS level
    FROM bfs GROUP BY node
    """,
)
def q_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V99 — distributed breadth-first search: shortest hop distance
    (≤ 4) from the lowest-custkey customer to every reachable node of
    the bidirectional customer↔supplier trade graph (same edge
    derivation as `pagerank_trade_graph`). Level 1 = the customer's
    suppliers, level 2 = customers sharing a supplier, etc. — the
    reachability/radius primitive under supply-chain blast-radius and
    fraud-ring queries, and the engine's iterative-traversal template
    #4 (after CC, k-means, PageRank): per round one frontier⋈edges join
    + distinct + anti-join vs visited, EARLY-EXIT on an empty frontier.

    The oracle is DuckDB's WITH RECURSIVE with min(lvl) — the textbook
    recursive-SQL definition, independently derived from the same edge
    set, so the frontier algebra is checked against the declarative
    semantics. Scale: frontier size, not graph size, bounds each
    round's shuffle; `operators/graph.py::bfs_levels` documents the
    checkpoint cadence for diameter-unbounded graphs. The seed is a
    one-row aggregate scalar (same bounded-collect class as the CC
    convergence check)."""
    from fefal_etl_spark.operators.graph import bfs_levels

    edges = _trade_graph_edges(spark, sf_dir)
    # round 12: the seed stays IN the plan (a one-row aggregate frame
    # broadcast into round 1) instead of a driver-side .first() — one
    # less job per invocation and a zero-action builder (plan-memoizable)
    source_df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 6000)
        .agg(F.min("o_custkey").alias("k"))
        .select(
            F.concat(F.lit("c:"), F.col("k").cast("string")).alias("node")
        )
    )
    # prune_visited=False: the layered min-agg single-DAG form — max_hops
    # is small and fixed here, so the anti-join pruning buys nothing and
    # its per-round shuffles dominate (4.3 s → 1.9 s warm at sf0.1).
    out = bfs_levels(
        edges, source_df, max_hops=4, early_exit=False, prune_visited=False
    )
    return out.select("node", F.col("level").cast("int").alias("level"))


# ==========================================================================
# V102 — exponentially time-decayed user value (associative decay sum)
# ==========================================================================


@register(
    "decayed_user_value",
    """
    WITH anchor AS (SELECT max(epoch_us(ts)) AS t_max FROM events),
    terms AS (
        SELECT user_id,
               CAST(round(value * exp(-ln(2) * (t_max - epoch_us(ts))
                                      / (7.0 * 86400000000.0)) * 1e9)
                    AS BIGINT) AS dv9,
               CAST(round(value * 100) AS BIGINT) AS v100
        FROM events, anchor
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(SUM(v100) / 100.0, 2) AS raw_value,
           round(SUM(dv9) / 1e9, 6) AS decayed_value
    FROM terms GROUP BY user_id
    """,
)
def q_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V102 — exponentially time-decayed lifetime value per user:
    Σ value·2^(−age/7d) with age measured from the corpus max timestamp
    (7-day half-life) — the standard recency-weighted engagement /
    LTV score, and the batch twin of a streaming decayed counter. Raw
    (undecayed) total emitted alongside for the decay ratio.

    Exactness: each decay term is computed from INT64 microseconds and
    scaled to an INT64 (×1e9, rounded) BEFORE aggregation — the
    associativity armor (DSIR/RRF pattern): integer partial sums cannot
    drift with partition order, while each exp() term itself is computed
    from identical inputs on both engines. Scale: decay-from-a-fixed-
    anchor makes the sum a plain one-shuffle user_id aggregation (no
    window, no order dependence); refreshing the anchor T→T' later only
    needs multiplying stored sums by 2^(−ΔT/7d) — the associative-decay
    property that makes this maintainable incrementally at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("t_max")
    )
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    decay = F.exp(
        -F.log(F.lit(2.0))
        * (F.col("t_max") - t_us)
        / (7.0 * 86400000000.0)
    )
    terms = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.round(F.col("value") * decay * 1e9).cast("long").alias("dv9"),
        F.round(F.col("value") * 100).cast("long").alias("v100"),
    )
    return terms.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("v100") / 100.0, 2).alias("raw_value"),
        F.round(F.sum("dv9") / 1e9, 6).alias("decayed_value"),
    )


# ==========================================================================
# V103 — Poisson-bootstrap confidence interval (hash-deterministic)
# ==========================================================================


@register(
    "bootstrap_ci",
    """
    WITH groups AS (SELECT unnest(range(25)) AS g),
    chunks AS (SELECT unnest(range(4)) AS c),
    mid AS (
        SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS x100, gr.g,
               ('0x' || substr(md5('boot' || gr.g || '|'
                    || CAST(o.o_orderkey AS VARCHAR)), 1, 12))::BIGINT AS h0,
               ('0x' || substr(md5('boot' || gr.g || '|'
                    || CAST(o.o_orderkey AS VARCHAR)), 13, 12))::BIGINT AS h1
        FROM orders o, groups gr
    ),
    w AS (
        SELECT b, x100,
               CASE
                 WHEN u < 0.36787944117144233 THEN 0
                 WHEN u < 0.7357588823428847  THEN 1
                 WHEN u < 0.9196986029286058  THEN 2
                 WHEN u < 0.9810118431238462  THEN 3
                 WHEN u < 0.9963401531726563  THEN 4
                 ELSE 5
               END AS wt
        FROM (
            SELECT m.g * 4 + ch.c AS b, m.x100,
                   (((CASE WHEN ch.c < 2 THEN m.h0 ELSE m.h1 END)
                     >> (24 * (ch.c % 2))) & 16777215) / 16777216.0 AS u
            FROM mid m, chunks ch
        )
    ),
    means AS (
        SELECT b,
               CAST(SUM(wt * x100) AS DOUBLE)
                   / (100.0 * SUM(wt)) AS rep_mean
        FROM w GROUP BY b HAVING SUM(wt) > 0
    ),
    base AS (
        SELECT avg(o_totalprice) AS sample_mean,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
    )
    SELECT n_orders,
           CAST(100 AS BIGINT) AS n_replicates,
           round(sample_mean, 6) AS sample_mean,
           round(quantile_cont(rep_mean, 0.025), 6) AS ci_lo,
           round(quantile_cont(rep_mean, 0.975), 6) AS ci_hi,
           quantile_cont(rep_mean, 0.025) <= sample_mean
               AND sample_mean <= quantile_cont(rep_mean, 0.975) AS covers
    FROM means, base
    GROUP BY n_orders, sample_mean
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V103 — Poisson bootstrap (Chamandy et al., Google 2012) 95% CI
    for the mean order total: every (order, replicate) pair draws a
    deterministic Poisson(1) weight from an md5-derived uniform
    (inverse-CDF thresholds e^(−1)·Σ1/k!, capped at 5 ≈ the 99.96th
    percentile), so each of the 100 replicates is a weighted mean and
    the CI is the 2.5/97.5 percentile of replicate means. THE way to
    bootstrap at scale: no resampling shuffle, no data movement — the
    weight is a pure hash function computed map-side, replicates are
    one groupBy(b), and the whole thing is embarrassingly parallel
    (this is also the building block of the bag-of-little-bootstraps).

    Hash economy + parallelism (both ~6× wins measured at sf0.1):
    each order computes 25 md5s, every digest yields two 48-bit ints
    (hex slices) and each int two 24-bit uniforms via shift/mask — so
    the expensive hashing is 25/replicate-hundred per row and the
    per-(row, replicate) work is two integer ops. And the fan-out is
    REPARTITIONED FIRST: Spark sizes scan partitions by INPUT bytes
    (`maxPartitionBytes`), so a small parquet arrives as one split and
    a 100× explode would otherwise run single-threaded — the
    repartition decouples fan-out parallelism from input splits (the
    generic lesson for every generate-heavy operator; at 100 TB splits
    are plentiful and the repartition is a cheap no-op by comparison).

    Exactness: weights are INT, values INT64 cents, so Σ(w·x) is an
    exact integer aggregation in both engines (order-proof); each
    replicate mean becomes double only in one final division, and the
    uniform is an exact 24-bit shift/mask identical across engines
    (double division by 2^24 of a 48-bit int is exact). Scale: cost is
    B× the (cheap) chunk work plus 25 hashes per row, and ONE extra
    shuffle of B·|groups| rows; B trades precision for cost
    explicitly."""
    orders = load_table(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    g = F.explode(F.sequence(F.lit(0), F.lit(24))).alias("g")
    h = F.md5(
        F.concat(
            F.lit("boot"),
            F.col("g").cast("string"),
            F.lit("|"),
            F.col("o_orderkey").cast("string"),
        )
    )
    mid = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x100"),
        "o_orderkey",
        g,
    ).select(
        "x100",
        "g",
        F.conv(F.substring(h, 1, 12), 16, 10).cast("long").alias("h0"),
        F.conv(F.substring(h, 13, 12), 16, 10).cast("long").alias("h1"),
    )
    c = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c")
    hsel = F.when(F.col("c") < 2, F.col("h0")).otherwise(F.col("h1"))
    u = (
        F.when(
            F.col("c") % 2 == 0, hsel.bitwiseAND(16777215)
        )
        .otherwise(F.shiftright(hsel, 24).bitwiseAND(16777215))
        / F.lit(16777216.0)
    )
    rows = mid.select("x100", "g", c, "h0", "h1").select(
        "x100", (F.col("g") * 4 + F.col("c")).alias("b"), u.alias("u")
    )
    thresholds = [
        0.36787944117144233,
        0.7357588823428847,
        0.9196986029286058,
        0.9810118431238462,
        0.9963401531726563,
    ]
    wt = F.when(F.col("u") < thresholds[0], 0)
    for i, t in enumerate(thresholds[1:], start=1):
        wt = wt.when(F.col("u") < t, i)
    wt = wt.otherwise(5)
    w = rows.select("b", "x100", wt.alias("wt"))
    means = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("x100")).alias("swx"),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            (
                F.col("swx").cast("double") / (100.0 * F.col("sw"))
            ).alias("rep_mean")
        )
    )
    base = load_table(spark, sf_dir, "orders").agg(
        F.avg("o_totalprice").alias("sample_mean"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    ci = means.agg(
        F.expr("percentile(rep_mean, 0.025)").alias("lo"),
        F.expr("percentile(rep_mean, 0.975)").alias("hi"),
    )
    return (
        ci.crossJoin(F.broadcast(base)).select(
            "n_orders",
            F.lit(100).cast("long").alias("n_replicates"),
            F.round(F.col("sample_mean"), 6).alias("sample_mean"),
            F.round(F.col("lo"), 6).alias("ci_lo"),
            F.round(F.col("hi"), 6).alias("ci_hi"),
            (
                (F.col("lo") <= F.col("sample_mean"))
                & (F.col("sample_mean") <= F.col("hi"))
            ).alias("covers"),
        )
    )


# ==========================================================================
# V107 — within-session funnel: ordered conversion inside one session
# ==========================================================================


@register(
    "session_funnel",
    """
    WITH ordered AS (
        SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
               CASE WHEN epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                         > 1800000000
                         OR lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id)
                            IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id, event_type, t_us,
               SUM(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY t_us, event_id) AS sess_seq
        FROM ordered
    ),
    per_sess AS (
        SELECT user_id, sess_seq,
               min(CASE WHEN event_type = 'view' THEN t_us END) AS tv,
               min(CASE WHEN event_type = 'purchase' THEN t_us END) AS tp
        FROM sess GROUP BY user_id, sess_seq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_view,
           CAST(SUM(CASE WHEN tp > tv THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
           round(CAST(SUM(CASE WHEN tp > tv THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS session_cvr
    FROM per_sess
    """,
)
def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V107 — within-session funnel: conversion counted only when the
    first purchase follows the first view INSIDE THE SAME 30-minute-gap
    session — the composition of sessionization (lag-gap flag →
    running-sum session id, `sessionize`'s shape) with conditional-MIN
    funnel staging (`funnel_conversion`'s shape). User-level funnels
    overcount intent (a Tuesday view does not 'convert' into a Friday
    purchase); session-scoping is how product analytics actually reports
    CVR.

    Determinism: both windows order by (ts/t_us, event_id) — the r3
    ADVICE tie-break discipline — so session assignment is identical
    across engines. Scale: two windows over the SAME (user_id) hash
    partition (one sort, reused), then a (user, session) aggregation and
    a one-row reduce — no self-joins, no global sort; the session-id
    running sum is the standard sessionization plan at any scale."""
    ev = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    ordered = ev.select(
        "user_id", "event_type", t_us.alias("t_us"), "event_id"
    ).withColumn(
        "new_sess",
        F.when(
            F.lag("t_us").over(w).isNull()
            | ((F.col("t_us") - F.lag("t_us").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = ordered.withColumn(
        "sess_seq",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_sess = sess.groupBy("user_id", "sess_seq").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t_us"))).alias(
            "tv"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("t_us"))
        ).alias("tp"),
    )
    conv = F.when(F.col("tp") > F.col("tv"), 1).otherwise(0)
    return per_sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("tv").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_with_view"),
        F.sum(conv).cast("long").alias("n_converted"),
        F.round(
            F.sum(conv).cast("double") / F.count(F.lit(1)), 6
        ).alias("session_cvr"),
    )
