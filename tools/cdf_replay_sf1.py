"""sf1 CDF rate/ordering contract (round 10 — VERDICT r9 item 5).

`change_feed` is correctness-tested at toy scale; this drives an
sf1-SIZED table (lineitem, ~6M rows) through the full verb ladder —

    v0 overwrite   (bulk load, range-clustered)
    v1 append      (10% batch)
    v2 update_where_dv  (DV update, ~1% of rows)
    v3 merge_dv    (MoR merge: ~1% updates + fresh inserts)
    v4 compact     (CoW rewrite — the feed's degenerate full-diff case)

— then replays change_feed(-1, 4) keyed and asserts the replayed row
set IS the final snapshot, exactly (anti-join both ways = 0). The
replay is one Spark plan (groupBy key over the feed): memory is
bounded by the shuffle, not by materializing the feed on the driver —
nothing is collected except the two zero-counts and the final
signature aggregate.

    python tools/cdf_replay_sf1.py [--sf .data/sf1]

Writes docs/CDF_REPLAY_sf1.json. Run SOLO.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OUT = os.path.join(ROOT, "docs", "CDF_REPLAY_sf1.json")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.path.join(ROOT, ".data", "sf1"))
    ap.add_argument(
        "--root", default=os.path.join(ROOT, ".stage", "cdf_replay_sf1")
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from fefal_etl_spark.datasets import load_table
    from fefal_etl_spark.session import get_spark
    from fefal_etl_spark.table import TransactionalTable

    spark = get_spark("cdf-replay-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    base = load_table(spark, args.sf, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("qty"),
    )
    # one stable UNIQUE row key for the keyed replay: the fixture's
    # (orderkey, linenumber) is NOT unique (the tiling keeps the
    # source's own duplicates), so rank within each order over the
    # value columns — deterministic (ties are identical rows, so the
    # assignment is value-stable) and hash-partitioned, no global sort
    from pyspark.sql import Window

    w_ok = Window.partitionBy("ok").orderBy("ln", "price", "qty")
    keyed = base.withColumn(
        "rk",
        F.col("ok") * 1024 + F.row_number().over(w_ok),
    ).select("rk", "price", "qty")
    n_total = keyed.count()

    shutil.rmtree(args.root, ignore_errors=True)
    t = TransactionalTable(spark, args.root)
    walls = {}
    s = time.time()
    t.overwrite(
        keyed.filter(F.col("rk") % 10 != 0).repartitionByRange(16, "rk")
    )  # v0
    walls["v0_overwrite"] = round(time.time() - s, 2)
    s = time.time()
    t.append(keyed.filter(F.col("rk") % 10 == 0))  # v1
    walls["v1_append"] = round(time.time() - s, 2)
    s = time.time()
    t.update_where_dv("rk % 97 = 0", {"price": "price + 1.0"})  # v2
    walls["v2_update_dv"] = round(time.time() - s, 2)
    s = time.time()
    src = keyed.filter(F.col("rk") % 101 == 0).select(
        "rk",
        (F.col("price") * 2).alias("price"),
        F.col("qty"),
    ).unionByName(
        # fresh-insert namespace far above any real rk (= ok*1024 + r)
        spark.range(10**13, 10**13 + 50_000).select(
            F.col("id").alias("rk"),
            F.lit(1.0).alias("price"),
            F.lit(1.0).cast("double").alias("qty"),
        )
    )
    # merge source columns must match table schema types
    src = src.select(
        "rk",
        F.col("price").cast(t.read().schema["price"].dataType),
        F.col("qty").cast(t.read().schema["qty"].dataType),
    )
    t.merge_dv(src, keys=["rk"])  # v3
    walls["v3_merge_dv"] = round(time.time() - s, 2)
    s = time.time()
    t.compact(target_file_mb=64)  # v4 — CoW rewrite
    walls["v4_compact"] = round(time.time() - s, 2)

    # keyed replay of the FULL feed: one distributed plan, no collect
    s = time.time()
    feed = t.change_feed(-1, t.latest_version())
    replayed = (
        feed.select(
            "rk",
            "price",
            "qty",
            F.when(
                F.col("_change_type").isin(
                    "insert", "update_postimage"
                ),
                1,
            )
            .otherwise(-1)
            .alias("d"),
        )
        .groupBy("rk", "price", "qty")
        .agg(F.sum("d").alias("n"))
        .filter("n > 0")
        .select("rk", "price", "qty")
    )
    live = t.read().select("rk", "price", "qty")
    missing = live.exceptAll(replayed).count()
    extra = replayed.exceptAll(live).count()
    walls["replay_verify"] = round(time.time() - s, 2)
    n_live = live.count()
    payload = {
        "sf_dir": os.path.relpath(args.sf, ROOT),
        "rows_input": n_total,
        "rows_final": n_live,
        "versions": t.latest_version() + 1,
        "walls_sec": walls,
        "replay_missing": missing,
        "replay_extra": extra,
        "ok": missing == 0 and extra == 0,
        "total_sec": round(time.time() - t0, 2),
    }
    spark.stop()
    shutil.rmtree(args.root, ignore_errors=True)
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(payload, indent=1, sort_keys=True))
    assert payload["ok"], "CDF replay diverged from the snapshot"


if __name__ == "__main__":
    main()
