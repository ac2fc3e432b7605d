"""Text-similarity scale trend on the Zipf-vocabulary fixtures
(round 10 — VERDICT r9 item 1's measurement half).

The driver fixtures' ~30-word vocabulary makes document-frequency
selectivity degenerate: every token appears in ~every document, so
prefix filtering (ppjoin), df-pruned postings (bm25/tfidf/
sparse-cosine) and containment signatures had nothing to cut —
`ppjoin_pairs` measured 159.9× wall for 1000× input at sf1 (the r9
verdict's one weak scaler) BECAUSE the fixture, not the algorithm.
`tools/gen_sf.py --zipf-docs` regenerates documents with a
Zipf-Mandelbrot 50k-word vocabulary and lognormal doc lengths (the
natural-corpus shape); this tool times the df-selectivity-sensitive
family across the zipf fixture ladder and writes
``docs/ZIPF_TREND.json`` + a markdown table for BASELINE.md.

Method: one session, per (SF, query) a warm-up pass then the timed
pass. Run SOLO — concurrent load skews
wall times.

    python tools/gen_sf.py --src /root/testdata/sf0.001 \
        --out .data/zipf_sf0.001 --copies 1 --zipf-docs   # etc.
    python tools/zipf_trend.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the document-frequency-selectivity-sensitive family (r9 verdict's
# "under-stressed" list) plus the two dedup scale paths for contrast
QUERIES = [
    "ppjoin_pairs",
    "containment_neardup",
    "sparse_cosine_pairs",
    "sparse_cosine_topk",
    "bm25_topk",
    "tfidf_top_terms",
    "minhash_neardup",
    "segment_dedup",
    "levenshtein_neardup",
]

SFS = [
    ("0.001", "/root/repo/.data/zipf_sf0.001"),
    ("0.01", "/root/repo/.data/zipf_sf0.01"),
    ("0.1", "/root/repo/.data/zipf_sf0.1"),
    ("1", "/root/repo/.data/zipf_sf1"),
]

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "docs",
    "ZIPF_TREND.json",
)


def main() -> None:
    from fefal_etl_spark.queries import get_queries
    from fefal_etl_spark.session import get_spark

    sfs = [(sf, d) for sf, d in SFS if os.path.isdir(d)]
    if not sfs:
        raise SystemExit("no zipf fixtures found — run tools/gen_sf.py")
    spark = get_spark("zipf_trend")
    spark.sparkContext.setLogLevel("ERROR")
    queries = get_queries()
    times: dict[str, dict[str, float]] = {n: {} for n in QUERIES}
    rows_at: dict[str, dict[str, int]] = {n: {} for n in QUERIES}
    queries["top_orders"](spark, sfs[0][1]).count()  # JVM warmup
    for sf, sf_dir in sfs:
        for name in QUERIES:
            t_cold = time.time()
            n = queries[name](spark, sf_dir).count()  # warm pass
            cold = round(time.time() - t_cold, 3)
            t0 = time.time()
            assert queries[name](spark, sf_dir).count() == n
            times[name][sf] = round(time.time() - t0, 3)
            rows_at[name][sf] = n
            print(
                f"sf{sf} {name}: cold={cold}s warm={times[name][sf]}s "
                f"rows={n}",
                flush=True,
            )
    spark.stop()

    payload = {
        "queries": times,
        "rows": rows_at,
        "ratio_1000x": {
            n: round(t["1"] / t["0.001"], 2)
            for n, t in times.items()
            if t.get("1") and t.get("0.001")
        },
    }
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(f"wrote {OUT}\n")
    print("| query | sf0.001 | sf0.01 | sf0.1 | sf1 | 1000x ratio |")
    print("| --- | --- | --- | --- | --- | --- |")
    for name in QUERIES:
        t = times[name]
        ratio = payload["ratio_1000x"].get(name, "-")
        cells = " | ".join(str(t.get(sf, "-")) for sf, _ in SFS)
        print(f"| {name} | {cells} | {ratio} |")


if __name__ == "__main__":
    main()
