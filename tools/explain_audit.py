"""Physical-plan audit: print formatted plans for the headline queries and
flag scale smells (missing pushdown, unexpected shuffles, missing broadcast,
row-at-a-time Python).

    python tools/explain_audit.py [names...] [--full]
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, text: str) -> list[str]:
    notes = []
    n_exchange = len(re.findall(r"\bExchange\b", text))
    n_bhj = len(re.findall(r"BroadcastHashJoin", text))
    n_smj = len(re.findall(r"SortMergeJoin", text))
    n_bnlj = len(re.findall(r"BroadcastNestedLoopJoin", text))
    n_python = len(re.findall(r"BatchEvalPython", text))
    # every Arrow-vectorized Python surface counted separately so "0
    # row-at-a-time Python" can't silently rot into "0 Python of any kind"
    # (VERDICT r2 item 3: applyInPandas plans as FlatMapGroupsInPandas and
    # was invisible to the old ArrowEvalPython|MapInPandas regex)
    n_arrow_eval = len(re.findall(r"ArrowEvalPython", text))
    n_map_pandas = len(re.findall(r"MapInPandas", text))
    n_grouped_map = len(re.findall(r"FlatMapGroupsInPandas(?!WithState)", text))
    n_grouped_state = len(re.findall(r"FlatMapGroupsInPandasWithState", text))
    n_arrow = n_arrow_eval + n_map_pandas + n_grouped_map + n_grouped_state
    wsc = len(re.findall(r"WholeStageCodegen", text))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", text)
    notes.append(
        f"exchanges={n_exchange} bhj={n_bhj} smj={n_smj} bnlj={n_bnlj} "
        f"codegen_spans={wsc} python={n_python} arrow={n_arrow} "
        f"(arrow_eval={n_arrow_eval} map_in_pandas={n_map_pandas} "
        f"grouped_map={n_grouped_map} grouped_state={n_grouped_state})"
    )
    if n_python:
        notes.append("!! row-at-a-time Python in plan")
    nonempty = [p for p in pushed if p.strip()]
    if pushed:
        notes.append(f"pushed_filters={len(nonempty)}/{len(pushed)} scans")
    return notes


def main():
    from fefal_etl_spark.datasets import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--full", action="store_true")
    ap.add_argument(
        "--sf", default=os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
    )
    args = ap.parse_args()

    from fefal_etl_spark.queries import get_queries
    from fefal_etl_spark.session import get_spark

    spark = get_spark("explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = get_queries()
    names = args.names or list(queries)
    for name in names:
        df = queries[name](spark, args.sf)
        text = plan_text(df)
        print(f"\n=== {name} ===")
        for n in audit(name, text):
            print("   ", n)
        if args.full:
            print(text)
    spark.stop()


if __name__ == "__main__":
    main()
