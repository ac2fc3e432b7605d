"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB against the same sf dir, then compares row count, column names, and
order-insensitive values. Each entry is called twice in the session, and
both results must match: the second call is served from the plan memo
whenever the first build ran no Spark job. Use while iterating:

    python tools/check_oracle.py [--sf DIR] [names...]

``--sf`` defaults to the ``sf0.01`` sibling of the package's default data
dir. The driver heap defaults to 3g, enough for sf0.01; set
``SPARK_GRAFT_DRIVER_MEM`` to change it.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_value(v):
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        return repr(f)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        # Stricter than the driver on purpose: the driver's pandas-based
        # canonicalizer CRASHES on array/map/struct cells (r3 driver-red
        # `positional_index`), so local green must imply driver green —
        # reject non-scalar output columns outright.
        raise NonScalarError(type(v).__name__)
    return str(v)


class NonScalarError(TypeError):
    """A registry query emitted an array/map/struct column the driver's
    canonicalizer cannot sort/hash."""


def frame_digest(df) -> tuple[int, list[str], str]:
    import pandas as pd

    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append("\x1f".join(canon_value(v) for v in tup))
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main():
    from fefal_etl_spark.datasets import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf", default=os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
    )
    ap.add_argument("names", nargs="*")
    ap.add_argument("--show-diff", action="store_true")
    args = ap.parse_args()

    import duckdb

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import __spark_entry__ as entrymod
    from fefal_etl_spark.session import get_spark

    spark = get_spark("check_oracle")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    from fefal_etl_spark.cache import release_tracked

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(queries)
    n_pass = n_fail = n_noracle = 0
    for name in names:
        t0 = time.time()
        try:
            calls = []
            for _ in range(2):
                calls.append(queries[name](spark, args.sf).toPandas())
                release_tracked()
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR (call {len(calls) + 1})")
            traceback.print_exc(limit=8)
            n_fail += 1
            continue
        if name not in oracles:
            rows = [len(c) for c in calls]
            ok = rows[0] == rows[1]
            print(
                f"{'NOOR' if ok else 'FAIL'}  {name}: rows={rows[0]}"
                f"{'' if ok else f' then {rows[1]}'} (rows-only check) "
                f"[{time.time()-t0:.1f}s]"
            )
            n_noracle += ok
            n_fail += not ok
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: ORACLE SQL ERROR")
            traceback.print_exc(limit=4)
            n_fail += 1
            continue
        try:
            on, oc, oh = frame_digest(odf)
            digests = [frame_digest(c) for c in calls]
        except NonScalarError as e:
            print(f"FAIL  {name}: NON-SCALAR output column ({e}) — driver-incanonicalizable")
            n_fail += 1
            continue
        bad = [i for i, d in enumerate(digests) if d != (on, oc, oh)]
        sn, sc, sh = digests[bad[0] if bad else 0]
        status = "PASS" if not bad else "FAIL"
        print(
            f"{status}  {name}: spark rows={sn} oracle rows={on} "
            f"hash {'==' if sh == oh else sh + ' != ' + oh} "
            f"{'on both calls' if not bad else f'on call {bad[0] + 1}'} "
            f"[{time.time()-t0:.1f}s]"
        )
        if not bad:
            n_pass += 1
        else:
            n_fail += 1
            if sc != oc:
                print(f"      cols spark={sc} oracle={oc}")
            if args.show_diff and sc == oc:
                sdf = calls[bad[0]]
                s_rows = {
                    "\x1f".join(canon_value(v) for v in t): t
                    for t in sdf[sorted(sdf.columns)].itertuples(index=False, name=None)
                }
                o_rows = {
                    "\x1f".join(canon_value(v) for v in t): t
                    for t in odf[sorted(odf.columns)].itertuples(index=False, name=None)
                }
                only_s = [s_rows[k] for k in list(set(s_rows) - set(o_rows))[:5]]
                only_o = [o_rows[k] for k in list(set(o_rows) - set(s_rows))[:5]]
                print("      spark-only:", only_s)
                print("      oracle-only:", only_o)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
