"""One workload in one process: set up a warm Spark session, run the
workload, write raw results as JSON. Started by ``run.py``.

Set-up time runs from the moment the parent started this process
(``--t0``, wall clock) to the end of the session's first job, so it covers
interpreter start, imports, JVM launch and ``get_spark``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

WORKLOADS = {
    "survey_load": "perfbench.survey_load",
    "analysis_session": "perfbench.analysis_session",
}


def start_session(app: str, run_dir: str):
    """Import the program, launch Spark with every scratch path inside
    ``run_dir``, and run the first job."""
    import fefal_etl_spark.queries  # noqa: F401  (the registry import chain)
    from fefal_etl_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the initial heap equals the maximum, so resident memory does not
    # depend on when the collector decided to grow the heap
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    java_opts = f"-Xms{heap} -Dderby.system.home={run_dir} -Djava.io.tmpdir={tmp}"
    spark = get_spark(
        app,
        extra_confs={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    spark = start_session(f"perfbench-{args.workload}", args.run_dir)
    setup_s = time.time() - args.t0

    from perfbench import layers
    from perfbench.context import Ctx, job_watermark, persisted_rdds
    from perfbench.tracing import Tracer

    wl = importlib.import_module(WORKLOADS[args.workload])
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(
        bool(args.trace), run_id,
        job_watermark=(lambda: job_watermark(spark)) if args.trace else None,
    )
    ctx = Ctx(
        spark=spark,
        tracer=tracer,
        seed=args.seed,
        seconds=args.seconds,
        inputs=os.path.join(args.run_dir, "inputs"),
        work=os.path.join(args.run_dir, "work"),
        smoke=args.smoke,
    )
    t_run = time.perf_counter()
    out = wl.run(ctx)
    wall = time.perf_counter() - t_run

    from fefal_etl_spark.cache import release_tracked
    from fefal_etl_spark.plans.queries import release_pipeline_cache

    release_tracked()
    release_pipeline_cache()
    out.counters["cache.persisted_after"] = persisted_rdds(spark)
    result = {
        "setup_s": setup_s,
        "wall_s": wall,
        "attempted": out.attempted,
        "failed": out.failed,
        "errors": out.errors[:20],
        "items": out.items,
        "items_s": out.items_s,
        "first": out.first,
        "repeat": out.repeat,
        "counters": out.counters,
    }
    if tracer.enabled:
        result["layers"] = layers.per_layer(tracer, out, wall)
        trace_path = os.path.join(args.run_dir, "trace.json")
        tracer.write(trace_path)
        result["trace_file"] = trace_path
    _write(args.result, result)
    spark.stop()


def _write(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


if __name__ == "__main__":
    sys.exit(main())
