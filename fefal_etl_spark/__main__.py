"""CLI entry point — the operational face of the engine.

The reference is an interactive Streamlit wizard (etl_ui.py:832-2209); this
engine replaces that flow with `PipelineConfig` dataclasses (SURVEY §3), and
this module gives operators the batch-invocable surface a scheduler
(Airflow/cron/spark-submit) actually calls:

    python -m fefal_etl_spark query <name> [--sf DIR] [--out DIR] [--limit N]
    python -m fefal_etl_spark list [--grep SUBSTR]
    python -m fefal_etl_spark pipeline --survey F --registry F --config F \
        --out DIR [--year Y]
    python -m fefal_etl_spark table ROOT history|optimize|zorder|bloom|\
        vacuum|restore [--small-file-mb N] [--partition COL=V] [--cols ...]
        [--col C] [--keep N] [--min-age-s S] [--version V]

`query` runs any registry entry (the same callables the driver/bench use)
and prints or writes the result; `pipeline` runs the EP2 transform chain on
real input files (csv / parquet / xlsx / legacy xls chosen by extension) and
lands every status branch as parquet under --out.

Everything stays lazy until the single write/show at the end — the CLI adds
no collect-based staging of its own.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _reader_for(path: str):
    from fefal_etl_spark.sources import readers

    ext = os.path.splitext(path)[1].lower()
    if ext in (".parquet", ""):
        return readers.read_parquet
    if ext == ".csv":
        return readers.read_csv
    if ext == ".xlsx":
        return readers.read_excel
    if ext == ".xls":
        return readers.read_xls
    raise SystemExit(f"unsupported input extension: {path}")


def _load_config(path: str, year: int | None):
    from fefal_etl_spark.plans.config import GroupSpec, PipelineConfig

    with open(path) as f:
        raw = json.load(f)
    # a Mongo export of the reference's config DB (the four collections,
    # e.g. from mongoexport) is accepted directly — round 6, closes the
    # migration path: the same file shape load_mongo_configs consumed
    if "ConfigColMap" in raw:
        if year is None:
            raise SystemExit(
                "--year is required with a Mongo-export config "
                "(ConfigColMap documents are year-keyed)"
            )
        try:
            return PipelineConfig.from_mongo_docs(raw, year)
        except KeyError as e:
            raise SystemExit(str(e))
    groups = {
        name: GroupSpec(int(g["start"]), int(g["end"]))
        for name, g in raw.get("groups", {}).items()
    }
    kwargs = {
        k: raw[k]
        for k in (
            "rename_map",
            "entity_type_map",
            "comment_keys",
            "formando_keys",
            "default_entity_type",
        )
        if k in raw
    }
    return PipelineConfig(
        year=year if year is not None else int(raw.get("year", 0)),
        groups=groups,
        **kwargs,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m fefal_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run a registry query")
    q.add_argument("name")
    q.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    q.add_argument("--out", help="write result parquet here instead of showing")
    q.add_argument("--limit", type=int, default=20)

    ls = sub.add_parser("list", help="list registry queries")
    ls.add_argument("--grep", default="")

    pl = sub.add_parser("pipeline", help="run the EP2 pipeline on input files")
    pl.add_argument("--survey", required=True)
    pl.add_argument("--registry", required=True)
    pl.add_argument("--config", required=True)
    pl.add_argument("--out", required=True)
    pl.add_argument("--year", type=int)

    sq = sub.add_parser(
        "sql",
        help="execute one ANSI UPDATE/DELETE/MERGE/SELECT statement "
        "against transactional tables (sql_dml.execute_sql)",
    )
    sq.add_argument("statement")
    sq.add_argument(
        "--table", action="append", default=[], metavar="NAME=ROOT",
        help="bind a statement table name to a table root (repeatable)",
    )
    sq.add_argument(
        "--mor", action="store_true",
        help="route UPDATE/DELETE/MERGE through the deletion-vector "
        "(merge-on-read) verbs",
    )
    sq.add_argument(
        "--warehouse",
        default=os.environ.get("FEFAL_WAREHOUSE"),
        help="warehouse directory whose catalog resolves statement "
        "table names (explicit --table bindings shadow it)",
    )
    sq.add_argument("--limit", type=int, default=20)

    ct = sub.add_parser(
        "catalog",
        help="name->root catalog maintenance under a warehouse dir "
        "(create/register/drop/list)",
    )
    ct.add_argument("warehouse", help="warehouse directory")
    ct.add_argument(
        "action", choices=["create", "register", "drop", "list"]
    )
    ct.add_argument("name", nargs="?")
    ct.add_argument(
        "--root",
        help="create/register: explicit table root (create defaults "
        "to <warehouse>/<name>)",
    )
    ct.add_argument(
        "--purge", action="store_true",
        help="drop: also delete the data (managed roots only)",
    )

    tb = sub.add_parser(
        "table",
        help="transactional-table maintenance (the scheduler-invocable "
        "OPTIMIZE/VACUUM surface)",
    )
    tb.add_argument("root", help="table root directory")
    tb.add_argument(
        "action",
        choices=["history", "optimize", "zorder", "bloom", "vacuum",
                 "restore"],
    )
    tb.add_argument(
        "--small-file-mb", type=float,
        help="optimize: bin-pack only files below this size "
        "(omit = full rewrite)",
    )
    tb.add_argument(
        "--partition", action="append", default=[],
        metavar="COL=VALUE",
        help="optimize: scope to one hive partition (repeatable)",
    )
    tb.add_argument(
        "--target-file-mb", type=int, default=128,
        help="optimize: output file size target",
    )
    tb.add_argument("--cols", help="zorder: comma-separated columns")
    tb.add_argument("--col", help="bloom: column to index")
    tb.add_argument(
        "--keep", type=int, default=1,
        help="vacuum: snapshots to keep time-travelable",
    )
    tb.add_argument(
        "--min-age-s", type=float, default=0.0,
        help="vacuum: retention guard for concurrent writers",
    )
    tb.add_argument("--version", type=int, help="restore: target version")

    args = ap.parse_args(argv)

    from fefal_etl_spark.queries import get_queries

    if args.cmd == "list":
        for name in get_queries():
            if args.grep in name:
                print(name)
        return 0

    if args.cmd == "catalog":  # metadata-only: no SparkSession
        from fefal_etl_spark.catalog import TableCatalog

        cat = TableCatalog(args.warehouse)
        if args.action == "list":
            print(json.dumps(cat.tables(), indent=1, sort_keys=True))
        elif args.action == "create":
            if not args.name:
                raise SystemExit("catalog create requires NAME")
            root = cat.create_table(args.name, root=args.root)
            print(json.dumps({"name": args.name, "root": root}))
        elif args.action == "register":
            if not args.name or not args.root:
                raise SystemExit("catalog register requires NAME --root")
            cat.register(args.name, args.root)
            print(json.dumps({"name": args.name, "root": args.root}))
        elif args.action == "drop":
            if not args.name:
                raise SystemExit("catalog drop requires NAME")
            cat.drop(args.name, purge=args.purge)
            print(json.dumps({"dropped": args.name, "purged": args.purge}))
        return 0

    from fefal_etl_spark.session import get_spark

    spark = get_spark(f"cli-{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.cmd == "query":
            queries = get_queries()
            if args.name not in queries:
                raise SystemExit(
                    f"unknown query '{args.name}' "
                    f"(try: python -m fefal_etl_spark list)"
                )
            df = queries[args.name](spark, args.sf)
            if args.out:
                df.write.mode("overwrite").parquet(args.out)
                print(f"wrote {args.out}")
            else:
                df.show(args.limit, truncate=False)
        elif args.cmd == "pipeline":
            from fefal_etl_spark.plans.pipeline import run_pipeline

            survey = _reader_for(args.survey)(spark, args.survey)
            registry = _reader_for(args.registry)(spark, args.registry)
            config = _load_config(args.config, args.year)
            problems = config.validate(len(survey.columns))
            if problems:
                raise SystemExit("config invalid: " + "; ".join(problems))
            # the classified frame comes back materialized, so the four
            # branch writes and the status-count collect read one result
            result = run_pipeline(survey, registry, config)
            for status in ("valid", "duplicate", "unmatched", "blank_name"):
                dest = os.path.join(args.out, status)
                result.branch(status).write.mode("overwrite").parquet(dest)
            from pyspark.sql import functions as F

            counts = {
                r["status"]: r["n"]
                for r in result.frame.groupBy("status")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            from fefal_etl_spark.cache import release_checkpoints

            release_checkpoints()
            print(json.dumps({"out": args.out, "status_counts": counts}))
        elif args.cmd == "sql":
            from pyspark.sql import DataFrame

            from fefal_etl_spark.sql_dml import execute_sql

            bad = [p for p in args.table if "=" not in p]
            if bad:
                raise SystemExit(f"--table expects NAME=ROOT, got: {bad}")
            binds = dict(p.split("=", 1) for p in args.table)
            cat = None
            if args.warehouse:
                from fefal_etl_spark.catalog import TableCatalog

                cat = TableCatalog(args.warehouse)
            out = execute_sql(
                spark, args.statement, tables=binds, mor=args.mor,
                catalog=cat,
            )
            if isinstance(out, DataFrame):
                out.show(args.limit, truncate=False)
            else:
                print(json.dumps({"version": out}))
        elif args.cmd == "table":
            from fefal_etl_spark.table import TransactionalTable

            t = TransactionalTable(spark, args.root)
            if args.action == "history":
                t.history().orderBy("version").show(1000, truncate=False)
            elif args.action == "optimize":
                pf = None
                if args.partition:
                    bad = [p for p in args.partition if "=" not in p]
                    if bad:
                        raise SystemExit(
                            f"--partition expects COL=VALUE, got: {bad}"
                        )
                    pf = dict(p.split("=", 1) for p in args.partition)
                v = t.compact(
                    target_file_mb=args.target_file_mb,
                    small_file_mb=args.small_file_mb,
                    partition_filter=pf,
                )
                print(json.dumps({"root": args.root, "version": v}))
            elif args.action == "zorder":
                if not args.cols:
                    raise SystemExit("zorder requires --cols c1,c2[,...]")
                v = t.optimize_zorder(
                    *[c.strip() for c in args.cols.split(",")]
                )
                print(json.dumps({"root": args.root, "version": v}))
            elif args.action == "bloom":
                if not args.col:
                    raise SystemExit("bloom requires --col")
                v = t.build_bloom(args.col)
                print(json.dumps({"root": args.root, "version": v}))
            elif args.action == "vacuum":
                removed = t.vacuum(
                    keep_versions=args.keep, min_age_s=args.min_age_s
                )
                print(json.dumps({"root": args.root, "removed": removed}))
            elif args.action == "restore":
                if args.version is None:
                    raise SystemExit("restore requires --version")
                v = t.restore(args.version)
                print(json.dumps({"root": args.root, "version": v}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
