"""The registry-query part of the ``analysis_session`` workload:
read-only relational and event-analytics queries over generated
TPC-H-style tables.

Each query is first invoked once, in a fixed order (the first call
builds the plan, fills the plan memo, stages any derived table and runs
the job); the session then repeats it. Every result is checked against
the query's DuckDB ``oracle_sql()`` twin, computed once per run after the
timed phase.

The tables fit in the program's caches: the ``queries`` plan memo, the
``datasets`` relation cache and Spark scheduling carry these calls.
"""

from __future__ import annotations

import time

from perfbench import gen_warehouse
from perfbench.context import Ctx, Outcome
from perfbench.digest import frame_digest

SF = 0.01
SMOKE_SF = 0.002
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
QUERIES = (
    "pricing_summary", "shipping_priority", "suppliers_kept_waiting",
    "funnel_conversion", "sessionize", "asof_attribution", "window_topk",
    "entity_resolution", "dedup_keep_best", "revenue_by_nation",
    "csv_roundtrip_scan", "partitioned_scan",
)
SMOKE_QUERIES = ("pricing_summary", "funnel_conversion", "csv_roundtrip_scan")


def prepare(inputs: str, seed: int, smoke: bool) -> None:
    gen_warehouse.write(inputs, seed, SMOKE_SF if smoke else SF)


class QuerySet:
    """The session's registry queries over the tables in ``inputs``."""

    def __init__(self, ctx: Ctx, inputs: str, out: Outcome):
        from fefal_etl_spark.queries import get_queries

        self.ctx, self.inputs, self.out = ctx, inputs, out
        self.registry = get_queries()
        self.names = list(SMOKE_QUERIES if ctx.smoke else QUERIES)
        self.results: dict[str, list] = {n: [] for n in self.names}
        self._last_df: dict[str, object] = {}
        self._builds = self._hits = 0

    def invoke(self, name: str, sink: dict[str, list[float]]) -> None:
        """Build and run one query, recording its latency in ``sink``."""
        from fefal_etl_spark.cache import release_tracked

        tr, out = self.ctx.tracer, self.out
        t0 = time.perf_counter()
        try:
            with tr.span("warehouse.query"):
                with tr.span("queries.build"):
                    df = self.registry[name](self.ctx.spark, self.inputs)
                with tr.span("queries.exec"):
                    pdf = df.toPandas()
        except Exception as exc:  # a failing query is a failed operation
            out.check(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
            return
        sink[name].append(time.perf_counter() - t0)
        self._builds += 1
        self._hits += df is self._last_df.get(name)
        self._last_df[name] = df
        with tr.span("cache.release"):
            release_tracked()
        if self.results[name]:
            pdf = len(pdf)  # keep repeat results small: only their row count is checked
        self.results[name].append(pdf)

    def first_calls(self) -> None:
        """First calls in a fixed order: a query's first-call cost should
        not depend on how early in the session the seed placed it."""
        from fefal_etl_spark import staging

        stage0 = staging.build_seconds_total()
        for name in self.names:
            self.invoke(name, self.out.first)
        self.out.counters["staging.build_s"] = staging.build_seconds_total() - stage0

    def finish(self) -> None:
        """Memo counter, then every invocation as one checked operation:
        the first result must digest-equal the oracle's, a repeat must
        return as many rows."""
        import duckdb

        from fefal_etl_spark.queries import get_oracles

        out = self.out
        out.counters["queries.memo_hit_ratio"] = (
            self._hits / self._builds if self._builds else 0.0
        )
        oracles = get_oracles()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.inputs}/{t}.parquet')"
            )
        for name in self.names:
            if not self.results[name]:
                continue  # its first invocation failed, already counted
            first, *repeats = self.results[name]
            want = frame_digest(con.execute(oracles[name]).fetchdf())
            got = frame_digest(first)
            out.check(got == want, f"{name}: {got} != oracle {want}")
            for n in repeats:
                out.check(n == want[0], f"{name}: repeat returned {n} rows, oracle {want[0]}")
        con.close()
