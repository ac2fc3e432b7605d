"""Per-layer metrics of a traced run, from its spans and counters.

Every workload reports every metric; a layer the workload leaves idle
reads 0. Span names are ``<layer>.<call>``; spans named after a workload
(``survey.*``, ``warehouse.*``, ``corpus.*``) are the benchmark's own
loop and only parent the layer spans.
"""

from __future__ import annotations

from perfbench.stats import percentile
from perfbench.tracing import by_name

LAYERS = ("sources", "operators", "plans", "queries", "staging", "table", "cache", "llm")

#: (metric, unit) in report order
METRICS: list[tuple[str, str]] = [
    ("sources.read_csv_s", "s"),
    ("plans.run_pipeline_s", "s"),
    ("plans.run_pipeline_jobs", "count"),
    ("operators.classify_s", "s"),
    ("plans.build_star_s", "s"),
    ("table.append_p50_s", "s"),
    ("table.append_p90_s", "s"),
    ("table.merge_p50_s", "s"),
    ("table.merge_p90_s", "s"),
    ("table.commits", "count"),
    ("table.bytes_written", "bytes"),
    ("table.write_amp", "ratio"),
    ("table.live_files", "count"),
    ("table.read_s", "s"),
    ("spark.jobs_per_wave", "count"),
    ("queries.build_s", "s"),
    ("queries.memo_hit_ratio", "ratio"),
    ("staging.build_s", "s"),
    ("queries.exec_s", "s"),
    ("queries.spark_jobs", "count"),
    ("llm.curate_s", "s"),
    ("llm.exact_dedup_s", "s"),
    ("llm.minhash_s", "s"),
    ("llm.components_s", "s"),
    ("llm.lsh_candidates", "count"),
    ("llm.verified_pairs", "count"),
    ("llm.lsh_precision", "ratio"),
    ("llm.topk_s", "s"),
    ("cache.persisted_after", "count"),
    *[(f"self.{layer}_s", "s") for layer in LAYERS],
    ("trace.spans", "count"),
    ("trace.overhead_frac", "frac"),
]

# metric -> span whose mean self time per call it reports
_MEAN_SELF = {
    "sources.read_csv_s": "sources.read_csv",
    "plans.run_pipeline_s": "plans.run_pipeline",
    "operators.classify_s": "operators.classify",
    "plans.build_star_s": "plans.build_star",
    "table.read_s": "table.read",
    "queries.build_s": "queries.build",
    "queries.exec_s": "queries.exec",
    "llm.curate_s": "llm.curate",
    "llm.exact_dedup_s": "llm.exact_dedup",
    "llm.minhash_s": "llm.minhash",
    "llm.components_s": "llm.components",
    "llm.topk_s": "llm.topk",
}
# metric -> span whose mean Spark job count per call it reports
_MEAN_JOBS = {
    "plans.run_pipeline_jobs": "plans.run_pipeline",
    "spark.jobs_per_wave": "survey.wave",
    "queries.spark_jobs": "queries.exec",
}
# metric -> (span, percentile) over call durations
_PCTL = {
    "table.append_p50_s": ("table.append", 50),
    "table.append_p90_s": ("table.append", 90),
    "table.merge_p50_s": ("table.merge", 50),
    "table.merge_p90_s": ("table.merge", 90),
}


def per_layer(tracer, out, wall_s: float) -> dict[str, float]:
    """Metric name -> value for one traced run."""
    agg = by_name(tracer.spans)
    vals: dict[str, float] = {}
    for m, span in _MEAN_SELF.items():
        a = agg.get(span)
        vals[m] = a["self_s"] / a["count"] if a else 0.0
    for m, span in _MEAN_JOBS.items():
        a = agg.get(span)
        vals[m] = a["jobs"] / a["count"] if a else 0.0
    for m, (span, q) in _PCTL.items():
        a = agg.get(span)
        vals[m] = percentile(a["durations"], q) if a else 0.0
    for layer in LAYERS:
        vals[f"self.{layer}_s"] = sum(
            a["self_s"] for n, a in agg.items() if n.startswith(layer + ".")
        )
    vals["trace.spans"] = len(tracer.spans)
    vals["trace.overhead_frac"] = tracer.overhead_s / wall_s if wall_s else 0.0
    for m, _unit in METRICS:
        if m in out.counters:
            vals[m] = out.counters[m]
        vals.setdefault(m, 0)
    return {m: vals[m] for m, _unit in METRICS}
