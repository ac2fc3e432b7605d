"""Generate docs/QUERIES.md: one row per registered query with its oracle
status and its first docstring line. Run after adding, renaming or
re-documenting queries:

    python tools/gen_query_inventory.py

tests/test_round5_ops.py regenerates this in CI and fails if the checked-
in file is stale.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build() -> str:
    from fefal_etl_spark.queries import get_oracles, get_queries

    qs, oracles = get_queries(), get_oracles()
    lines = [
        "# Query inventory",
        "",
        "Auto-generated by `tools/gen_query_inventory.py` (CI-checked in",
        "tests/test_round5_ops.py — regenerate after adding queries).",
        "Every entry is exposed through `__spark_entry__.queries()`;",
        "oracle = an equivalent DuckDB SQL twin, hash-compared on both of",
        "a session's calls by `tools/check_oracle.py` at sf0.01.",
        "",
        "| query | oracle | description |",
        "| --- | --- | --- |",
    ]
    for name in sorted(qs):
        doc = (qs[name].__doc__ or "").strip().split("\n")[0].strip()
        oracle = "sql" if name in oracles else "rows-only"
        lines.append(f"| `{name}` | {oracle} | {doc} |")
    lines.append("")
    lines.append(f"Total: {len(qs)} queries, {len(oracles)} with SQL oracles.")
    return "\n".join(lines) + "\n"


def main() -> None:
    text = build()
    out = os.path.join(REPO, "docs", "QUERIES.md")
    with open(out, "w") as f:
        f.write(text)
    print("wrote docs/QUERIES.md")


if __name__ == "__main__":
    main()
