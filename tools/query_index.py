"""Generate QUERIES.md: one line per registered query — name, oracle
status, first docstring sentence. Regenerate after adding queries:

    python tools/query_index.py > QUERIES.md
"""

from __future__ import annotations

import sys


def main() -> int:
    sys.path.insert(0, "/root/repo")
    from learn_hbase_spark import queries as Q

    qs = Q.queries()
    oracles = Q.oracle_sql()
    print("# Query registry")
    print()
    print(
        f"{len(qs)} queries; {len(oracles)} with a DuckDB oracle twin "
        "(the rest are rows-only by declared necessity). Generated by "
        "`tools/query_index.py` — do not edit by hand."
    )
    print()
    print("| # | Query | Check | What it demonstrates |")
    print("|---|---|---|---|")
    for i, (name, fn) in enumerate(qs.items(), 1):
        doc = (fn.__doc__ or "").strip().replace("\n", " ")
        while "  " in doc:
            doc = doc.replace("  ", " ")
        first = doc.split(". ")[0].rstrip(".") + "." if doc else ""
        if len(first) > 160:
            first = first[:157] + "..."
        check = "oracle" if name in oracles else "rows-only"
        print(f"| {i} | `{name}` | {check} | {first} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
