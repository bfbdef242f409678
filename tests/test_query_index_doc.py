"""QUERIES.md freshness (VERDICT r12 #5): the generated registry doc was
the one artifact without a drift test — r12 shipped with it reading
227/219 while the registry was 229/223. These tests fail the moment a
registration, promotion, or rows-only declaration lands without re-running
``python tools/query_index.py > QUERIES.md``."""

from __future__ import annotations

import re

from learn_hbase_spark import queries as Q
from test_oracle_parity import _ROWS_ONLY_CHECKS


def _doc_rows() -> dict[str, str]:
    """{query name: check column} parsed from QUERIES.md's table."""
    rows: dict[str, str] = {}
    with open("QUERIES.md") as f:
        for line in f:
            m = re.match(r"\| \d+ \| `([^`]+)` \| (oracle|rows-only) \|", line)
            if m:
                rows[m.group(1)] = m.group(2)
    return rows


def test_queries_md_counts_match_registry():
    with open("QUERIES.md") as f:
        text = f.read()
    m = re.search(r"(\d+) queries; (\d+) with a DuckDB oracle twin", text)
    assert m, "QUERIES.md missing the summary line"
    assert int(m.group(1)) == len(Q._QUERIES), (
        f"QUERIES.md says {m.group(1)} queries, registry has "
        f"{len(Q._QUERIES)} — re-run tools/query_index.py"
    )
    assert int(m.group(2)) == len(Q._ORACLES), (
        f"QUERIES.md says {m.group(2)} oracle twins, registry has "
        f"{len(Q._ORACLES)} — re-run tools/query_index.py"
    )


def test_queries_md_rows_match_registry_and_rows_only_declarations():
    rows = _doc_rows()
    assert set(rows) == set(Q._QUERIES), (
        "QUERIES.md rows diverge from the registry: "
        f"missing={sorted(set(Q._QUERIES) - set(rows))[:5]} "
        f"extra={sorted(set(rows) - set(Q._QUERIES))[:5]} — re-run "
        "tools/query_index.py"
    )
    for name, check in rows.items():
        want = "oracle" if name in Q._ORACLES else "rows-only"
        assert check == want, (
            f"QUERIES.md lists {name} as {check}, registry says {want} — "
            "re-run tools/query_index.py"
        )
    # the doc's rows-only set must equal the declared secondary-check
    # table, so an undeclared rows-only query can't hide in either place
    doc_rows_only = {n for n, c in rows.items() if c == "rows-only"}
    assert doc_rows_only == set(_ROWS_ONLY_CHECKS), (
        f"rows-only drift: doc={sorted(doc_rows_only)} vs declared="
        f"{sorted(_ROWS_ONLY_CHECKS)}"
    )
