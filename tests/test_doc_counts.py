"""Round 9 (r8 verdict next #3): the query totals in COVERAGE.md and
TODO.md drifted from the live registry two rounds running (185/175 in the
docs vs 187/177 live at the r8 freeze).  The dialect counts were fixed by
generating them (scripts/count_dialect.py); this test closes the same loop
for the query totals — the docs (COVERAGE.md, TODO.md, README.md) must
quote exactly what the registry holds, and scripts/count_dialect.py must
report the same triple."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _totals() -> tuple[int, int, int]:
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    from count_dialect import query_totals

    t = query_totals()
    return t["registered"], t["oracle_backed"], t["rows_only"]


def test_registry_triple_is_consistent():
    reg, ob, ro = _totals()
    assert reg == ob + ro
    import __spark_entry__ as entry

    assert set(entry.oracle_sql()) <= set(entry.queries())
    # README quotes the same triple, and the mapped-name figure that
    # scripts/count_dialect.py prints.
    from mcp_clickhouse_spark.dialect import NAME_MAP, PARAMETRIC, TEMPLATES

    text = (REPO / "README.md").read_text()
    m = re.search(
        r"(\d+) named queries wired to the driver contract "
        r"\((\d+) with DuckDB oracles, (\d+) rows-only\)",
        text,
    )
    assert m, "README.md inventory line missing or reformatted"
    assert tuple(map(int, m.groups())) == (reg, ob, ro), (
        f"README.md says {m.groups()}, registry holds ({reg}, {ob}, {ro}) — "
        "update the inventory row (python scripts/count_dialect.py prints it)"
    )
    names = len(set(NAME_MAP) | set(TEMPLATES) | set(PARAMETRIC))
    m = re.search(r"\((\d+) distinct mapped names", text)
    assert m and int(m.group(1)) == names, (
        f"README.md mapped-name figure is not {names} — "
        "python scripts/count_dialect.py prints it"
    )


def test_coverage_md_matches_registry():
    reg, ob, ro = _totals()
    text = (REPO / "COVERAGE.md").read_text()
    m = re.search(
        r"Totals: (\d+) named queries \((\d+) oracle-checked, (\d+) rows-only",
        text,
    )
    assert m, "COVERAGE.md totals line missing or reformatted"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (reg, ob, ro), (
        f"COVERAGE.md says {m.groups()}, registry holds ({reg}, {ob}, {ro}) — "
        "update the Totals line (python scripts/count_dialect.py prints it)"
    )


def test_todo_md_matches_registry():
    reg, ob, ro = _totals()
    text = (REPO / "TODO.md").read_text()
    m = re.search(
        r"\*\*(\d+) queries \((\d+) oracle-backed, (\d+) rows-only", text
    )
    assert m, "TODO.md handoff line missing or reformatted"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (reg, ob, ro), (
        f"TODO.md says {m.groups()}, registry holds ({reg}, {ob}, {ro}) — "
        "update the handoff line (python scripts/count_dialect.py prints it)"
    )
