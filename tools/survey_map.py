"""Regenerate SURVEY.md's catalog map — the greppable 1:1 index from
every `catalog.queries()` name to its entry point (r9 verdict asked
for SURVEY/catalog sync to be mechanical, not manual).

Rewrites the block between the BEGIN/END markers in SURVEY.md; the
contract test (tests/test_survey_sync.py) fails whenever a catalog
query is missing from SURVEY.md, so adding a query without re-running
this tool turns the suite red.

Usage: python tools/survey_map.py
"""

from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BEGIN = "<!-- BEGIN CATALOG MAP (generated by tools/survey_map.py) -->"
END = "<!-- END CATALOG MAP -->"


def build_table() -> str:
    from loudml_spark.catalog import QUERIES

    lines = [
        BEGIN,
        "",
        "### §2-EXT-MAP Catalog query index (generated — do not edit)",
        "",
        "Every `queries()` name, its entry point, and oracle kind"
        " (`sql` = static DuckDB SQL, `data-derived` = constructed"
        " from the same parquet by independent Python).  Regenerate"
        " with `python tools/survey_map.py`.",
        "",
        "| catalog query | entry point | oracle |",
        "|---|---|---|",
    ]
    for name in sorted(QUERIES):
        spec = QUERIES[name]
        fn = spec["fn"]
        mod = fn.__module__.replace("loudml_spark.", "")
        try:
            line = inspect.getsourcelines(fn)[1]
            where = f"`{mod}.py:{line}` `{fn.__name__}`"
        except OSError:
            where = f"`{mod}` `{fn.__name__}`"
        kind = "sql" if "oracle" in spec else "data-derived"
        lines.append(f"| `{name}` | {where} | {kind} |")
    lines += ["", END]
    return "\n".join(lines)


def main():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SURVEY.md")
    text = open(path).read()
    table = build_table()
    if BEGIN in text:
        text = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END),
            lambda _: table, text, flags=re.S)
    else:
        anchor = "\n---\n\n## 3. Query lifecycle"
        if anchor not in text:
            raise SystemExit("SURVEY.md anchor not found")
        text = text.replace(anchor, f"\n{table}\n{anchor}")
    open(path, "w").write(text)
    from loudml_spark.catalog import QUERIES
    print(f"wrote catalog map: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
