"""Regenerate docs/OPERATORS.md from the query registry.

Run after adding/removing registered queries:
    python scripts/gen_catalog.py

The hand-written sections after the table (from its first ``## ``
heading on, e.g. the retired-levers decision log) are kept.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_jobs_spark import registry  # noqa: E402


def main() -> None:
    registry.all_queries()
    regs = registry._REGISTRY
    lines = [
        "# Operator catalog",
        "",
        "Auto-generated from `etl_jobs_spark/registry.py` — one row per query the",
        'driver contract (`__spark_entry__.py::queries()`) exposes. "Oracle" marks',
        "queries hash-compared against ANSI-SQL DuckDB oracles; the rest are",
        "accuracy-tested (see tests/).",
        "",
        "| Query | Module | Oracle | What it does |",
        "|---|---|---|---|",
    ]
    for name in sorted(regs):
        rq = regs[name]
        mod = rq.fn.__module__.rsplit(".", 1)[-1]
        doc = " ".join((rq.doc or "").split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        lines.append(
            f"| `{name}` | {mod} | {'✓' if rq.oracle else 'rows-only'} | "
            f"{doc.replace('|', chr(92) + '|')} |"
        )
    out = Path(__file__).resolve().parents[1] / "docs" / "OPERATORS.md"
    old = out.read_text() if out.exists() else ""
    kept = old[old.find("\n## ") :] if "\n## " in old else ""
    out.write_text("\n".join(lines) + "\n" + kept)
    print(f"wrote {out} ({len(regs)} queries)")


if __name__ == "__main__":
    main()
