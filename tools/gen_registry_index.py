"""Regenerate COVERAGE.md's auto-maintained registry index section.

Rewrites everything after the '## Registry index' header (appending the
section if absent) with the current QUERIES registry grouped by module.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = "## Registry index (all registered query names, by module)"
COVERAGE = os.path.join(REPO, "COVERAGE.md")


def index_lines() -> list[str]:
    """The section's lines, header first, as main() writes them."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    bymod: dict[str, list[str]] = {}
    for n, fn in QUERIES.items():
        bymod.setdefault(fn.__module__.split(".")[-1], []).append(n)
    lines = [
        HEADER,
        "",
        "Auto-maintained appendix so every registry name is greppable here;",
        "regenerate with `python tools/gen_registry_index.py`. Every name has",
        "a DuckDB oracle in `oracle_sql()` (0 rows-only entries).",
        "",
    ]
    for mod in sorted(bymod):
        names = " ".join(f"`{n}`" for n in bymod[mod])
        lines.append(f"- **{mod}** ({len(bymod[mod])}): {names}")
    return lines


def main() -> None:
    lines = index_lines()
    text = open(COVERAGE).read()
    head = text.split(HEADER)[0].rstrip() + "\n\n"
    open(COVERAGE, "w").write(head + "\n".join(lines) + "\n")
    modules = [line for line in lines if line.startswith("- **")]
    names = sum(line.count(" `") for line in modules)
    print(f"wrote {names} names across {len(modules)} modules")


if __name__ == "__main__":
    main()
