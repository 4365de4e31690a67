"""Regenerate the auto-generated registry appendix in COVERAGE.md:
one row per __spark_entry__.queries() key with its oracle status and
the query docstring's first sentence (which carries the operator
file:line pointer). Idempotent — rewrites only the text between the
REGISTRY-INDEX markers.

    python tools/gen_registry_index.py
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
COVERAGE = os.path.join(ROOT, "COVERAGE.md")

BEGIN = "<!-- REGISTRY-INDEX:BEGIN (generated by tools/gen_registry_index.py) -->"
END = "<!-- REGISTRY-INDEX:END -->"


def main() -> None:
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    lines = [
        BEGIN,
        "",
        f"## Appendix: full driver-query registry ({len(qs)} queries, "
        f"{sum(1 for k in qs if k in oracles)} with DuckDB oracles)",
        "",
        "Auto-generated from `__spark_entry__.py`. \"oracle\" = full",
        "row-count + schema + value-hash cross-check against the",
        "`oracle_sql()` twin at sf0.01 (the driver gate); \"rows-only\"",
        "= genuinely non-SQL-expressible op (custom stateful streaming),",
        "weaker driver check, pytest-proven instead.",
        "",
        "| query | oracle | what it runs |",
        "|---|---|---|",
    ]
    for name in sorted(qs):
        doc = (qs[name].__doc__ or "").strip()
        doc = re.sub(r"\s+", " ", doc)
        doc = doc.replace("|", "\\|")
        mode = "oracle" if name in oracles else "rows-only"
        lines.append(f"| `{name}` | {mode} | {doc} |")
    lines += ["", END]
    block = "\n".join(lines)

    with open(COVERAGE) as f:
        text = f.read()
    if BEGIN in text:
        text = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END),
            lambda _m: block,
            text,
            flags=re.S,
        )
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(COVERAGE, "w") as f:
        f.write(text)
    print(f"wrote registry index: {len(qs)} queries")


if __name__ == "__main__":
    main()
