"""Generate OPERATORS.md — the operator reference — from the live registry
(key, module, oracle lane, first docstring line). Run after adding ops:

    python scripts/gen_operators_doc.py > OPERATORS.md
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sap_cta_data_pipeline_spark.operators  # noqa: E402,F401
from sap_cta_data_pipeline_spark.registry import ORACLES, QUERIES  # noqa: E402


def first_line(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(line.strip() for line in doc.strip().splitlines())
    for stop in (". ", "; "):
        if stop in text:
            return text.split(stop)[0] + "."
    return text


def render() -> str:
    """The full OPERATORS.md text for the live registry."""
    by_module: dict[str, list[str]] = defaultdict(list)
    for key, fn in QUERIES.items():
        module = fn.__module__.rsplit(".", 1)[-1]
        by_module[module].append(key)

    lines = [
        "# OPERATORS — implemented inventory (generated by scripts/gen_operators_doc.py)",
        "",
        f"{len(QUERIES)} operators; {len(ORACLES)} with DuckDB value-hash oracles, "
        f"{len(QUERIES) - len(ORACLES)} rows-only (approximate / hash-specific / iterative).",
        "",
    ]
    for module in sorted(by_module):
        lines += [f"## {module}", "", "| key | oracle | summary |", "| --- | --- | --- |"]
        for key in sorted(by_module[module]):
            lane = "SQL" if key in ORACLES else "rows"
            summary = first_line(QUERIES[key].__doc__).replace("|", "\\|")
            lines.append(f"| `{key}` | {lane} | {summary} |")
        lines.append("")
    return "\n".join(lines) + "\n"


def main() -> int:
    sys.stdout.write(render())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
