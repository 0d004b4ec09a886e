"""Generate docs/OPERATORS.md from the live query registry.

Run from the repo root: ``python tools/gen_operators_md.py``. The table is
the navigable index the correctness gate certifies — one row per
registered query with its module, oracle status, and one-line doc.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from collect_mobile_devices_datalake_spark.registry import (  # noqa: E402
    REGISTRY,
    _ensure_loaded,
)


def render() -> str:
    """The catalog text: one row per registered query, ordered by module
    and then name, so the file changes only when an operator does (not
    when the registry's rotation order moves)."""
    _ensure_loaded()
    lines = [
        "# Operator / query catalog",
        "",
        "Generated by `tools/gen_operators_md.py` — do not edit by hand.",
        "",
        f"{len(REGISTRY)} registered queries; every entry is exposed through "
        "`__spark_entry__.queries()` and (when `oracle` is ✓) value-checked "
        "against its DuckDB twin by `tests/test_oracle_parity.py` and the "
        "driver gate. Rows are ordered by module, then query name.",
        "",
        "| # | query | module | oracle | doc |",
        "|---|-------|--------|--------|-----|",
    ]
    rows = sorted(
        (spec.spark.__module__.rsplit(".", 1)[-1], name, spec)
        for name, spec in REGISTRY.items()
    )
    for i, (mod, name, spec) in enumerate(rows, 1):
        doc = " ".join((spec.doc or "").split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        oracle = "✓" if spec.oracle else "rows-only"
        lines.append(f"| {i} | `{name}` | {mod} | {oracle} | {doc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open("docs/OPERATORS.md", "w") as f:
        f.write(render())
    print(f"wrote docs/OPERATORS.md ({len(REGISTRY)} queries)")


if __name__ == "__main__":
    main()
