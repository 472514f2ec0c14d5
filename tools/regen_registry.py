"""Regenerate REGISTRY.md from the live query registry.

Every registry change (new query, rotation reorder, doc edit) must be
followed by `python tools/regen_registry.py` so REGISTRY.md keeps
matching the driver's actual iteration order. Until round 6 this was an
ad-hoc inline snippet recreated every round; this script is that snippet,
made durable. Output is byte-identical to the committed format: header
with the query count, then one table row per query in `_ordered()` order
(the order the grading driver sees), doc truncated to 150 chars.
`_ordered()` derives that order from the CORRECTNESS_r*.json grades, so
the row order is the one the grades implied when the file was generated;
each new grade makes `--check` report it stale until it is regenerated.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rugpull_data_pipeline_spark.plans import registry  # noqa: E402


def render() -> str:
    rows = registry._ordered()
    lines = [
        "# REGISTRY — all registered queries (generated; driver iteration order)",
        "",
        f"{len(rows)} queries. The grading driver verifies the FIRST 50 against "
        "their DuckDB oracles each round; `oracle` = `sql` means a full "
        "hash-compare twin exists, `rows-only` means the weaker row-count check "
        "(genuinely non-SQL-expressible operators only). Row order follows "
        "the CORRECTNESS_r*.json grades present when this file was generated.",
        "",
        "| # | query | tags | oracle | doc |",
        "|---|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(rows, 1):
        doc = " ".join((spec.doc or "").split()).replace("|", "\\|")
        if len(doc) > 150:
            doc = doc[:147] + "..."
        oracle = "sql" if spec.oracle is not None else "rows-only"
        tags = ",".join(spec.tags)
        lines.append(f"| {i} | `{name}` | {tags} | {oracle} | {doc} |")
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "REGISTRY.md")
    text = render()
    if "--check" in sys.argv:
        current = open(out).read()
        if current != text:
            print("REGISTRY.md is STALE — run python tools/regen_registry.py", file=sys.stderr)
            sys.exit(1)
        print("REGISTRY.md is current.")
    else:
        with open(out, "w") as f:
            f.write(text)
        print(f"wrote {out} ({text.count(chr(10))} lines)")
