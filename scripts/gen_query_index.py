"""Generate QUERIES.md: an index of every driver query — name, oracle
status, and the first docstring line — so the correctness surface is
auditable at a glance.

Run: python3 scripts/gen_query_index.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    import __spark_entry__ as m

    qs = m.queries()
    oracles = set(m.oracle_sql())
    lines = [
        "# Query index",
        "",
        "Generated by `scripts/gen_query_index.py` — one row per",
        "`queries()` entry.  **oracle** = hash-checked against DuckDB at",
        "sf0.01 by the driver (and `scripts/check_oracle.py`); rows-only",
        "entries are declared in their docstrings (sequential UDF",
        "semantics, float ANN scores, or iterative training upstream)",
        "and covered by unit tests instead.",
        "",
        "| query | oracle | summary |",
        "|---|---|---|",
    ]
    n_oracle = 0
    for name, fn in qs.items():
        doc = (fn.__doc__ or "").strip().splitlines()
        summary = doc[0].strip() if doc else ""
        # docstring first lines often continue on line 2; join enough
        # to finish the sentence, then truncate
        i = 1
        while i < len(doc) and not summary.rstrip().endswith(".") and i < 3:
            summary += " " + doc[i].strip()
            i += 1
        if len(summary) > 160:
            summary = summary[:157] + "..."
        summary = summary.replace("|", "\\|")
        has = name in oracles
        n_oracle += int(has)
        lines.append(
            f"| {name} | {'yes' if has else 'rows-only'} | {summary} |"
        )
    lines += [
        "",
        f"**{len(qs)} queries, {n_oracle} oracle-backed, "
        f"{len(qs) - n_oracle} rows-only.**",
        "",
    ]
    with open(os.path.join(REPO, "QUERIES.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"QUERIES.md written: {len(qs)} queries, {n_oracle} oracle-backed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
