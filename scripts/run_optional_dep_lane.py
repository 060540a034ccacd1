"""CI-style runner for the optional-dependency lane (r4 judge brief
#5): in an environment that HAS tiktoken / openpyxl / Pillow / pypdf,
the lane must run NON-SKIPPED and pass; in a library-free container it
reports exactly which branches stayed dormant.

    pip install tiktoken pypdf openpyxl pillow   # the full lane
    python3 scripts/run_optional_dep_lane.py

Exit codes: 0 = every test whose library is installed passed (and none
of them skipped); 1 = a runnable test failed OR skipped despite its
library being present (a wiring bug — the gate no longer sees the
lib)."""

from __future__ import annotations

import importlib.util
import os
import re
import subprocess
import sys

LIBS = {
    "tiktoken": "tiktoken",
    "openpyxl": "openpyxl",
    "PIL": "pillow",
    "pypdf": "pypdf",
}


def main() -> int:
    present = {m for m in LIBS if importlib.util.find_spec(m) is not None}
    absent = set(LIBS) - present
    print(f"present: {sorted(present) or '(none)'}")
    if absent:
        pips = " ".join(sorted(LIBS[m] for m in absent))
        print(f"absent:  {sorted(absent)}  (pip install {pips})")

    proc = subprocess.run(
        [
            sys.executable, "-m", "pytest",
            "tests/test_optional_deps.py", "-v", "-rs",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True,
    )
    out = proc.stdout + proc.stderr
    print(out[-3000:])
    if proc.returncode != 0:
        print("LANE FAILED: a runnable optional-dep test failed")
        return 1

    # a skip whose reason names an INSTALLED library is a wiring bug
    bad = [
        line
        for line in out.splitlines()
        if "SKIPPED" in line
        and any(
            re.search(rf"\b{m}\b", line, re.I)
            or re.search(rf"\b{LIBS[m]}\b", line, re.I)
            for m in present
        )
    ]
    if bad:
        print("LANE FAILED: tests skipped although their library is installed:")
        for line in bad:
            print(" ", line)
        return 1
    n_skip = sum(
        1 for line in out.splitlines() if line.startswith("SKIPPED [")
    )
    print(
        f"LANE OK: {'fully exercised' if not absent else f'{n_skip} branch(es) dormant (libs absent)'}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
