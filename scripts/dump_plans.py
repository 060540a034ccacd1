"""Dump .explain('formatted') for every bench headline query into
plans/<round>/<query>_<suffix>.txt (the plan evidence behind an
OPTIMIZATION_<round>.md).

Usage: python3 scripts/dump_plans.py <round> before|after [q1,q2,...]
  e.g. python3 scripts/dump_plans.py r13 after q05_regional_revenue
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.harness import HEADLINE  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    rnd, suffix = sys.argv[1], sys.argv[2]
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"dump-plans-{rnd}")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    qs = entry_mod.queries()
    names = [h for h in HEADLINE if only is None or h in only]
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange-ish nodes)")
    spark.stop()


if __name__ == "__main__":
    main()
