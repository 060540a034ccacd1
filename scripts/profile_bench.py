"""Per-query profiling for the bench headline set (guide §1):

For each headline query at $SPARK_GRAFT_SF_DIR (default sf0.1):
  - build_sec: DataFrame construction time (driver-side plan building)
  - first_sec: first noop materialization (includes codegen/planning)
  - best_sec:  best of N repeats (the bench's measurement)
  - n_jobs/n_stages/n_tasks: scheduler work per materialization
  - exchanges/pyevals/bhj/smj: plan-shape counters from the executed plan

Usage: python3 scripts/profile_bench.py [query1,query2,...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.harness import HEADLINE, materialize, session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None

    import __spark_entry__ as entry_mod

    spark = session("profile-bench")
    sc = spark.sparkContext

    status = sc.statusTracker()

    qs = entry_mod.queries()
    headline = [h for h in HEADLINE if only is None or h in only]

    # warm
    materialize(spark.range(1_000_000).selectExpr("sum(id) as s"))
    materialize(entry_mod._t(spark, sf_dir, "lineitem").limit(1000))

    results = {}
    for name in headline:
        sc.setJobDescription(f"profile:{name}")
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        build_sec = time.time() - t0

        jobs_before = len(status.getJobIdsForGroup(None) or [])
        t0 = time.time()
        materialize(df)
        first_sec = time.time() - t0

        best = None
        for _ in range(3):
            t0 = time.time()
            materialize(qs[name](spark, sf_dir))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)

        # count jobs/stages for ONE materialization
        jb = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
        n_before = len(jb)
        t0 = time.time()
        materialize(qs[name](spark, sf_dir))
        one_sec = time.time() - t0
        ja = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
        n_jobs = len(ja) - n_before

        plan = df._jdf.queryExecution().executedPlan().toString()
        counters = {
            "exchanges": plan.count("Exchange"),
            "bcast": plan.count("BroadcastExchange"),
            "pyeval": plan.count("EvalPython") + plan.count("MapInPandas")
            + plan.count("FlatMapCoGroupsInPandas") + plan.count("FlatMapGroupsInPandas"),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "shj": plan.count("ShuffledHashJoin"),
        }
        results[name] = {
            "build_sec": round(build_sec, 3),
            "first_sec": round(first_sec, 3),
            "best_sec": round(best, 3),
            "one_sec": round(one_sec, 3),
            "n_jobs": n_jobs,
            **counters,
        }
        print(json.dumps({name: results[name]}), flush=True)

    print("TOTAL best:", round(sum(r["best_sec"] for r in results.values()), 3))
    spark.stop()


if __name__ == "__main__":
    main()
