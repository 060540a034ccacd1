"""Where a refresh tick's Spark jobs, generated code and CPU go.

    python3 scripts/tick_jobs.py [--seed 106] [--ticks 3]

Replays perfbench's ``refresh`` sequence (``perfbench/gen.py``'s corpus,
``perfbench/workloads.py``'s ingest options): a base ingest into an
empty table and text index, then ``--ticks`` ticks, each followed by
``run_ingest_job`` over the full listing.  For every ingest call it
prints two tables:

- per sub-call (the package functions the job calls, innermost wins):
  Spark jobs, Janino compiles and process-tree CPU seconds, each
  exclusive of the nested sub-calls;
- per action (one DataFrame action or write, with the package call site
  that ran it, ``?`` for the caller's own): its SQL execution ids,
  Spark jobs, compiles and CPU.  Jobs that no action ran (parquet
  schema inference, for one) show in the sub-call table only.

Jobs are tagged with ``setJobGroup`` per sub-call and per action and
read back from the status tracker; compiles are the JVM's
``CodegenMetrics`` compilation count; CPU is read from ``/proc`` for
the process tree (driver, JVM, Python workers), as perfbench does.
The session comes from ``session.get_spark`` as in perfbench, not from
``scripts/harness.session``: ``bench.py``'s conf keeps Spark's default
100-entry codegen cache, whose evictions would be counted as the
tick's own compiles.  Inputs go to a temporary directory, removed at
exit.  Run from the repository root.
"""

from __future__ import annotations

import argparse
import functools
import importlib
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

from gen import Corpus, CorpusSpec  # noqa: E402  (perfbench, read-only)
from spans import tree_cpu_s  # noqa: E402
from workloads import CHUNK_KW, INGEST_KW  # noqa: E402

#: (module, function) pairs timed as sub-calls of ``run_ingest_job``;
#: each is looked up through its module at call time, so patching the
#: module attribute catches every caller
SUB_CALLS = [
    ("gpt_rag_ingestion_spark.plans.ingest_job", "snapshot_merge_upsert"),
    ("gpt_rag_ingestion_spark.plans.ingest_job", "snapshot_maybe_analyze"),
    ("gpt_rag_ingestion_spark.plans.ingest_job", "snapshot_enable_stats"),
    ("gpt_rag_ingestion_spark.operators.snapshot_table", "_maybe_write_stats"),
    ("gpt_rag_ingestion_spark.operators.search", "text_index_apply"),
    ("gpt_rag_ingestion_spark.operators.search", "text_index_build"),
    ("gpt_rag_ingestion_spark.operators.search", "text_index_maybe_compact"),
    ("gpt_rag_ingestion_spark.operators.search", "_tindex_delta"),
]
#: DataFrame actions and writer terminals; nested calls (``first`` runs
#: ``collect``) count once, at the outermost
ACTIONS = [
    ("pyspark.sql.classic.dataframe", "DataFrame",
     ("collect", "count", "first", "toPandas", "localCheckpoint")),
    ("pyspark.sql.readwriter", "DataFrameWriter", ("save", "parquet")),
]
BODY = "run_ingest_job"


class Attribution:
    """Jobs, compiles and CPU of nested frames: sub-calls, each counting
    only what its nested sub-calls did not, and the actions inside
    them."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiles = metric.METRIC_COMPILATION_TIME()
        self.stack: list[dict] = []
        self.frames: list[dict] = []
        self._n = 0

    def compiles(self) -> int:
        return int(self._compiles.getCount())

    def _enter(self, kind: str, name: str, site: str = "") -> dict:
        self._n += 1
        fr = {
            "kind": kind, "name": name, "site": site,
            "group": f"tick-jobs-{self._n}",
            "sub": name if kind == "sub" else self.stack[-1]["sub"],
            "compiles": -self.compiles(), "cpu": -tree_cpu_s(),
            "child_compiles": 0, "child_cpu": 0.0,
        }
        self.sc.setJobGroup(fr["group"], name)
        self.stack.append(fr)
        self.frames.append(fr)
        return fr

    def _exit(self, fr: dict) -> None:
        fr["compiles"] += self.compiles()
        fr["cpu"] += tree_cpu_s()
        self.stack.pop()
        if self.stack:
            parent = self.stack[-1]
            if fr["kind"] == "sub":
                parent["child_compiles"] += fr["compiles"]
                parent["child_cpu"] += fr["cpu"]
            self.sc.setJobGroup(parent["group"], parent["name"])
        else:
            self.sc.setJobGroup("tick-jobs-none", "")

    def wrap(self, kind: str, name: str, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if not self.stack or (kind == "action" and self.stack[-1]["kind"] == "action"):
                return fn(*args, **kwargs)
            site = _call_site() if kind == "action" else ""
            fr = self._enter(kind, name, site)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit(fr)

        return inner

    def run(self, name: str, fn):
        self.frames = []
        fr = self._enter("sub", name)
        try:
            return fn()
        finally:
            self._exit(fr)

    def report(self, title: str, wall_s: float) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = {
            fr["group"]: [int(j) for j in tracker.getJobIdsForGroup(fr["group"])]
            for fr in self.frames
        }
        sql = self.spark._jsparkSession.sharedState().statusStore()
        exec_of: dict[int, int] = {}
        total = int(sql.executionsCount())
        it = sql.executionsList(max(total - 2000, 0), min(total, 2000)).iterator()
        while it.hasNext():
            e = it.next()
            ks = e.jobs().keys().iterator()
            while ks.hasNext():
                exec_of[int(ks.next())] = int(e.executionId())
        top = self.frames[0]
        n_jobs = sum(len(v) for v in jobs.values())
        print(
            f"== {title}: jobs {n_jobs}  compiles {top['compiles']}  "
            f"cpu {top['cpu']:.2f} s  wall {wall_s:.2f} s"
        )
        subs: dict[str, list] = {}
        for fr in self.frames:
            row = subs.setdefault(fr["sub"], [0, 0, 0.0])
            row[0] += len(jobs[fr["group"]])
            if fr["kind"] == "sub":
                row[1] += fr["compiles"] - fr["child_compiles"]
                row[2] += fr["cpu"] - fr["child_cpu"]
        print(f"  {'sub-call':<28}{'jobs':>6}{'compiles':>10}{'cpu_s':>8}")
        for name, (nj, nc, cpu) in subs.items():
            print(f"  {name:<28}{nj:>6}{nc:>10}{cpu:>8.2f}")
        print(
            f"  {'action':<10}{'sql ids':<14}{'jobs':>5}{'compiles':>9}"
            f"{'cpu_s':>7}  sub-call / call site"
        )
        for fr in self.frames:
            if fr["kind"] != "action":
                continue
            js = jobs[fr["group"]]
            ids = sorted({exec_of[j] for j in js if j in exec_of})
            print(
                f"  {fr['name']:<10}{','.join(map(str, ids)) or '-':<14}"
                f"{len(js):>5}{fr['compiles']:>9}{fr['cpu']:>7.2f}"
                f"  {fr['sub']} / {fr['site']}"
            )


def _call_site() -> str:
    """The innermost package frame (``file:line function``) of the
    current Python stack."""
    for f in reversed(traceback.extract_stack()[:-2]):
        if "gpt_rag_ingestion_spark" in f.filename:
            rel = f.filename.split("gpt_rag_ingestion_spark/", 1)[1]
            return f"{rel}:{f.lineno} {f.name}"
    return "?"


def _install(att: Attribution) -> None:
    for mod, name in SUB_CALLS:
        m = importlib.import_module(mod)
        setattr(m, name, att.wrap("sub", name, getattr(m, name)))
    for mod, cls_name, names in ACTIONS:
        cls = getattr(importlib.import_module(mod), cls_name)
        for name in names:
            setattr(cls, name, att.wrap("action", name, getattr(cls, name)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=106)
    ap.add_argument("--ticks", type=int, default=3)
    args = ap.parse_args(argv)

    from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job
    from gpt_rag_ingestion_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="tick_jobs_")
    spark = get_spark(app_name="tick_jobs")
    spark.sparkContext.setLogLevel("ERROR")
    att = Attribution(spark)
    _install(att)
    table, index = f"{work}/table", f"{work}/index"
    try:
        corpus = Corpus(CorpusSpec(), args.seed)
        for tick in range(args.ticks + 1):
            if tick:
                corpus.tick()
            listing = f"{work}/listing{tick}.parquet"
            corpus.write_listing(listing)
            run_id = f"tick{tick}" if tick else "base"
            t0 = time.perf_counter()
            att.run(BODY, lambda: run_ingest_job(
                spark, spark.read.parquet(listing), table, run_id,
                text_index_path=index, **INGEST_KW, **CHUNK_KW,
            ).collect())
            att.report(run_id, time.perf_counter() - t0)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
