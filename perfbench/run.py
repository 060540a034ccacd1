"""Benchmark of the ingest job, its incremental refresh and the read
paths over the table it maintains.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 5 --trace 0

Workloads: ``bulk_ingest`` and ``refresh`` (the ones BENCHMARK.json
lists) and ``retrieve``; see NOTES.md beside this file.  Run from the
repository root.  Inputs are generated from ``--seed``
into ``.perfbench/work`` (deleted at exit); the program sees only those
files.  The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it carries the host-noise fields and
the workload's named figures.  A traced run also writes its span table
to ``.perfbench/trace-<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: the workload's timed operation is one ingest call (bulk_ingest), one
#: tick (refresh) or one read request (retrieve); ``op_cpu_s`` is the
#: mean CPU time the driver, the JVM and the Python workers spent on
#: each.  Their wall times go to the line before the result: on a
#: shared host they move with other tenants' load.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
}
PER_LAYER = {
    "ingest_job.scan_freshness_s": "s",
    "ingest_job.chunk_embed_s": "s",
    "ingest_job.search_index_s": "s",
    "ingest_job.merge_s": "s",
    "ingest_job.other_s": "s",
    "freshness.candidates": "count",
    "freshness.changed": "count",
    "freshness.useful_ratio": "ratio",
    "splitter.s_per_mb": "s/MB",
    "splitter.fast_path_frac": "ratio",
    "splitter.zero_chunk_docs": "count",
    "embeddings.s_per_mb": "s/MB",
    "python.worker_start_s": "s",
    "python.run_s": "s",
    "python.arrow_mb_in": "MB",
    "python.arrow_mb_out": "MB",
    "snapshot.mb_written": "MB",
    "snapshot.write_amp": "ratio",
    "snapshot.live_files": "count",
    "snapshot.point_p50_s": "s",
    "search.mb_written": "MB",
    "search.live_batches": "count",
    "search.bm25_p50_s": "s",
    "similarity.ivf_p50_s": "s",
    "similarity.ivf_build_s": "s",
    "similarity.ivf_recall_at_10": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "driver.idle_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.op_wall_s": "s",
    "trace.bookkeeping_s": "s",
}


def calibration_spec(bench_py: str) -> tuple[int, str]:
    """Row count and expression of ``bench.py``'s fixed xxhash
    calibration job, read from its source so the two cannot drift."""
    with open(bench_py) as f:
        tree = ast.parse(f.read())
    fn = next(
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "calibration_wall"
    )
    rows = expr = None
    for node in ast.walk(fn):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            arg = node.args[0] if node.args else None
            if not isinstance(arg, ast.Constant):
                continue
            if node.func.attr == "range":
                rows = arg.value
            elif node.func.attr == "selectExpr":
                expr = arg.value
    if not isinstance(rows, int) or not isinstance(expr, str):
        raise ValueError("calibration job not found in bench.py")
    return rows, expr


def _isolate(work: str) -> None:
    """Keep every temporary file of the driver, the JVM and the Python
    workers inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its
    Python worker daemon exits with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out_dir = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    sys.path[:0] = [HERE, os.getcwd()]
    calib_rows, calib_expr = calibration_spec(os.path.join(os.getcwd(), "bench.py"))
    loadavg_before = list(os.getloadavg())

    from spans import RssPeak, Tracer

    try:
        with RssPeak() as rss:
            t0 = time.perf_counter()
            from gpt_rag_ingestion_spark.session import get_spark

            spark = get_spark(app_name="perfbench")
            session_s = time.perf_counter() - t0
            try:
                import workloads as W

                if args.workload not in W.WORKLOADS:
                    raise SystemExit(f"unknown workload {args.workload!r}")
                tracer = Tracer(spark, bool(args.trace))
                run = W.Run(spark, tracer, work, args.seed, args.seconds)
                run.setup_parts["session"] = session_s
                W.WORKLOADS[args.workload](run)
                if args.trace:
                    texts = W.Corpus(W.SPEC, args.seed).texts
                    W.kernel_layers(run, texts)
                    table = run.path("t0" if args.workload == "bulk_ingest" else "table")
                    index = run.path("i0" if args.workload == "bulk_ingest" else "index")
                    W.engine_layers(run, table, index)
                    tracer.write(os.path.join(
                        out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"
                    ))
                t1 = time.perf_counter()
                spark.range(calib_rows).selectExpr(calib_expr).write.format(
                    "noop"
                ).mode("overwrite").save()
                calibration_s = time.perf_counter() - t1
            finally:
                _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lat = [s.dur for s in run.ops]
    if args.trace:
        values = {**run.layer, "process.peak_rss_mb": rss.peak_mb}
        units = PER_LAYER
    else:
        values = {
            "setup_s": sum(run.setup_parts.values()),
            "op_cpu_s": statistics.fmean(s.cpu for s in run.ops),
        }
        units = END_TO_END
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": loadavg_before,
            "loadavg_after": list(os.getloadavg()),
            "calibration_s": calibration_s,
        },
        "ops_s": lat,
        "ops_cpu_s": [s.cpu for s in run.ops],
        "figures": {
            name: {"value": value, "unit": unit}
            for name, (value, unit) in {
                **run.figures,
                "peak_rss_mb": (rss.peak_mb, "MB"),
                "failed_frac": (run.failed / max(run.attempted, 1), "ratio"),
            }.items()
        },
        "setup_parts": run.setup_parts,
        "failures": run.notes[:10],
    }))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in units.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
