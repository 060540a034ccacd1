"""Skewed-domain admission-funnel probe — the measurement behind
SCALING.md's "per-domain cap under skew" table (round-3 brief #2).

Builds a synthetic crawl batch where ONE domain dominates (the web
reality: a big site's sitemap lands in one batch) and times the
per-domain-cap ranking in isolation, plus the full job:

  raw_window          — Window.partitionBy(domain): the hot domain's
                        entire row set sorts in ONE task (the round-3
                        weak item, kept here as the reference shape)
  capped_rank_skewed  — operators/ranking.per_key_capped_rank on the
                        same 1-domain batch (the shipped path)
  capped_rank_uniform — same row count over 1000 domains (flatness)
  job_skewed/_uniform — run_web_corpus_job end-to-end (includes
                        dedup against an empty corpus + merge)

Run: python3 scripts/skew_probe.py [n_rows]
Prints one JSON line per shape: {"shape", "wall_sec", "over_cap"}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(n_rows: int = 400_000) -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.plans.web_corpus_job import run_web_corpus_job
    from scripts.harness import session

    spark = session("skew-probe")

    def batch(n_domains: int):
        return spark.range(n_rows).selectExpr(
            "id AS doc_id",
            f"concat('https://d', id % {n_domains}, '.example/p', id) AS url",
            "concat('page body text nr ', id, ' ', repeat('w ', 40)) AS text",
        )

    cap = 100

    def timed(name, fn):
        t0 = time.time()
        over = fn()
        print(json.dumps({
            "shape": name, "wall_sec": round(time.time() - t0, 2),
            "over_cap": over,
        }), flush=True)

    def keyed(n_domains):
        return batch(n_domains).select(
            "doc_id",
            F.regexp_extract("url", r"https://([^/]+)/", 1).alias("domain"),
        )

    # raw window on the skewed batch (the pre-round-4 plan shape)
    def raw_window():
        w = Window.partitionBy("domain").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
        return (
            keyed(1).withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") > cap)
            .count()
        )

    def capped(n_domains):
        from gpt_rag_ingestion_spark.operators.ranking import (
            per_key_capped_rank,
        )

        def run():
            return (
                per_key_capped_rank(keyed(n_domains), "domain", "doc_id", cap)
                .filter(F.col("_rank") > cap)
                .count()
            )
        return run

    def job(n_domains):
        def run():
            tmp = tempfile.mkdtemp(prefix="skew_probe_")
            audit = run_web_corpus_job(
                spark, batch(n_domains), f"{tmp}/corpus", f"{tmp}/shards",
                min_chars=10, cap_per_domain=cap,
            )
            return audit.filter(F.col("disposition") == "over_cap").count()
        return run

    # warmup
    batch(8).count()
    timed("raw_window_skewed", raw_window)
    timed("capped_rank_skewed", capped(1))
    timed("capped_rank_uniform_1k_domains", capped(1000))
    timed("job_skewed", job(1))
    timed("job_uniform_1k_domains", job(1000))
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 400_000)
