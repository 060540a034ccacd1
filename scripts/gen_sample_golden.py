"""Regenerate tests/golden/sample_corpus_golden.json — the pinned
output of the end-to-end ingest over the reference's sample corpus
(plans/sample_corpus_job.py).  Run after any INTENDED chunker/key/
embedding behavior change; the golden test fails loudly on any
unintended one."""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SAMPLE_DIR = os.environ.get("SPARK_GRAFT_SAMPLE_DIR", "/root/reference/samples")
OUT = os.path.join(
    os.path.dirname(__file__), "..", "tests", "golden",
    "sample_corpus_golden.json",
)


def main() -> int:
    from gpt_rag_ingestion_spark.plans.sample_corpus_job import (
        canonical_chunk_rows,
        ingest_sample_corpus,
    )
    from scripts.harness import session

    spark = session("gen-sample-golden")
    with tempfile.TemporaryDirectory() as tmp:
        table = ingest_sample_corpus(spark, SAMPLE_DIR, f"{tmp}/chunks")
        rows = canonical_chunk_rows(table)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)
    by_family: dict[str, int] = {}
    for r in rows:
        by_family[r["chunker"]] = by_family.get(r["chunker"], 0) + 1
    print(f"golden written: {len(rows)} chunks {by_family} -> {OUT}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
