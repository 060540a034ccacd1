"""SURVEY.md §5 item 2 (r4 judge brief #6): one composed end-to-end
test that ingests the reference's OWN sample files — real markdown
manual, real WEBVTT transcripts, the real xlsx workbook, the real
NL2SQL fabric JSONs — through the full pipeline (binaryFile scan →
factory dispatch → per-family chunkers → keys → embeddings →
snapshot-table merge) and compares every chunk against a committed golden
(tests/golden/sample_corpus_golden.json, regenerated by
scripts/gen_sample_golden.py after intended behavior changes)."""

from __future__ import annotations

import json
import os

import pytest

SAMPLE_DIR = os.environ.get("SPARK_GRAFT_SAMPLE_DIR", "/root/reference/samples")
GOLDEN = os.path.join(
    os.path.dirname(__file__), "golden", "sample_corpus_golden.json"
)


@pytest.mark.skipif(
    not os.path.isdir(SAMPLE_DIR),
    reason="reference sample corpus not present",
)
def test_sample_corpus_matches_golden(spark, tmp_path):
    from gpt_rag_ingestion_spark.plans.sample_corpus_job import (
        canonical_chunk_rows,
        ingest_sample_corpus,
    )

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
    )

    path = str(tmp_path / "chunks")
    table = ingest_sample_corpus(spark, SAMPLE_DIR, path)
    got = canonical_chunk_rows(table)
    with open(GOLDEN) as f:
        want = json.load(f)

    assert len(got) > 0
    # families actually exercised by the real files
    assert {r["chunker"] for r in got} == {
        "langchain", "transcription", "spreadsheet", "json"
    }
    # full-fidelity comparison, chunk by chunk (ids, titles, pages,
    # offsets, content hashes, embedding hashes)
    assert got == want
    # the job commits a snapshot table and returns its committed rows
    assert os.path.exists(os.path.join(path, "_current"))
    assert canonical_chunk_rows(read_snapshot_table(spark, path)) == got


@pytest.mark.skipif(
    not os.path.isdir(SAMPLE_DIR),
    reason="reference sample corpus not present",
)
@pytest.mark.slow
def test_sample_corpus_reingest_is_idempotent(spark, tmp_path):
    """The merge sink makes the run idempotent: ingesting the same
    corpus twice into the same table changes nothing (the reference's
    delete-parent-then-upload contract, S10/S11)."""
    from gpt_rag_ingestion_spark.plans.sample_corpus_job import (
        canonical_chunk_rows,
        ingest_sample_corpus,
    )

    path = str(tmp_path / "chunks")
    first = canonical_chunk_rows(ingest_sample_corpus(spark, SAMPLE_DIR, path))
    second = canonical_chunk_rows(ingest_sample_corpus(spark, SAMPLE_DIR, path))
    assert first == second
