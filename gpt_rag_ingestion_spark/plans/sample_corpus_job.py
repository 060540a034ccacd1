"""End-to-end ingest over the reference's OWN sample corpus
(SURVEY.md §5 item 2).

The reference ships real documents under samples/documents/ (markdown
manuals, WEBVTT call transcripts, an xlsx workbook) and NL2SQL JSON
assets under samples/fabric/ — the corpus its notebooks/connectors
ingest.  This job runs those actual files through the full offline
pipeline: binaryFile scan (S1) → chunker-factory dispatch (C8) →
per-family chunkers (C1/C3/C4/C5/C6) → deterministic keys (F1-F3) →
hash embeddings (U1) → idempotent snapshot-table merge (S10/S11).

Only the formats the offline engine can parse WITHOUT optional
dependencies participate (md/vtt/xlsx/json — reference
chunker_factory.py:49-72); the PDF slice needs pypdf and is covered
by the optional-dep lane instead.

Determinism contract: every chunk id, offset, title, and embedding is
a pure function of the file bytes, so the run is golden-testable —
``tests/golden/sample_corpus_golden.json`` pins the full output and
``scripts/gen_sample_golden.py`` regenerates it (one composed test of
the whole stack against real reference inputs, not synthetic rows).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


PARSABLE_GLOB = "*.{md,vtt,xlsx}"


def ingest_sample_corpus(
    spark: SparkSession,
    sample_dir: str,
    table_path: str,
    max_tokens: int = 300,
    overlap: int = 30,
    min_tokens: int = 5,
    embedding_dim: int = 16,
) -> DataFrame:
    """Ingest the reference sample corpus into a merge-maintained
    chunks snapshot table and return the table DataFrame.
    ``sample_dir`` is the reference repo's ``samples/`` directory."""
    from gpt_rag_ingestion_spark.chunking.corpus import chunk_corpus
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
    )
    from gpt_rag_ingestion_spark.sources.binary_docs import (
        read_binary_documents,
    )

    docs = read_binary_documents(
        spark, f"{sample_dir}/documents/*", glob=PARSABLE_GLOB
    )
    fabric_q = read_binary_documents(spark, f"{sample_dir}/fabric/queries")
    fabric_t = read_binary_documents(spark, f"{sample_dir}/fabric/tables")
    src = docs.unionByName(fabric_q).unionByName(fabric_t)
    corpus = src.select(
        F.col("file_name").alias("doc_key"),
        F.col("extension"),
        F.col("bytes").alias("payload"),
    )
    chunks = chunk_corpus(
        corpus,
        max_tokens=max_tokens,
        overlap=overlap,
        min_tokens=min_tokens,
        embedding_dim=embedding_dim,
    )
    snapshot_merge_upsert(spark, table_path, chunks, key="parent_id")
    return read_snapshot_table(spark, table_path)


def canonical_chunk_rows(table: DataFrame) -> list[dict]:
    """The golden serialization: one dict per chunk, id-sorted, with
    content and embedding reduced to short stable hashes (content via
    sha256 prefix; vector rounded to 5 decimals first so float noise
    can never flake the golden)."""
    rows = []
    for r in table.collect():
        vec = r["contentVector"]
        vec_src = (
            ",".join(f"{float(x):.5f}" for x in vec) if vec is not None else ""
        )
        rows.append(
            {
                "id": r["id"],
                "parent_id": r["parent_id"],
                "chunker": r["chunker"],
                "chunk_id": r["chunk_id"],
                "title": r["title"],
                "page": r["page"],
                "offset": r["offset"],
                "length": r["length"],
                "content_sha": hashlib.sha256(
                    (r["content"] or "").encode()
                ).hexdigest()[:16],
                "vec_sha": hashlib.sha256(vec_src.encode()).hexdigest()[:16],
            }
        )
    rows.sort(key=lambda d: (d["id"] or ""))
    return rows
