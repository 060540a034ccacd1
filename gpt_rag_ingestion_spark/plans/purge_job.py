"""Anti-entropy purge lifecycle (SURVEY.md §3.4; reference
jobs/blob_storage_indexer.py:1588-1846, sharepoint_purger.py,
nl2sql_purger.py, multimodal_images_purger.py).

All reference purgers share one shape: scan index → parse identity →
anti-join against the live source → batched delete → post-delete
consistency re-check.  Here: one left_anti join + snapshot_delete_keys
+ a count() assertion (the re-check loop collapses because the delete
is one atomic snapshot-table commit)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators.purge import purge_targets
from gpt_rag_ingestion_spark.operators.snapshot_table import (
    read_snapshot_table,
    snapshot_delete_keys,
)


def run_purge_job(
    spark: SparkSession,
    table_path: str,
    live_source: DataFrame,
    key: str = "parent_id",
    partition_cols: list[str] | None = None,
    text_index_path: str | None = None,
    text_index_id_col: str | None = None,
) -> dict:
    """Delete chunks whose ``key`` no longer exists in ``live_source``
    from the snapshot table at ``table_path`` (the table
    ``run_ingest_job`` writes).  Returns the purger counters (A6):
    parents before/after, docs scanned/deleted — plus the consistency
    re-check result.

    ``partition_cols``: when the chunks table is partitioned, the
    delete rewrites only partitions holding doomed keys (see
    ``snapshot_delete_keys``) — O(touched partitions), not O(table).

    ``text_index_path``: the reference purger ALSO deletes the
    vanished parents from the search index (blob_storage_indexer.py's
    purger drives aisearch delete_documents); pass the persisted text
    index and the doomed docs are tombstoned there in one extra
    generation commit (``text_index_delete``), with the
    counter-trigger folding them later.

    ``text_index_id_col`` selects HOW the index is keyed (advisor r6:
    the two pairings use different doc ids, and tombstoning by the
    wrong one either aborts the job or silently leaves purged chunks
    searchable):

    - ``None`` (default): the index's doc ids ARE the table ``key``
      (the parent-keyed index ``text_index_build(id_col=key)``
      produces — the pairing ``test_purge_job_tombstones_text_index``
      covers).
    - a column name (e.g. ``"id"``): the index is keyed by
      ``xxhash64(<col>)`` CHUNK surrogates, the convention
      ``run_ingest_job``'s maintained index uses — targets are
      resolved to doc ids by semi-joining the chunks table on ``key``
      and hashing that column, so every chunk of a purged parent is
      tombstoned."""
    index = read_snapshot_table(spark, table_path)
    docs_before = index.count()
    parents_before = index.select(key).distinct().count()

    # Fully relational: the target key-set never leaves the cluster —
    # counters come from semi-join counts and the DataFrame goes straight
    # into snapshot_delete_keys (no driver collect()/isin literal list,
    # which would not survive millions of vanished parents).
    targets = purge_targets(index.select(key).distinct(), live_source, key).cache()
    n_target_parents = targets.count()

    docs_deleted = 0
    index_tombstoned = 0
    if n_target_parents:
        # no broadcast hint: the orphan set is usually tiny but CAN be
        # huge (bulk source deletion) — let AQE pick the strategy
        docs_deleted = index.join(targets, on=key, how="left_semi").count()
        if text_index_path is not None:
            from gpt_rag_ingestion_spark.operators.search import (
                text_index_delete,
                text_index_maybe_compact,
            )

            if text_index_id_col is None:
                doomed_docs, idc = targets, key
            else:
                # chunk-surrogate index (run_ingest_job's convention):
                # doomed parents -> their chunks' xxhash64(id) doc ids
                doomed_docs = index.join(
                    targets, on=key, how="left_semi"
                ).select(
                    F.xxhash64(F.col(text_index_id_col)).alias("chunk_doc")
                )
                idc = "chunk_doc"
            out = text_index_delete(
                spark, text_index_path, doomed_docs, "purge", id_col=idc
            )
            index_tombstoned = out["tombstoned"]
            text_index_maybe_compact(spark, text_index_path)
        snapshot_delete_keys(
            spark, table_path, targets, key=key, partition_cols=partition_cols
        )
    targets.unpersist()

    # post-delete consistency re-check (reference :1761-1833)
    after = read_snapshot_table(spark, table_path)
    remaining_orphans = purge_targets(
        after.select(key).distinct(), live_source, key
    ).count()
    assert remaining_orphans == 0, "purge consistency re-check failed"

    return {
        "parentsBefore": parents_before,
        "parentsAfter": after.select(key).distinct().count(),
        "docsScanned": docs_before,
        "docsDeleted": docs_deleted,
        "parentsPurged": n_target_parents,
        "searchIndexTombstoned": index_tombstoned,
    }
