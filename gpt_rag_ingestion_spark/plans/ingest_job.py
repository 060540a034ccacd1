"""The blob-ingestion lifecycle as one DataFrame job (SURVEY.md §3.1).

Reference flow (jobs/blob_storage_indexer.py:234-394):
  run summary "started" → index-state watermarks → enumerate source →
  freshness filter → blocklist filter → per-file: chunk+embed →
  delete-old+upsert → per-file logs → run summary "finished".

Spark re-expression — a single composed plan:

    listing                    (source scan)
      ⟕ watermarks             (agg over chunks table, broadcast)
      → freshness filter       (P1/P2)
      ⟕̸ blocklist              (anti-join, P3)
      → chunk UDF + explode    (C-family)
      → ids + truncate + embed (F1-F3, F6, U1)
      → MERGE by parent_id     (S10/S11)
    ops rows = aggregations over the same result

The whole thing is two broadcast joins and a narrow map — the only
shuffles are the watermark aggregation (small) and the merge's
anti-join.  At 100 TB with the chunks table partitioned by
ingest-date/source, the merge touches only affected partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.chunking.pipeline import chunk_documents
from gpt_rag_ingestion_spark.operators import batch_manifest as bm
from gpt_rag_ingestion_spark.operators.freshness import (
    freshness_candidates,
    index_watermarks,
)
from gpt_rag_ingestion_spark.operators.incremental import ROLLUP, maintain_rollup
from gpt_rag_ingestion_spark.operators.ops_log import apply_blocklist, run_summary
from gpt_rag_ingestion_spark.operators.snapshot_table import (
    _current_gen,
    read_snapshot_table,
    snapshot_enable_stats,
    snapshot_maybe_analyze,
    snapshot_merge_upsert,
)
from gpt_rag_ingestion_spark.operators.upsert import (
    _fs_delete,
    _fs_exists,
    _hfs,
    merged_view,
)


def run_ingest_job(
    spark: SparkSession,
    source_docs: DataFrame,
    table_path: str,
    run_id: str,
    blocked: DataFrame | None = None,
    doc_key_col: str = "doc_key",
    text_col: str = "text",
    ts_col: str = "last_modified",
    embedding_dim: int = 64,
    max_tokens: int = 2048,
    overlap: int = 200,
    min_tokens: int = 100,
    ops_table_path: str | None = None,
    rollup_path: str | None = None,
    partition_cols: list[str] | None = None,
    recorder=None,
    text_index_path: str | None = None,
    sink: str = "snapshot",
    stats_cols: list[str] | None = None,
    bloom_key: str | None = None,
    analyze_max_stale: int = 8,
    force_reprocess: bool = False,
    max_conflict_rebases: int = 0,
    expectations: dict[str, str] | None = None,
    quarantine_path: str | None = None,
) -> DataFrame:
    """One incremental ingest run.  Returns the run-summary DataFrame
    (A2 counters); side effect: the chunks table at ``table_path`` is
    merged up to date.  ``max_conflict_rebases`` (snapshot sink):
    lets N ingest jobs land concurrently on one table when their
    partition sets are disjoint (snapshot_table._WriteAttempt.commit).

    When ``rollup_path`` is set, a per-parent dashboard rollup
    (parent_id, n_chunks, chars) is maintained INCREMENTALLY through
    the merge — old + agg(incoming) - agg(replaced) via
    ``operators.incremental.maintain_rollup`` — so the admin "file
    list" view never rescans the chunks table (the reference re-pages
    its whole index per run, S9).  Its batch is written before the
    chunks merge and committed after it with the generation it
    reflects (``applied_gen``); every run recomputes a rollup that is
    behind its table (a crash or a rival commit between the two).

    When ``ops_table_path`` is set, per-file ops rows conforming to
    OPS_LOG_SCHEMA are appended there with POPULATED timings and
    costEstimate structs (reference blob_storage_indexer.py:598-678):
    ``timings.chunkEmbedSec`` is the real per-document split time
    measured inside the chunk kernel; ``indexUploadSec``/``totalSec``/
    ``overheadSec`` are job-phase wall times recorded on a run-level
    row (file_key NULL), since in Spark the upload/merge is one job
    phase rather than a per-file call.  ``costEstimate`` applies the
    reference cost model to exact per-file usage columns
    (embedding tokens from the chunk contents; pages when present).

    ``text_index_path`` maintains a CHUNK-level persisted BM25 index
    alongside the chunks table — the reference indexer uploads every
    chunk into AI Search keyed by chunk id, delete-parents-then-upload
    (jobs/blob_storage_indexer.py:1242-1334), and this is that tick:
    one ``text_index_apply`` per run carrying the run's new chunks AND
    tombstones for the re-ingested parents' old chunk ids, in one
    generation commit.  Chunk keys are strings, so the index doc id is
    the ``xxhash64(id)`` surrogate (the documented numeric-surrogate
    path; resolve hits back through ``xxhash64(id)`` on the chunks
    table).  Bootstrap on a pre-existing corpus builds from the
    post-merge table, like the web-corpus job's sidecar.

    ``partition_cols`` partitions the chunks table; a merge writes only
    the partitions the increment touches into its new generation — at
    100 TB an hourly increment then rewrites O(increment) partitions
    instead of O(table).  Recommended: ``["ingest_date"]`` (derived
    here as ``to_date(ts_col)`` when absent from the source) or
    ``["source", "ingest_date"]`` when the listing carries a ``source``
    column.  Every partition column must either already exist in
    ``source_docs`` (it is carried through chunking unchanged) or be
    ``ingest_date``.

    ``expectations`` ({rule_name: SQL predicate over chunk rows},
    operators/quality): chunks failing any rule are EXCLUDED from the
    merge and — when ``quarantine_path`` is set — appended there with
    ``violated_rules`` and this ``run_id`` (DLT's expect-or-drop with
    a paper trail); counters and the search-index tick see only
    admitted chunks.

    The chunks table is a manifest-pointer snapshot table
    (``operators/snapshot_table``; read it with ``read_snapshot_table``):
    every merge is one atomic commit, readers are never torn, and the
    steady-state run maintains the table's statistics tiers as part of
    the job.  ``sink`` accepts only ``"snapshot"``; a table written by
    the former directory-swap sink is adopted in place with
    ``snapshot_convert_from_parquet``.

    - ``stats_cols``: enable WRITE-TIME per-file
      min/max/null sidecars for these columns (plus xxhash64 blooms
      for ``bloom_key``) at table creation — every later merge's
      ``_maybe_write_stats`` then runs automatically inside the
      commit, so downstream range reads (``snapshot_read_where``)
      and point lookups (``snapshot_read_point``) prune files from
      commit metadata without a planning scan.
    - after each merge the job runs the staleness-triggered ANALYZE
      (``snapshot_maybe_analyze`` over ``stats_cols``, threshold
      ``analyze_max_stale`` generations): table-level NDV/extremes
      stay fresh for join planning at one metadata read per run."""
    import time as _time
    from contextlib import nullcontext

    def _sp(name, **attrs):
        # phase spans for the optional operators/tracing.SpanRecorder
        # (the reference's OTel layer records the same phase tree,
        # telemetry/telemetry.py); no-op when tracing is off
        return recorder.span(name, **attrs) if recorder is not None else nullcontext()

    if sink != "snapshot":
        raise ValueError(
            f"sink must be 'snapshot', got {sink!r}; adopt a table written "
            "by the former directory-swap sink with "
            "snapshot_table.snapshot_convert_from_parquet"
        )

    _t_wall = _time.monotonic()
    # 1. index-state watermarks from the existing chunks table (A1/S9).
    # Whether a table exists is decided by its commit marker,
    # never by a failed read: an error reading an existing table raises
    # instead of becoming a full re-ingest.  The span covers the table's
    # metadata reads; the freshness scan itself runs inside the run
    # summary's collect (step 5)
    with _sp("scan_freshness", run=run_id):
        have_table = _table_exists(spark, table_path)
        # read before the table: a rival commit in between can only
        # fail the rollup's commit check
        pre_gen = _current_gen(spark, table_path) if have_table and rollup_path else None
        if have_table:
            chunks_table = read_snapshot_table(spark, table_path)
            watermarks = index_watermarks(
                chunks_table, key="parent_id", ts="metadata_storage_last_modified"
            )

    from gpt_rag_ingestion_spark.functions.keys import sanitize_key

    # sanitize HERE so the freshness join key matches what
    # chunk_documents writes as parent_id (sanitize is idempotent);
    # a raw key like 'docs/a.pdf' would never match its own watermark
    # and the doc would re-ingest forever
    listing = source_docs.withColumn(
        "parent_id", sanitize_key(F.col(doc_key_col).cast("string"))
    )

    # partition columns ride through chunking as carry columns; the one
    # derivable column is ingest_date (= the source timestamp's date)
    _RESERVED = {"parent_id", "chunk_id", "offset", "length", "content",
                 "id", "contentVector", "metadata_storage_last_modified"}
    if partition_cols:
        for c in partition_cols:
            if c in _RESERVED:
                raise ValueError(
                    f"partition column {c!r} collides with a chunk output column"
                )
            if c not in listing.columns:
                if c == "ingest_date":
                    listing = listing.withColumn(
                        "ingest_date", F.to_date(F.col(ts_col))
                    )
                else:
                    raise ValueError(
                        f"partition column {c!r} not in source_docs and not derivable"
                    )

    # 2. freshness (J1/P1/P2); force_reprocess is the admin
    # "re-chunk everything" button (changed chunking params/embedding
    # model invalidate every chunk, so the watermark filter must not
    # apply) — the merge stays keyed delete-then-insert, so the
    # backfill is idempotent and readers never see a torn corpus
    if have_table and not force_reprocess:
        candidates = freshness_candidates(
            listing, watermarks, key="parent_id", ts=ts_col
        )
    else:
        candidates = listing

    # 3. blocklist (P3)
    if blocked is not None:
        candidates = apply_blocklist(
            candidates.withColumnRenamed("parent_id", "file_key"), blocked
        ).withColumnRenamed("file_key", "parent_id")

    # materialized by the run summary's collect (step 5), which also
    # yields the candidate count: no standalone count() query
    candidates = candidates.cache()

    # 4. chunk + embed (narrow map); per-doc split seconds measured
    # inside the chunk kernel when ops logging is on
    chunks = chunk_documents(
        candidates,
        text_col=text_col,
        doc_key_col="parent_id",
        source_col=None,
        embedding_dim=embedding_dim,
        max_tokens=max_tokens,
        overlap=overlap,
        min_tokens=min_tokens,
        carry_cols=list(partition_cols) if partition_cols else None,
        timing_col="_chunk_sec" if ops_table_path else None,
    )
    # carry the source timestamp through for the next run's watermark
    ts_map = candidates.select(
        F.col("parent_id"), F.col(ts_col).alias("metadata_storage_last_modified")
    )
    chunks = chunks.join(F.broadcast(ts_map), on="parent_id", how="left").cache()

    # 4b. data-quality expectations (DLT expect-or-drop,
    # operators/quality): failing CHUNK rows never reach the merge —
    # they route to the quarantine side table with the violated rule
    # names and this run's id, so a bad record can't fail a 100 TB
    # run and nothing is silently lost.  Rule predicates see the chunk
    # schema (content, length, parent_id, carry columns).
    if expectations:
        from gpt_rag_ingestion_spark.operators.quality import (
            split_quarantine,
        )

        ok_chunks, bad_chunks = split_quarantine(chunks, expectations)
        if quarantine_path:
            with _sp("quarantine", run=run_id):
                bad_chunks.withColumn(
                    "run_id", F.lit(run_id)
                ).write.mode("append").parquet(quarantine_path)
        chunks = ok_chunks.cache()

    # 5. run summary (A2) — materialized BEFORE the merge: the freshness
    # join's lineage reads the pre-merge table, and the merge's
    # refreshByPath invalidates any cache that references it (recomputing
    # afterwards would see the new watermarks and report zero files).
    chunk_counts = chunks.groupBy("parent_id").agg(
        F.count(F.lit(1)).alias("chunks")
    ).withColumnRenamed("parent_id", "file_key")
    per_file = (
        candidates.select(F.col("parent_id").alias("file_key"))
        .join(chunk_counts, on="file_key", how="left")
        .select(
            F.lit(run_id).alias("run_id"),
            "file_key",
            F.lit("success").alias("status"),
            F.coalesce("chunks", F.lit(0)).alias("chunks"),
        )
    )
    summary = run_summary(per_file)
    summary_schema = summary.schema
    with _sp("chunk_embed", run=run_id):
        summary_rows = summary.collect()
    # per_file has exactly one row per candidate (a left join onto a
    # per-key aggregate), so sourceFiles IS the candidate count; an
    # empty candidate set yields no summary row at all
    n_candidates = summary_rows[0]["sourceFiles"] if summary_rows else 0

    # 5b. per-file ops rows (timings + costEstimate populated) —
    # written to the ops table pre-merge for the same cache-invalidation
    # reason.  They stay on the cluster: one parquet append, never a
    # per-file driver collect (a run can touch millions of files); the
    # only driver value is the single summed chunk-seconds scalar.
    tracked_sec = 0.0
    if ops_table_path:
        with _sp("ops_log", run=run_id):
            tracked_sec = _write_per_file_ops(
                spark, chunks, run_id, ops_table_path
            )

    # 5d. search-index tick — PRE-merge for the same lineage reason as
    # 5/5b (chunks' freshness lineage reads the pre-merge table; the
    # index artifact's own consistency is order-independent: a crash
    # between this tick and the merge re-ingests the same parents next
    # run and the replayed apply supersedes its own docs)
    tindex_bootstrap = False
    if text_index_path is not None and n_candidates > 0:
        from gpt_rag_ingestion_spark.operators.search import (
            TEXT_INDEX,
            text_index_apply,
            text_index_maybe_compact,
        )
        if bm.exists(spark, text_index_path, TEXT_INDEX):
            with _sp("search_index", run=run_id):
                old_ids = (
                    chunks_table.join(
                        candidates.select("parent_id"),
                        "parent_id", "left_semi",
                    ).select(F.xxhash64(F.col("id")).alias("chunk_doc"))
                    if have_table
                    else spark.createDataFrame([], "chunk_doc long")
                )
                text_index_apply(
                    chunks.select(
                        F.xxhash64(F.col("id")).alias("chunk_doc"),
                        F.col("content").alias("text"),
                    ),
                    old_ids,
                    text_index_path,
                    f"run-{run_id}",
                    text_col="text",
                    id_col="chunk_doc",
                )
                text_index_maybe_compact(spark, text_index_path)
        else:
            tindex_bootstrap = True  # built post-merge, below

    # 5c. incremental dashboard-rollup maintenance (IVM): staged from
    # the PRE-merge table + the increment, committed after the merge
    rollup_staged = None
    if rollup_path is not None:
        rollup_staged = _stage_rollup(
            spark, rollup_path, pre_gen,
            old_table=chunks_table if have_table else None,
            incoming=chunks if n_candidates > 0 else None,
        )

    # 6. idempotent merge (S10/S11 delete-then-insert); the timing
    # column is ops-only and never lands in the chunks table
    _t_upload = _time.monotonic()
    if n_candidates > 0:
        with _sp("merge", run=run_id):
            if not have_table and stats_cols:
                # before the FIRST commit, so generation 1 already
                # writes its sidecars (enabling late leaves old
                # generations unpruned, as in the real formats)
                snapshot_enable_stats(
                    spark, table_path, stats_cols,
                    bloom_cols=[bloom_key] if bloom_key else None,
                )
            post_gen = snapshot_merge_upsert(
                spark, table_path, chunks.drop("_chunk_sec"),
                key="parent_id", partition_cols=partition_cols,
                max_conflict_rebases=max_conflict_rebases,
            )
            if stats_cols:
                with _sp("analyze", run=run_id):
                    snapshot_maybe_analyze(
                        spark, table_path, stats_cols,
                        max_stale_generations=analyze_max_stale,
                    )
    upload_sec = round(_time.monotonic() - _t_upload, 3)

    if rollup_staged is not None:
        _commit_staged_rollup(spark, rollup_path, rollup_staged, pre_gen, post_gen)

    if tindex_bootstrap:
        from gpt_rag_ingestion_spark.operators.search import (
            text_index_build,
        )

        with _sp("search_index", run=run_id):
            text_index_build(
                read_snapshot_table(spark, table_path).select(
                    F.xxhash64(F.col("id")).alias("chunk_doc"),
                    F.col("content").alias("text"),
                ),
                text_index_path,
                text_col="text",
                id_col="chunk_doc",
            )

    candidates.unpersist()
    chunks.unpersist()

    if ops_table_path:
        _append_run_row(
            spark, ops_table_path, run_id,
            tracked_sec=tracked_sec,
            upload_sec=upload_sec,
            total_sec=round(_time.monotonic() - _t_wall, 3),
        )
    return _summary_frame(spark, summary_rows, summary_schema)


def _table_exists(spark, table_path: str) -> bool:
    """Does the snapshot table exist, by its commit marker: the
    pointer ``_current``, or ``_current__tmp`` mid-commit.

    A directory holding parquet files or ``p=v`` partition directories
    but no marker is a table of the former directory-swap format.
    Treating it as absent would re-ingest every document (or admit
    every candidate as new) and commit beside the old files, so it
    raises ``ValueError`` naming the adoption path instead."""
    if _fs_exists(spark, f"{table_path}/_current") or _fs_exists(
        spark, f"{table_path}/_current__tmp"
    ):
        return True
    fs, p = _hfs(spark, table_path)
    if fs.exists(p) and any(
        n.endswith(".parquet") or "=" in n
        for n in (st.getPath().getName() for st in fs.listStatus(p))
    ):
        raise ValueError(
            f"{table_path} holds a parquet table but no snapshot pointer "
            "(the former directory-swap format); adopt it with "
            "snapshot_table.snapshot_convert_from_parquet into a new "
            "table path"
        )
    return False


def _summary_frame(spark, rows, schema) -> DataFrame:
    """The collected run summary as a JVM-local frame, built from one
    Arrow batch on the driver.  ``createDataFrame`` over a list of Rows
    parallelizes a Python RDD, so the caller's ``collect()`` would
    start Python workers for a one-row result."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [r.asDict() for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema=schema)


def _stage_rollup(spark, rollup_path, pre_gen, old_table, incoming):
    """Stage the incrementally-maintained per-parent rollup of the
    chunks table at generation ``pre_gen`` (None: no table yet).

    removed = current chunk rows of parents present in the increment
    (exactly what the merge's anti-join will replace); added = the
    increment.  A rollup that is absent or behind ``pre_gen`` is
    replaced by one recompute over the merged rows (bootstrap),
    committed here when no increment (``incoming`` None) follows.
    Returns the staged batch for ``_commit_staged_rollup``, or None."""
    # existence by the manifest, never by a failed read: an unreadable
    # rollup raises instead of being rebuilt (a pre-manifest one is
    # cleared, to be rebuilt by the bootstrap)
    meta = bm.begin_build(spark, rollup_path, ROLLUP, "rollup")[0]
    if meta is not None and meta["applied_gen"] == pre_gen:
        if incoming is None:
            return None
        keys = incoming.select("parent_id").distinct()
        removed = old_table.join(F.broadcast(keys), on="parent_id", how="left_semi")
        new_rollup = maintain_rollup(
            bm.read_store(spark, rollup_path, ROLLUP, meta),
            *[
                rows.select("parent_id", F.length("content").cast("long").alias("chars"))
                for rows in (removed, incoming)
            ],
            key="parent_id", sum_cols=["chars"], count_col="n_chunks",
        )
    else:
        if old_table is None or incoming is None:
            rows = incoming if old_table is None else old_table
        else:
            rows = merged_view(old_table, incoming)
        if rows is None:
            return None
        new_rollup = rows.groupBy("parent_id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.length("content").cast("long")).alias("chars"),
        )
    staged = bm.write_whole(spark, rollup_path, ROLLUP, meta, new_rollup, "rollup")
    if incoming is not None:
        return staged
    bm.commit_whole(spark, rollup_path, ROLLUP, staged, applied_gen=pre_gen)
    return None


def _commit_staged_rollup(spark, rollup_path, staged, pre_gen, post_gen):
    """Commit the staged rollup as of ``post_gen`` if the merge landed
    right after ``pre_gen``; else (a rival commit interleaved, or the
    merge wrote nothing) drop it: the next run bootstraps."""
    if post_gen is not None and post_gen == (pre_gen or 0) + 1:
        bm.commit_whole(spark, rollup_path, ROLLUP, staged, applied_gen=post_gen)
    else:
        _fs_delete(spark, bm.batch_path(rollup_path, "rows", staged[2]))


def _write_per_file_ops(spark, chunks, run_id, ops_table_path):
    """Per-file ops rows with populated structs (A4/A5; reference
    blob_storage_indexer.py:598-678), appended to the ops table as one
    cluster-side parquet write.  Usage is exact per-file column
    arithmetic: embedding tokens from chunk contents, pages when the
    chunker emitted them, the reference cost model for totalUSD.
    Returns the summed per-doc chunk seconds (one scalar collect)."""
    from gpt_rag_ingestion_spark.functions.tokens import approx_token_count
    from gpt_rag_ingestion_spark.operators.ops_log import (
        COST_PER_1K_EMBEDDING_TOKENS,
        COST_PER_PAGE_ANALYSIS,
    )

    has_page = "page" in chunks.columns
    usage = (
        chunks.withColumn("_toks", approx_token_count(F.col("content")))
        .groupBy("parent_id")
        .agg(
            F.count(F.lit(1)).alias("chunks"),
            F.sum("_toks").cast("long").alias("embeddingTokens"),
            (
                F.max("page") if has_page else F.max(F.lit(None).cast("int"))
            ).alias("pagesAnalyzed"),
            F.max("_chunk_sec").alias("chunkSec"),
        )
    )
    pages = F.coalesce(F.col("pagesAnalyzed"), F.lit(0))
    total_usd = F.round(
        pages * F.lit(COST_PER_PAGE_ANALYSIS)
        + F.col("embeddingTokens") / 1000.0 * F.lit(COST_PER_1K_EMBEDDING_TOKENS),
        4,
    )
    rows = usage.select(
        F.lit(run_id).alias("run_id"),
        F.col("parent_id").alias("file_key"),
        F.lit("success").alias("status"),
        F.lit(1).alias("attempts"),
        F.lit(False).alias("blocked"),
        F.current_timestamp().alias("started_at"),
        F.current_timestamp().alias("finished_at"),
        F.col("chunks").cast("int").alias("chunks"),
        F.struct(
            F.lit(None).cast("double").alias("downloadSec"),
            F.lit(None).cast("double").alias("analysisSec"),
            F.round(F.col("chunkSec"), 3).alias("chunkEmbedSec"),
            F.lit(None).cast("double").alias("retryWaitSec"),
            F.lit(0).alias("retryCount"),
            F.lit(None).cast("double").alias("indexUploadSec"),
            F.lit(None).cast("double").alias("overheadSec"),
            F.lit(None).cast("double").alias("totalSec"),
        ).alias("timings"),
        F.struct(
            pages.cast("int").alias("pagesAnalyzed"),
            F.col("embeddingTokens"),
            F.lit(0).cast("long").alias("completionTokensIn"),
            F.lit(0).cast("long").alias("completionTokensOut"),
            total_usd.alias("totalUSD"),
        ).alias("costEstimate"),
        F.lit(None).cast("string").alias("error"),
    )
    rows.write.mode("append").parquet(ops_table_path)
    tracked = usage.agg(
        F.sum(F.coalesce(F.col("chunkSec"), F.lit(0.0))).alias("s")
    ).collect()[0]["s"]
    return float(tracked or 0.0)


def _append_run_row(
    spark, ops_table_path, run_id, tracked_sec, upload_sec, total_sec
):
    """Append the single run-level row carrying the job-phase wall
    timings (upload/total/overhead)."""
    from gpt_rag_ingestion_spark.schemas import OPS_LOG_SCHEMA

    overhead = round(max(total_sec - tracked_sec - upload_sec, 0.0), 3)
    run_row = spark.createDataFrame(
        [
            (
                run_id, None, "run", None, None, None, None, None,
                (None, None, None, None, None, upload_sec, overhead, total_sec),
                None, None,
            )
        ],
        schema=OPS_LOG_SCHEMA,
    )
    run_row.write.mode("append").parquet(ops_table_path)
