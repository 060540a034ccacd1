"""Web-corpus ingestion job — the round-2 flagship composition.

The production loop for a crawl-fed training corpus: every batch of
fetched pages must be (1) keyed by canonical URL and domain, (2)
admitted through the domain blocklist / quality / per-domain-cap
funnel, (3) deduplicated AGAINST THE EXISTING CORPUS (not just within
the batch), and (4) landed both into the corpus table and into
training shards — with an auditable disposition for every input row.

Composition of existing operators, one job:

    urls (functions/urls.py)          — canonical_url, url_domain
      → admission funnel (q110 shape) — blocklist ⟕, quality gate,
                                         deterministic per-domain cap
      → incremental_dedup (dedup.py)  — digest + hashed-shingle
                                         Jaccard vs the BASE corpus;
                                         batch text never joins base
                                         text, keys only
      → admit 'new' rows              — snapshot_merge_upsert into the
                                         corpus (idempotent, partition-
                                         prunable) + JSONL/parquet
                                         training shards + manifest

Costs O(batch) against corpus-side key sidecars — the batch is the
small side of every join; the corpus is touched by digest/shingle-key
aggregates only (see SCALE.md on incremental dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.functions.urls import canonical_url, url_domain
from gpt_rag_ingestion_spark.operators import batch_manifest as bm
from gpt_rag_ingestion_spark.operators.dedup import SIDECAR, incremental_dedup
from gpt_rag_ingestion_spark.operators.ranking import per_key_capped_rank
from gpt_rag_ingestion_spark.operators.shards import write_training_shards
from gpt_rag_ingestion_spark.operators.snapshot_table import (
    _stats_conf,
    read_snapshot_table,
    snapshot_enable_stats,
    snapshot_merge_upsert,
)
from gpt_rag_ingestion_spark.operators.text_analysis import bpe_ish_token_count
from gpt_rag_ingestion_spark.plans.ingest_job import _table_exists


def run_web_corpus_job(
    spark: SparkSession,
    batch: DataFrame,
    corpus_path: str,
    shards_dir: str,
    blocked_domains: list[str] | None = None,
    min_chars: int = 100,
    cap_per_domain: int = 10_000,
    near_dup_threshold: float = 0.5,
    target_tokens_per_shard: int = 50_000,
    shard_fmt: str = "parquet",
    id_col: str = "doc_id",
    url_col: str = "url",
    text_col: str = "text",
    partition_cols: list[str] | None = None,
    domain_buckets: int = 64,
    sidecar_path: str | None = None,
    batch_label: str = "batch",
    sidecar_auto_compact: bool = True,
    prior_domain_counts: DataFrame | None = None,
    text_index_path: str | None = None,
    corpus_stats_cols: list[str] | None = None,
    corpus_bloom_key: bool = False,
) -> DataFrame:
    """One batch through the web-corpus loop.  Returns the AUDIT
    relation — (id, domain, disposition, dup_of) for every input row,
    disposition ∈ {blocked_domain, low_quality, over_cap,
    exact_dup_base, exact_dup_batch, near_dup_base, admitted}.
    Side effects: admitted rows merged into the snapshot table at
    ``corpus_path`` (operators/snapshot_table.py: every batch commit is
    one atomic pointer rename, and concurrent readers of the growing
    corpus are never torn — SCALE.md §11) and written as training
    shards under ``shards_dir``.

    ``partition_cols`` partitions the corpus table; a merge writes only
    the partitions the batch touches, so a batch rewrites O(batch
    partitions), never O(corpus).  Partitioning by raw ``domain`` is
    legal but explodes partition count at web scale (millions of
    dirs); the supported derived column ``domain_bucket`` =
    ``pmod(xxhash64(domain), domain_buckets)`` keeps the partition
    count fixed while a batch still prunes to the buckets its domains
    hash into.

    ``sidecar_path`` switches dedup to the persisted key-only sidecar
    (operators/dedup.py: digest index + hashed-shingle postings +
    sizes): classification never re-reads the corpus TEXT, and admitted
    rows are appended to the sidecar under ``batch_label`` (overwrite
    per label — replay-idempotent, pass the micro-batch id from
    streaming).  Decisions are row-for-row equal to the text path
    (unit-pinned); at 100 TB this is the difference between
    re-shingling the corpus every batch and touching O(batch + matched
    keys).  ``sidecar_auto_compact`` runs the counter-driven compaction
    trigger (dedup_sidecar_maybe_compact) after the append — a one-row
    meta read per batch, folding dead generations only when they
    accumulate.

    ``prior_domain_counts`` — (domain, n_ranked) from earlier batches —
    makes the per-domain cap CUMULATIVE across a stream: a row's rank
    within its domain is offset by the count of rows that entered the
    ranking in prior batches, so the cap bounds admissions over the
    stream's lifetime, not per batch (the streaming wrapper persists
    these counts).  Without it the cap is per-batch.

    ``text_index_path`` maintains the persisted BM25 inverted index
    alongside the corpus (operators/search lifecycle) — the reference
    indexer's search-index upsert: first admitting batch bootstraps
    from the post-merge corpus, later batches append under their own
    label (replay-idempotent) and run the counter compaction trigger.
    Retrieval then serves from ``text_index_query`` with no corpus
    pass.

    ``corpus_stats_cols`` / ``corpus_bloom_key`` enable write-time file
    statistics on the corpus table before the first merge: each commit
    then records per-file min/max for the named columns (and an
    ``id_col`` bloom when ``corpus_bloom_key``), so downstream curation
    reads range-prune (snapshot_read_where) and document lookups
    bloom-prune (snapshot_read_point) from commit metadata alone — see
    SCALE.md §11 'Data skipping'."""
    # the corpus exists iff its commit marker does (a directory in the
    # former swap format raises here, before any Spark job); any other
    # read failure raises rather than admitting every candidate as new
    # against an empty base
    have_corpus = _table_exists(spark, corpus_path)
    d = batch.select(
        F.col(id_col),
        F.col(text_col),
        canonical_url(F.col(url_col)).alias("canonical"),
        url_domain(F.col(url_col)).alias("domain"),
    )
    if blocked_domains:
        bl = spark.createDataFrame(
            [(x,) for x in blocked_domains], "domain string"
        ).withColumn("_b", F.lit(True))
        d = d.join(F.broadcast(bl), on="domain", how="left")
    else:
        d = d.withColumn("_b", F.lit(None).cast("boolean"))
    ok_domain = F.col("_b").isNull()
    ok_quality = F.length(text_col) >= min_chars
    # per-domain cap: two-phase, skew-immune ranking (a raw
    # Window.partitionBy("domain") serializes a dominant domain's whole
    # row set through one task at web scale) — see per_key_capped_rank
    surv = per_key_capped_rank(
        d.filter(ok_domain & ok_quality).select(id_col, "domain"),
        key_col="domain",
        id_col=id_col,
        cap=cap_per_domain,
        prior_counts=prior_domain_counts,
    )
    # rows of under-cap domains have no surv row: rank null, never
    # over_cap — identical dispositions to the raw per-domain window
    staged = d.join(surv, on=id_col, how="left")
    funnel_disp = (
        F.when(~ok_domain, F.lit("blocked_domain"))
        .when(~ok_quality, F.lit("low_quality"))
        .when(F.col("_rank") > cap_per_domain, F.lit("over_cap"))
    )
    staged = staged.withColumn("_fd", funnel_disp).cache()

    candidates = staged.filter(F.col("_fd").isNull()).select(id_col, text_col)
    use_sidecar = False
    if sidecar_path is not None:
        use_sidecar = bm.exists(spark, sidecar_path, SIDECAR)
    if use_sidecar:
        from gpt_rag_ingestion_spark.operators.dedup import (
            incremental_dedup_sidecar,
        )

        decisions = incremental_dedup_sidecar(
            candidates, sidecar_path, text_col=text_col, id_col=id_col,
            threshold=near_dup_threshold,
        )
    else:
        if have_corpus:
            base = read_snapshot_table(spark, corpus_path).select(
                id_col, text_col
            )
        else:
            base = candidates.limit(0)
        decisions = incremental_dedup(
            base, candidates, text_col=text_col, id_col=id_col,
            threshold=near_dup_threshold,
        )

    audit = (
        staged.join(decisions, on=id_col, how="left")
        .select(
            F.col(id_col),
            "domain",
            F.coalesce(
                F.col("_fd"),
                F.when(F.col("decision") == "new", F.lit("admitted")).otherwise(
                    F.col("decision")
                ),
            ).alias("disposition"),
            "dup_of",
        )
    )
    # materialize the audit BEFORE the merge mutates the base the
    # dedup lineage reads — cluster-side (localCheckpoint), the batch
    # never rides through the driver
    audit = audit.localCheckpoint()

    admitted_ids = audit.filter(F.col("disposition") == "admitted").select(
        id_col
    )
    admitted = (
        batch.join(F.broadcast(admitted_ids), on=id_col, how="left_semi")
        .select(
            F.col(id_col),
            F.col(url_col),
            F.col(text_col),
            url_domain(F.col(url_col)).alias("domain"),
            bpe_ish_token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        )
    )
    # derived partition columns go on the MERGE side only — training
    # shards keep the plain admitted schema
    to_merge = admitted
    if partition_cols:
        for c in partition_cols:
            if c in to_merge.columns:
                continue
            if c == "domain_bucket":
                to_merge = to_merge.withColumn(
                    "domain_bucket",
                    F.pmod(F.xxhash64("domain"), F.lit(domain_buckets)),
                )
            else:
                raise ValueError(
                    f"partition column {c!r} not in the admitted schema "
                    "and not derivable (only 'domain_bucket' is)"
                )
    n_admitted = admitted.count()
    if n_admitted > 0:
        write_training_shards(
            admitted,
            shards_dir,
            tokens_col="n_tokens",
            order=[F.asc(id_col)],
            target_tokens=target_tokens_per_shard,
            id_col=id_col,
            bucket_expr=(F.col(id_col) / 4096).cast("long"),
            fmt=shard_fmt,
        )
        if (corpus_stats_cols or corpus_bloom_key) and not _stats_conf(
            spark, corpus_path
        ):
            # first admitting batch turns on write-time file stats for
            # the corpus table: every later commit carries per-file
            # min/max (+ id-column blooms) so readers can range-prune
            # (e.g. n_tokens curation scans) and point-look-up
            # documents without corpus passes
            snapshot_enable_stats(
                spark, corpus_path,
                cols=corpus_stats_cols or [],
                bloom_cols=[id_col] if corpus_bloom_key else [],
            )
        snapshot_merge_upsert(
            spark, corpus_path, to_merge, key=id_col,
            partition_cols=partition_cols,
        )
        if sidecar_path is not None:
            from gpt_rag_ingestion_spark.operators.dedup import (
                dedup_sidecar_append,
                dedup_sidecar_build,
            )

            if use_sidecar:
                dedup_sidecar_append(
                    admitted.select(id_col, text_col), sidecar_path,
                    batch_label, text_col=text_col, id_col=id_col,
                )
                if sidecar_auto_compact:
                    from gpt_rag_ingestion_spark.operators.dedup import (
                        dedup_sidecar_maybe_compact,
                    )

                    dedup_sidecar_maybe_compact(spark, sidecar_path)
            else:
                # bootstrap from the POST-MERGE corpus — a sidecar
                # enabled on a pre-existing corpus must index what is
                # already there, not just this batch's admissions
                dedup_sidecar_build(
                    read_snapshot_table(spark, corpus_path).select(
                        id_col, text_col
                    ),
                    sidecar_path, text_col=text_col, id_col=id_col,
                )
        if text_index_path is not None:
            from gpt_rag_ingestion_spark.operators.search import (
                TEXT_INDEX,
                text_index_append,
                text_index_build,
                text_index_maybe_compact,
            )
            if bm.exists(spark, text_index_path, TEXT_INDEX):
                # replay-idempotent per batch_label (the reference
                # indexer's upsert of the same docs into its search
                # index); the counter trigger folds superseded rows
                text_index_append(
                    admitted.select(id_col, text_col), text_index_path,
                    batch_label, text_col=text_col, id_col=id_col,
                )
                text_index_maybe_compact(spark, text_index_path)
            else:
                # bootstrap from the POST-MERGE corpus, like the sidecar
                text_index_build(
                    read_snapshot_table(spark, corpus_path).select(
                        id_col, text_col
                    ),
                    text_index_path, text_col=text_col, id_col=id_col,
                )
    staged.unpersist()
    return audit
