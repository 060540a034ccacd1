"""Generate PLANS.md: formatted physical plans for headline queries with
scale-property checks (broadcasts where intended, pushed filters,
pruned schemas, no stray shuffles).

Run: python3 scripts/explain_plans.py [sf_dir]
Exit code 1 if a plan property assertion fails — wired into tests.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: (query, list of substrings the physical plan MUST contain,
#:  list of substrings it must NOT contain)
PLAN_PROPERTIES = {
    "q01_pricing_summary": (
        ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"],
        [],
    ),
    # freshness: watermark agg side must broadcast, listing must not shuffle
    "q03_freshness_join": (["BroadcastHashJoin", "BroadcastExchange"], []),
    # purge anti-join: broadcast anti join (live side small)
    "q04_purge_anti_join": (["BroadcastHashJoin", "LeftAnti"], []),
    # star joins: dimensions broadcast
    "q05_regional_revenue": (["BroadcastHashJoin"], []),
    # chunking hot path: pure codegen, no exchange at all
    "q10_chunk_fixed": (["[codegen id :"], ["Exchange"]),
    # column pruning: scan must read only the 2 needed columns
    "q12_running_offset": (["ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"], []),
    # projection pushdown for a narrow select
    "q23_fingerprint": (["ReadSchema: struct<doc_id:bigint,text:string>"], []),
    # token stats: pure codegen over a pruned 2-column scan
    "q57_token_stats": (
        ["ReadSchema: struct<doc_id:bigint,text:string>", "[codegen id :"],
        ["Exchange"],
    ),
    # merge-upsert core: broadcast LEFT ANTI (key set is the small side)
    # + union with the incoming rows
    "q60_merge_upsert": (["BroadcastHashJoin", "LeftAnti", "Union"], []),
    # Q4 shape: the decorrelated EXISTS is a SEMI join carrying the
    # correlation (shipdate vs its own order's date) as the condition,
    # and the orders window reaches the scan
    "q189_order_priority_check": (
        ["LeftSemi", "LessThan(o_orderdate,1997-04-01"],
        ["CartesianProduct"],
    ),
    # Q19 shape: the OR-of-brackets evaluates inside ONE join stage —
    # and Catalyst derives the part-side disjunction into the scan's
    # pushed filters (never three scans, never a nested loop)
    "q193_bracket_revenue": (
        ["BroadcastHashJoin", "Or(Or(And(EqualTo(p_brand,Brand#13)"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # dynamic partition pruning: the fact scan must carry a
    # dynamicpruning subquery on the partition column (the year set is
    # runtime-only — a static equality would bypass DPP)
    "q205_dynamic_partition_pruning": (
        ["dynamicpruningexpression(ship_year"],
        ["CartesianProduct"],
    ),
    # Q6 shape: the whole 4-predicate band must reach the parquet scan
    "q196_banded_discount_revenue": (
        [
            "GreaterThanOrEqual(l_shipdate,1997-01-01",
            "GreaterThanOrEqual(l_discount,0.05)",
            "LessThan(l_quantity,24.0)",
        ],
        ["Join"],
    ),
    # salted aggregation: two HashAggregate pairs (partial+final per
    # phase) — the (key, salt) phase then the key phase
    "q62_salted_agg": (["HashAggregate"], []),
    # exact top-k: cogrouped Arrow matmul + single window merge of the
    # pruned k-per-tile candidates
    "q64_knn_topk": (["FlatMapCoGroupsInPandas", "Window"], []),
    # decontamination: benchmark shingle set must broadcast — the corpus
    # must never shuffle on shingles
    "q76_decontaminate": (["BroadcastHashJoin", "BroadcastExchange"], []),
    # repetition signals: zero-shuffle narrow projection (the mode
    # statistic folds inside the row — no explode+groupBy)
    "q77_repetition": (["[codegen id :"], ["Exchange"]),
    # packing: both windows ride ONE hash-partition shuffle on source
    # (hashpartitioning(source) satisfies the (source, bin_id) window's
    # clustered distribution too — no second exchange)
    "q78_pack_sequences": (["Window", "hashpartitioning(source"], []),
    # range join: the bucket trick must produce a HASH join on the
    # bucket id — a nested-loop plan means the technique regressed
    "q87_range_join": (["Join"], ["NestedLoop"]),
    # bloom pruning: the one-row bitmap rides a broadcast nested loop
    # (cross join of a single row), and the exact semi-join stays hash
    "q90_bloom_semijoin": (
        ["BroadcastNestedLoopJoin", "BroadcastHashJoin", "LeftSemi"],
        [],
    ),
    # span dedup: corpus-wide state moves as xxhash64 digests — the
    # count/probe shuffles must never carry the slice text
    "q91_span_dedup": (["xxhash64", "LeftSemi"], []),
    # shard assignment: the prefix-sum window rides ONE hash exchange
    # on the order-aligned bucket — a rangepartitioning exchange means
    # the double-shuffle generic path regressed back in
    "q94_shard_assignment": (
        ["hashpartitioning(__bucket", "BroadcastHashJoin"],
        ["rangepartitioning"],
    ),
    # banded hamming search: candidates come from an equi-join on the
    # (band, band-bits) key — all-pairs nested loops must never appear
    "q95_hamming_neardup": (["Join"], ["NestedLoop", "CartesianProduct"]),
    # interval join: the user-key equality anchors a hash/sort-merge
    # join; the time bound is a residual, not a nested-loop condition
    "q97_interval_join": (["Join"], ["NestedLoop", "CartesianProduct"]),
    # incremental dedup: every base-side touch is by key (digest or
    # hashed shingle) — equi-joins only, never a pair nested loop
    "q102_incremental_dedup": (
        ["Join"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # epoch expansion: narrow map + explode, shuffle-free
    "q103_epoch_mixture": (["Generate"], ["Exchange"]),
    # IVM rollup: increment-sized aggregations, full-outer merge join —
    # the big table is never rescanned (no second orders scan beyond
    # the two increment aggs over the same relation)
    "q104_incremental_rollup": (["HashAggregate", "FullOuter"], []),
    # URL canonicalization: pure codegen regex, shuffle-free
    "q106_url_canonical": (["[codegen id :"], ["Exchange"]),
    # pagerank: iterations are hash joins + aggregations, no loops in
    # the plan shape; count stats broadcast
    "q108_pagerank": (
        ["BroadcastNestedLoopJoin", "HashAggregate"],
        ["CartesianProduct"],
    ),
    # snapshot diff: ONE full-outer join whose shuffled payload is
    # (key, md5) — the digest projection happens below the exchange
    "q109_snapshot_diff": (["FullOuter", "md5"], []),
    # web admission: blocklist broadcast; the per-domain cap is the
    # TWO-PHASE guard — count-gate then a (domain, md5-prefix-bucket)
    # decomposed window, so a dominant domain spreads over 256 tasks;
    # the _bkt column in the plan proves the decomposed path is live
    "q110_web_admission": (
        ["BroadcastHashJoin", "Window", "_bkt"],
        [],
    ),
    # classic top-k reports: per-partition heaps, never a global sort
    "q115_shipping_priority": (
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        [],
    ),
    "q116_returned_revenue": (["TakeOrderedAndProject"], []),
    # SCD2: both windows ride the user_id hash partitioning
    "q118_scd2_intervals": (
        ["Window", "hashpartitioning(user_id"],
        [],
    ),
    # pivot with an explicit value list: one aggregation pass, no
    # value-discovery job in the plan
    "q119_event_pivot": (["HashAggregate"], []),
    # collocations: top-k via per-partition heaps; unigram joins
    # broadcast
    "q120_collocations": (
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        [],
    ),
    # fuzzy linkage: candidates from the blocking equi-join — the
    # all-pairs nested loop must never appear
    "q125_fuzzy_linkage": (["Join"], ["NestedLoop", "CartesianProduct"]),
    # corpus-byte-touching text passes must be pure codegen: split ->
    # filter(lambda) -> array_join (q221) and extract_all -> Luhn
    # filter -> replace fold (q222) — a shuffle or Python hop here
    # multiplies the cost of scrubbing 100 TB
    "q221_boilerplate_strip": (["[codegen id :"], ["Exchange"]),
    "q222_card_scrub_luhn": (["[codegen id :"], ["Exchange"]),
    # q239 expect-or-quarantine: the rule projection + split is pure
    # codegen over the union'd scan — a shuffle or Python hop here
    # would poison the 100 TB every-row ingest gate
    "q239_quality_quarantine": (["[codegen id :"], ["Exchange"]),
    # deciles / exact median over the ~5-value event_type key: NO
    # ntile-over-group window (one task would sort ~N/5 of the fact
    # table) — the grouped_row_number recipe instead: a range
    # repartition, per-(group, partition) local ranks, and a
    # broadcast offset join; ntile is pure arithmetic over (rank, n)
    "q203_value_deciles": (
        ["rangepartitioning(event_type", "__grp_part_cnt",
         "BroadcastExchange"],
        ["ntile("],
    ),
    "q210_grouped_median_exact": (
        ["rangepartitioning(event_type", "__grp_part_cnt",
         "BroadcastExchange"],
        ["ntile("],
    ),
    # corpus LM scoring: count-table probes are equi-joins (shuffle
    # hash pinned), never a nested loop; bucketing must use the
    # distributed rank, not an unpartitioned global window over docs
    "q153_lm_quality_buckets": (
        ["Join"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # BM25: postings probed by broadcast equi-joins on query terms —
    # the all-pairs (query x corpus) scan must never appear
    "q155_bm25_topk": (
        ["BroadcastHashJoin"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # Q21 shape: per-order profile equi-joins, never a lineitem
    # self-nested-loop; supplier dimension broadcasts
    "q179_waiting_suppliers": (
        ["BroadcastHashJoin"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # Q17 shape: decorrelated profile join; part filter broadcasts
    "q180_small_quantity_revenue": (
        ["BroadcastHashJoin"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # Q22 shape: the NOT EXISTS is a broadcast ANTI join (the 1-row
    # aggregate merge is the only nested-loop-free cross join)
    "q181_idle_rich_customers": (
        ["BroadcastHashJoin", "LeftAnti"],
        [],
    ),
    # filtered search: the metadata filter is a broadcast SEMI join on
    # the candidate set, never a corpus-wide pass or nested loop
    "q182_filtered_search": (
        ["BroadcastHashJoin", "LeftSemi"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # L2 rerank: shortlist-only postings join
    "q184_semantic_rerank": (
        ["BroadcastHashJoin"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # more-like-this: seed term selection + candidate-only scoring are
    # all equi-joins; the |seeds| x |corpus| scan must never appear
    "q178_more_like_this": (
        ["BroadcastHashJoin"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # retrieval eval: per-(query,doc) equi-joins only
    "q172_retrieval_eval": (
        ["Join"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # phrase search: ONE position-shift equi-join (broadcast phrase
    # terms), never a per-phrase scan or nested loop
    "q159_phrase_search": (
        ["BroadcastHashJoin"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # fuzzy search: the term-to-vocabulary expansion is a
    # deletion-variant EQUI-join on xxhash64 keys — the |terms| x
    # |vocab| levenshtein cross join (the naive plan) must not appear
    "q163_fuzzy_search": (
        ["Join"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # facets: hit-set-only metadata join, broadcast both directions
    "q164_facet_counts": (
        ["BroadcastHashJoin"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # multi-field profile: per-field candidate scoring via broadcast
    # term-set joins, weighted union + one final aggregation
    "q165_multifield_bm25": (
        ["BroadcastHashJoin"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # revenue share: dimension joins broadcast, share window rides the
    # region partitioning
    "q134_revenue_share": (["BroadcastHashJoin", "Window"], []),
    # latest-per-key: ONE aggregation (struct max — SortAggregate,
    # since struct ordering is not hash-aggregable), no row_number
    # window over the whole table
    "q136_latest_per_key": (["SortAggregate"], ["Window"]),
    # media fingerprints: banded equi-join only
    "q139_media_fingerprint_neardup": (
        ["Join"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # salted join: the (key, salt) hash join — no broadcast needed to
    # fix skew, and certainly no nested loop
    "q140_salted_join": (["Join"], ["NestedLoop", "CartesianProduct"]),
    # dedup planner: the synopsis is aggregation-only — the pair join
    # it predicts must never appear in its own plan
    "q141_dedup_planner": (["HashAggregate"], ["SortMergeJoin", "ShuffledHashJoin"]),
    # exact Jaccard: the self-join is PINNED to shuffled-hash — a
    # broadcast here means an O(corpus) side got broadcast
    "q16_ngram_jaccard": (["ShuffledHashJoin"], []),
    # LSH banding: pair generation is a groupBy + bucket-local unfold —
    # the plan must contain NO join at all
    "q18_minhash_lsh": (
        ["HashAggregate", "Generate"],
        ["SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "NestedLoop"],
    ),
    # reader-ACL extraction: pure array algebra next to the scan —
    # shuffle-free
    "q142_read_access": (["[codegen id :"], ["Exchange"]),
    # blocklist lifecycle: key-compacted aggregations and broadcast
    # semi-joins only — never a nested loop over attempts
    "q143_blocklist_lifecycle": (
        ["BroadcastHashJoin", "LeftSemi"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # Q9-shape profit proxy: every dimension broadcasts; the fact
    # table's only wide shuffle is its partial-aggregated groupBy
    "q227_nation_year_profit": (
        ["BroadcastHashJoin"],
        ["NestedLoop", "CartesianProduct"],
    ),
    # contingency table: marginals broadcast back onto the grouped
    # counts; the fact scan aggregates partially before any exchange
    "q228_contingency_expected": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["NestedLoop", "CartesianProduct", "SortMergeJoin"],
    ),
    # cross-doc sentence dedup: the keep-first window is PARTITIONED
    # by the sentence (hashpartitioning(__s)) — never an unpartitioned
    # corpus-wide window, and no join back (the flag rides the same
    # shuffle)
    "q229_sentence_dedup_global": (
        ["Window", "hashpartitioning(__s"],
        ["SortMergeJoin", "NestedLoop", "CartesianProduct"],
    ),
    # systematic PPS sampling: the prefix sum rides the caller's
    # monotone bucket — ONE hash exchange feeds the window (the
    # single-exchange fast path), never a global single-partition sort
    "q230_pps_sample": (
        ["Window", "hashpartitioning(__bucket"],
        ["SinglePartition", "rangepartitioning"],
    ),
}


def _sharepoint_composed(spark, sf_dir):
    """§3.3 composed: list-item bodies ∪ document-library attachment
    chunks (reference sharepoint_indexer.py:905-929 + :969-1074).
    The plan must show the lookup-dimension broadcast join (J7) and the
    Union of the two branches."""
    import datetime as dt

    from gpt_rag_ingestion_spark.plans.sharepoint_job import sharepoint_ingest_docs

    t = dt.datetime.fromisoformat("2024-03-01T00:00:00")
    items = spark.createDataFrame(
        [("contoso", "listA", 1, {"Title": "Spec", "OwnerId": "7"}, t)],
        "site STRING, list_id STRING, item_id INT, "
        "fields MAP<STRING,STRING>, last_modified TIMESTAMP",
    )
    atts = spark.createDataFrame(
        [("contoso", "listA", 1, "spec.pdf", b"words. " * 50, t)],
        "site STRING, list_id STRING, item_id INT, file_name STRING, "
        "payload BINARY, last_modified TIMESTAMP",
    )
    owners = spark.createDataFrame(
        [("7", "Alice")], ["lookup_id", "lookup_value"]
    )
    return sharepoint_ingest_docs(
        items, attachments=atts, lookups={"OwnerId": owners}, embedding_dim=8
    )


def _sharepoint_config_driven(spark, _sf_dir):
    """S8 config-DF-driven hydration: the parsed config relation joins
    BOTH ingestion branches as a broadcast build side (bounded by the
    number of configured collections), the per-row include/exclude is a
    map_filter, and the branches union — all one plan, no
    per-collection driver loop."""
    import datetime as dt
    import json

    from gpt_rag_ingestion_spark.plans.sharepoint_job import (
        sharepoint_ingest_from_config,
    )

    t = dt.datetime.fromisoformat("2024-03-01T00:00:00")
    cfg = spark.createDataFrame(
        [(json.dumps({
            "type": "sharepoint_site",
            "siteDomain": "contoso", "siteName": "eng",
            "lists": [
                {"listId": "listA", "includeFields": ["Title"]},
                {"listId": "libB", "listType": "document_library"},
            ],
        }),)],
        ["doc"],
    )
    items = spark.createDataFrame(
        [("contoso/eng", "listA", 1, {"Title": "Spec"}, t)],
        "site STRING, list_id STRING, item_id INT, "
        "fields MAP<STRING,STRING>, last_modified TIMESTAMP",
    )
    atts = spark.createDataFrame(
        [("contoso/eng", "libB", 1, "spec.pdf", b"words. " * 50, t)],
        "site STRING, list_id STRING, item_id INT, file_name STRING, "
        "payload BINARY, last_modified TIMESTAMP",
    )
    return sharepoint_ingest_from_config(
        cfg, items, attachments=atts, embedding_dim=8
    )


def _sidecar_steady_state(spark, sf_dir):
    """Round-4 contract (round-3 brief #1): in the steady state
    (meta.superseded == 0) sidecar classification must contain NO
    exchange keyed on doc_id, sh, or _bid — the digest index, shingle
    postings, and sizes tables are scans streamed under broadcast
    joins with batch-side keys; liveness costs nothing.  The must-not
    list below is the q18-style plan rule."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.dedup import (
        dedup_sidecar_build,
        incremental_dedup_sidecar,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    side = tempfile.mkdtemp(prefix="plans_sidecar_") + "/sidecar"
    dedup_sidecar_build(
        docs.filter("doc_id % 3 != 0").select("doc_id", "text"), side
    )
    probe = docs.limit(50).selectExpr("doc_id + 900000 AS doc_id", "text")
    return incremental_dedup_sidecar(probe, side)


def _ingest_job_snapshot_pruned(spark, _sf_dir):
    """r6 judge brief #7: the ingest JOB's own snapshot table, written
    with stats_cols in the steady state, must serve a range read whose
    file list is decided from commit metadata — the builder asserts
    files were actually skipped (report), and the resulting plan is a
    single pruned parquet scan with the exact predicate re-applied and
    NO exchange (only the surviving generation is read, so no union)."""
    import datetime as dt
    import tempfile

    from gpt_rag_ingestion_spark.operators import snapshot_table as S
    from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job

    table = tempfile.mkdtemp(prefix="plans_ingest_snap_") + "/chunks"
    t0 = dt.datetime(2026, 1, 1)
    t1 = dt.datetime(2026, 2, 1)

    def listing(rows):
        return spark.createDataFrame(
            rows, "doc_key STRING, text STRING, last_modified TIMESTAMP"
        )

    kw = dict(
        max_tokens=16, overlap=2, min_tokens=2, embedding_dim=8,
        stats_cols=["metadata_storage_last_modified"],
        bloom_key="parent_id",
    )
    run_ingest_job(
        spark, listing([("a1", "cat dog " * 30, t0)]), table, "r1", **kw
    )
    run_ingest_job(
        spark, listing([("b1", "tree bird " * 30, t1)]), table, "r2", **kw
    )
    rep: dict = {}
    df = S.snapshot_read_where(
        spark, table, {"metadata_storage_last_modified": (t1, None)},
        report=rep,
    )
    assert rep["files_skipped"] > 0, f"no files pruned: {rep}"
    return df


def _converted_corpus_pruned(spark, sf_dir):
    """r11 verdict #2: a corpus ADOPTED via snapshot_convert_from_
    parquet(collect_stats=True) must serve a range read whose file
    list is decided from the convert-time ext sidecar — files actually
    skipped (report, asserted here), data never moved, and the plan a
    single pruned parquet scan over the EXTERNAL directory with the
    exact predicate re-applied and no exchange/union (one external
    generation -> one scan)."""
    import tempfile

    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .repartitionByRange(8, "cents")
    )
    root = tempfile.mkdtemp(prefix="plans_convert_skip_")
    raw, tbl = root + "/raw", root + "/t"
    rows.write.parquet(raw)
    S.snapshot_convert_from_parquet(
        spark, raw, tbl, collect_stats=True, stats_cols=["cents"]
    )
    rep: dict = {}
    df = S.snapshot_read_where(
        spark, tbl, {"cents": (5_000_000, 7_500_000)}, report=rep
    )
    assert rep["files_skipped"] > 0 and rep["unpruned_gens"] == 0, (
        f"adopted corpus not pruned: {rep}"
    )
    return df


#: composed jobs that aren't driver queries: name -> (builder, must, must_not)
EXTRA_PLANS = {
    # the converted (zero-copy adopted) corpus's metadata-pruned range
    # read: one parquet scan over the surviving external files, exact
    # filter re-applied, nothing shuffled or unioned
    "converted_corpus_pruned_scan": (
        _converted_corpus_pruned,
        ["Scan parquet", "Filter"],
        ["Exchange", "Union"],
    ),
    # the job-maintained snapshot table's metadata-pruned range read:
    # one parquet scan over the surviving generation's files, exact
    # filter re-applied, nothing shuffled
    "ingest_job_snapshot_pruned_scan": (
        _ingest_job_snapshot_pruned,
        ["Scan parquet", "Filter"],
        ["Exchange", "Union"],
    ),
    # steady-state sidecar classification: batch-side keys broadcast
    # into every sidecar scan; NO exchange may lead on doc_id (digest
    # index / final join), sh (postings), or _bid (sizes)
    "sidecar_steady_state": (
        _sidecar_steady_state,
        ["BroadcastHashJoin"],
        [
            "hashpartitioning(doc_id#",
            "hashpartitioning(sh#",
            "hashpartitioning(_bid#",
        ],
    ),
    "sharepoint_ingest_composed": (
        _sharepoint_composed,
        ["BroadcastHashJoin", "Union"],
        [],
    ),
    # config joins must broadcast (explicit hint — the bounded config
    # relation must never shuffle the corpus-sized item/attachment
    # stream); map_filter = per-row include/exclude projection.  The
    # chunk<->file-metadata join may legitimately sort-merge at scale.
    "sharepoint_config_driven": (
        _sharepoint_config_driven,
        ["BroadcastHashJoin", "Union", "map_filter"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
}


def main(sf_dir: str = "/root/testdata/sf0.01") -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    failures = []
    sections = []
    targets = [
        (name, lambda s, d, n=name: qs[n](s, d), must, must_not)
        for name, (must, must_not) in PLAN_PROPERTIES.items()
    ] + [
        (name, builder, must, must_not)
        for name, (builder, must, must_not) in EXTRA_PLANS.items()
    ]
    for name, builder, must, must_not in targets:
        df = builder(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        status = []
        for s in must:
            ok = s in plan
            status.append(f"  - MUST contain `{s[:70]}`: {'OK' if ok else 'MISSING'}")
            if not ok:
                failures.append((name, s))
        for s in must_not:
            ok = s not in plan
            status.append(f"  - MUST NOT contain `{s}`: {'OK' if ok else 'PRESENT'}")
            if not ok:
                failures.append((name, f"NOT {s}"))
        sections.append(
            f"## {name}\n\n" + "\n".join(status) + "\n\n```\n" + plan.strip() + "\n```\n"
        )

    header = (
        "# PLANS — physical-plan evidence for scale properties\n\n"
        "Generated by scripts/explain_plans.py from `.explain('formatted')`.\n"
        "Each section lists asserted plan properties (broadcast joins where\n"
        "a side is known-small, predicate/projection pushdown into the\n"
        "parquet scan, shuffle-free narrow maps for the chunking hot path)\n"
        "followed by the actual plan.\n\n"
    )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(header + "\n".join(sections))

    if failures:
        print("PLAN PROPERTY FAILURES:")
        for name, s in failures:
            print(f"  {name}: {s}")
        return 1
    print(f"all plan properties hold; PLANS.md written ({len(targets)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
