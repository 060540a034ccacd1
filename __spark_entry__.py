"""Driver contract for the spark-graft builder (PySpark target).

Each entry in ``queries()`` is an operator from SURVEY.md §2 (or a
beyond-reference LLM-pipeline operator) expressed Spark-first; the
matching ``oracle_sql()`` entry is the same computation in DuckDB SQL.

Determinism policy (so Spark/DuckDB value-hashes match):
- sums over doubles go through DECIMAL(18,4) (exact, order-independent)
  and are cast back to DOUBLE for a stable schema;
- similarity scores use integer-quantized dot products (exact);
- every ranking has a total tie-break order;
- md5/sha256 text hashing is identical in both engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    # the driver may import this module from any cwd
    sys.path.insert(0, _REPO_DIR)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.chunking.pipeline import chunk_documents
from gpt_rag_ingestion_spark.chunking.splitter import chunk_fixed
from gpt_rag_ingestion_spark.functions.keys import chunk_key
from gpt_rag_ingestion_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from gpt_rag_ingestion_spark.operators.freshness import (
    freshness_candidates,
    index_watermarks,
)
from gpt_rag_ingestion_spark.operators.multimodal import extract_media_features
from gpt_rag_ingestion_spark.operators.purge import purge_targets
from gpt_rag_ingestion_spark.operators.similarity import (
    lsh_bucketed_ann,
    quantized_dot_top1,
)
from gpt_rag_ingestion_spark.operators.text_analysis import (
    language_id,
    quality_features,
)
from gpt_rag_ingestion_spark.session import spread_small_input

SF_DEFAULT = "/root/testdata/sf0.001"


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executor Python workers (same mechanism a
    real cluster submit would use via --py-files)."""
    from gpt_rag_ingestion_spark.session import ship_package

    ship_package(spark)


_EVENTS_READ_SCHEMA = (
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)

_EVENTS_TS_UNIT: dict = {}


def _events_ts_unit(sf_dir: str) -> str:
    """Physical unit of events.ts, read once from the parquet footer.

    The driver has shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    testdata between rounds; Spark's vectorized reader rejects nanos, so
    detect the unit instead of hardcoding either."""
    unit = _EVENTS_TS_UNIT.get(sf_dir)
    if unit is None:
        import pyarrow.parquet as pq

        field = pq.read_schema(f"{sf_dir}/events.parquet").field("ts")
        unit = getattr(field.type, "unit", "us")
        _EVENTS_TS_UNIT[sf_dir] = unit
    return unit


# Scan-plan memo for _t (guide §5 — the driver should do almost no
# work): every `spark.read.parquet(path)` costs a JVM file listing plus
# a parquet-footer schema read (~0.1 s of py4j round-trips), and the
# query builders call _t hundreds of times per bench run on the same
# handful of immutable corpus tables.  The memo holds the unresolved
# scan PLAN only — no data, no results: every materialization of a
# derived query still reads the parquet files fresh (Spark itself
# caches the same file listing per session, filesourcePartitionFile-
# CacheSize).  The memo belongs to ONE session, (session id,
# applicationId): the first _t call from a different session drops it
# and starts afresh, so the interpreter never holds the scans of
# sessions it has moved past (a new session — even one reusing the
# interpreter — re-lists).  The inputs under a given path are written
# once and never mutated mid-session (same contract _EVENTS_TS_UNIT
# already relies on).
_SCAN_MEMO: tuple = (None, {})  # (owning session key, {(sf_dir, table): scan})


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    global _SCAN_MEMO
    session = (id(spark), spark.sparkContext.applicationId)
    owner, scans = _SCAN_MEMO
    if owner != session:
        # a concurrent caller of another session may swap the memo in
        # turn; this call keeps filling its own dict, never the other's
        scans = {}
        _SCAN_MEMO = (session, scans)
    key = (sf_dir, name)
    df = scans.get(key)
    if df is not None:
        return df
    _ensure_shipped(spark)
    if name == "events" and _events_ts_unit(sf_dir) == "ns":
        # TIMESTAMP(NANOS), which Spark's reader rejects: read as int64
        # nanos (explicit schema — no session conf needed) and truncate
        # to micros, matching DuckDB/engine-default microsecond
        # timestamps.
        df = spark.read.schema(_EVENTS_READ_SCHEMA).parquet(f"{sf_dir}/{name}.parquet")
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        scans[key] = df
        return df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # micros-unit files come back as TIMESTAMP_NTZ under Spark's NTZ
        # inference; normalize to the session-zone TIMESTAMP the
        # operators (unix_micros etc.) expect — sessions run UTC, so the
        # instant is unchanged.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    scans[key] = df
    return df


def _dec_sum(col, alias):
    """Order-independent double sum: exact DECIMAL accumulation."""
    return F.sum(col.cast("decimal(18,4)")).cast("double").alias(alias)


# --------------------------------------------------------------------------
# flagship: the reference's core lifecycle (scan → chunk → id → embed)
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full document→chunks pipeline (SURVEY.md §3.1) on
    sf0.001 — recursive splitter UDF, deterministic keys (F1-F3),
    byte-safe truncation (F6), deterministic embeddings (U1), mapped to
    the canonical search-doc schema (§1.1) with title/path/ACL columns
    and the zero-vector captionVector default."""
    from gpt_rag_ingestion_spark.chunking.search_docs import to_search_docs

    docs = (
        _t(spark, SF_DEFAULT, "documents")
        .withColumn(
            "doc_key", F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        )
        .withColumn(
            "path",
            F.concat(
                F.lit("/documents/doc_"), F.col("doc_id").cast("string"), F.lit(".md")
            ),
        )
        .withColumn("last_modified", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    )
    chunks = chunk_documents(
        docs, text_col="text", doc_key_col="doc_key", source_col="source",
        embedding_dim=64, max_tokens=64, overlap=8, min_tokens=4,
        carry_cols=["path", "last_modified"],
    )
    return to_search_docs(chunks, path_col="path", ts_col="last_modified")


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """A4/A2: multi-aggregate rollup (TPC-H Q1 shape) with exact sums.

    All money columns in the testdata are clean 2-decimal values, so the
    arithmetic is done in the scaled-integer domain (cents): exact,
    order-independent, and identical across engines.  `x * 100` and the
    subsequent round are the same IEEE ops in Spark and DuckDB, and
    every sum stays far below 2^53, so the final int->double division
    is a single identically-rounded operation on both sides.
    """
    li = _t(spark, sf, "lineitem")
    ext_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    tax_c = F.round(F.col("l_tax") * 100).cast("long")
    qty_l = F.round(F.col("l_quantity")).cast("long")
    disc_price_s = ext_c * (100 - disc_c)  # units of 1e-4 dollars
    charge_s = disc_price_s * (100 + tax_c)  # units of 1e-6 dollars
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_l).cast("double").alias("sum_qty"),
            (F.sum(ext_c).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(disc_price_s).cast("double") / 10000.0).alias("sum_disc_price"),
            (F.sum(charge_s).cast("double") / 1000000.0).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
        .withColumn(
            "avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 6)
        )
    )
    return out


def q02_watermark_agg(spark: SparkSession, sf: str) -> DataFrame:
    """A1/S9: index-state watermarks (max last-modified per key)."""
    ev = _t(spark, sf, "events")
    return index_watermarks(ev, key="user_id", ts="ts")


def q03_freshness_join(spark: SparkSession, sf: str) -> DataFrame:
    """J1/P1/P2: incremental freshness — broadcast-join source listing
    against watermarks, keep new/strictly-newer (1 s skew)."""
    ev = _t(spark, sf, "events")
    state = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(F.max("ts").alias("watermark_ts"))
    )
    source = ev.filter(F.col("event_id") % 2 == 1)
    out = freshness_candidates(source, state, key="user_id", ts="ts")
    return out.select("event_id", "user_id", "ts")


def q04_purge_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """J3/J5: purge anti-join — index entries whose source vanished."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    live = orders.select(F.col("o_custkey").alias("c_custkey"))
    return purge_targets(cust, live, "c_custkey").select("c_custkey", "c_name")


def q05_regional_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """J7: broadcast dimension joins (region⋈nation⋈customer) into a
    fact-side aggregation — classic star-schema rollup."""
    region = F.broadcast(_t(spark, sf, "region"))
    nation = F.broadcast(_t(spark, sf, "nation"))
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    # spread the single-row-group lineitem scan BY THE AGGREGATION KEY
    # before the per-order rollup (guide §2.5 input skew + §2.4 exchange
    # reuse): groupBy(l_orderkey) barely reduces cardinality (~4:1), so
    # shuffling the three raw columns instead of the pre-aggregated rows
    # costs little, while the decimal-cast row work and the wide hash
    # aggregate run on every core instead of one.  The spread REPLACES
    # the aggregation's own exchange (same key), so the exchange count
    # is unchanged; no-op at real scale (multi-file inputs).
    # Interleaved A/B at sf0.1: med 1.34 -> 1.03 s, best 1.08 -> 0.84.
    li = spread_small_input(
        _t(spark, sf, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        by="l_orderkey",
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # pre-aggregate the fact side on its join key BEFORE the join chain:
    # the shuffle carries one row per order instead of one per lineitem
    # (classic partial-agg pushdown; sums of decimal partials are exact,
    # so the oracle hash is unchanged; after pre-agg, count(*) ==
    # count(distinct o_orderkey)).  Accumulation is LONG in 1e-4-dollar
    # units: the per-row rounding stays the decimal(18,4) cast (the
    # oracle's semantics), but the hot partial aggregate sums a long
    # instead of a BigDecimal — measured ~20% off the query at sf0.1.
    # Exact: a decimal(18,4) times 10^4 is integral, per-order sums are
    # bounded by ~7 lineitems x 1e9 << 2^63, and the region-level sum
    # re-enters decimal(38,0) before the single division, so no scale
    # overflows it either.
    per_order = li.groupBy("l_orderkey").agg(
        F.sum((revenue.cast("decimal(18,4)") * 10000).cast("long")).alias(
            "rev_s"
        )
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            (F.sum(F.col("rev_s").cast("decimal(38,0)")) / 10000)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q06_run_summary_counters(spark: SparkSession, sf: str) -> DataFrame:
    """A2: run-summary counters — count + conditional sums, lock-free."""
    orders = _t(spark, sf, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_pending"),
        _dec_sum(F.col("o_totalprice"), "total_value"),
    )


def q07_group_counts(spark: SparkSession, sf: str) -> DataFrame:
    """A3: per-kind counters (groupBy-count + distinct users)."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q08_distinct_cap(spark: SparkSession, sf: str) -> DataFrame:
    """A7: order-stable distinct + cap (the ACL ≤32 rule) — here sorted
    distinct event types capped at 3 per user."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.slice(F.array_sort(F.collect_set("event_type")), 1, 3), ","
        ).alias("types_capped")
    )


def q09_distinct_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """A8: explode + distinct-count (the images-purge scan shape)."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.filter(F.split(F.col("text"), "\\s+"), lambda t: t != "")).alias(
            "token"
        )
    )
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))


def q10_chunk_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """C4 (fixed-window form) + W1 + F2: pure-codegen splitter with
    deterministic chunk keys — the 100 TB chunking hot path."""
    docs = _t(spark, sf, "documents")
    chunked = chunk_fixed(docs, "text", size=200, overlap=40, min_len=1)
    parent = F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
    return chunked.select(
        F.col("doc_id"),
        F.col("chunk_id"),
        chunk_key(parent, F.col("chunk_id")).alias("id"),
        F.col("content"),
        F.length("content").alias("chunk_len"),
    )


def q11_window_numbering(spark: SparkSession, sf: str) -> DataFrame:
    """W1: sequential numbering within a parent (chunk_id assignment)."""
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey", "o_custkey", F.row_number().over(w).alias("rn")
    )


def q12_running_offset(spark: SparkSession, sf: str) -> DataFrame:
    """W3: running character offset per group (chunk offsets)."""
    docs = _t(spark, sf, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return docs.select(
        "doc_id",
        "source",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("char_offset"),
    )


def q13_log_retention(spark: SparkSession, sf: str) -> DataFrame:
    """W6: retention top-k — rows beyond the newest 5 per user are
    deletion candidates (admin log cleanup shape)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 5)
        .select("event_id", "user_id", "rn")
    )


def q14_sort_paginate(spark: SparkSession, sf: str) -> DataFrame:
    """W5: admin sort + paginate (orderBy + offset/limit)."""
    orders = _t(spark, sf, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .offset(100)
        .limit(50)
    )


def q15_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup (exact): md5 groupBy — one shuffle on a 16-byte digest."""
    docs = _t(spark, sf, "documents")
    return exact_duplicates(docs, text_col="text", id_col="doc_id")


def q16_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup (near, exact Jaccard on word 3-grams) — integer arithmetic
    until the final division."""
    docs = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1)


def q17_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup (SimHash, 16-bit, md5-nibble construction — engine-portable)."""
    docs = _t(spark, sf, "documents")
    return simhash(docs, "text", "doc_id", bits=16)


def q18_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup (MinHash+LSH candidates), universal-hash portable mode
    ('sha256uh'): one sha256 fingerprint per shingle, k affine
    transforms mod 2^31-1 give the permutation-mins (classic Broder
    construction), band keys pack base-P — pure integer arithmetic, so
    the full signature->bands->pairs pipeline is oracle-checked, at
    ~2x the throughput of the hex-slice digest mode."""
    docs = _t(spark, sf, "documents")
    return minhash_lsh_candidates(
        docs, "text", "doc_id", n=3, num_hashes=16, bands=8,
        hash_fn="sha256uh"
    )


def q19_knn_top1(spark: SparkSession, sf: str) -> DataFrame:
    """Similarity: exact nearest neighbor by integer-quantized dot
    product (engine-portable ranking)."""
    emb = _t(spark, sf, "embeddings")
    return quantized_dot_top1(emb, id_col="vec_id", vec_col="embedding")


def q20_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Similarity (scale path): hyperplane-LSH bucketed ANN.  Float
    cosine inside buckets — no SQL oracle; rows-only check + pytest
    recall assertion vs q19."""
    emb = _t(spark, sf, "embeddings")
    return lsh_bucketed_ann(emb, emb, dim=64, bits=6, k=5)


def q21_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: quality features (token/punct/stopword ratios)."""
    docs = _t(spark, sf, "documents")
    return quality_features(docs, "text").select(
        "doc_id",
        "n_tokens",
        "n_punct",
        "n_stopwords",
        "stopword_ratio",
        "avg_token_len",
    )


def q22_language_id(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: stopword-vote language ID."""
    docs = _t(spark, sf, "documents")
    return language_id(docs, "text").select("doc_id", "pred_lang")


def q23_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: md5 fingerprint of normalized text."""
    docs = _t(spark, sf, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")))
    return docs.select("doc_id", fp.alias("fp"))


def q24_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-shape batch: hourly tumbling-window aggregation (the
    Structured Streaming windowed-agg plan run with AvailableNow)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), "total_value"),
        )
    )


def q26_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """F21: JSON field extraction + exact integer rollup."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(F.sum(k).alias("sum_k"))


def q29_chunk_keys_long(spark: SparkSession, sf: str) -> DataFrame:
    """F1/F2: key sanitization + sha256-suffixed truncation for >128-char
    bases."""
    docs = _t(spark, sf, "documents")
    base = F.concat(
        F.lit("docs!!"), F.repeat(F.col("source"), 30), F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    return docs.select(
        "doc_id",
        chunk_key(base, (F.col("doc_id") % 7).cast("int")).alias("id"),
    )


def q31_media_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: BINARY payload column → mapInPandas feature
    extraction (stubbed deterministic decode)."""
    docs = _t(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.lit("application/octet-stream").alias("content_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return extract_media_features(media, deterministic_fake=True)


def q36_polygon_area(spark: SparkSession, sf: str) -> DataFrame:
    """F19/P9: shoelace polygon area (figure bounding boxes) as a
    higher-order aggregate — integer-quantized so it is exact.  The
    embedding array doubles as a 32-point polygon."""
    emb = _t(spark, sf, "embeddings")
    p = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1000).cast("long")
    )
    emb = emb.select("vec_id", p.alias("p"))
    n_pts = (F.size("p") / 2).cast("int")

    def x(i):
        return F.element_at(F.col("p"), (i * 2 + 1).cast("int"))

    def y(i):
        return F.element_at(F.col("p"), (i * 2 + 2).cast("int"))

    idx = F.sequence(F.lit(0), n_pts - 1)
    cross = F.aggregate(
        idx,
        F.lit(0).cast("long"),
        lambda acc, i: acc + x(i) * y((i + 1) % n_pts) - x((i + 1) % n_pts) * y(i),
    )
    return emb.select("vec_id", F.abs(cross).alias("area2x"))


def q37_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """P3: retry/blocklist — files with >=3 consecutive failures since
    their last success (events: error=failed, purchase=success)."""
    from gpt_rag_ingestion_spark.operators.ops_log import blocked_files

    ev = _t(spark, sf, "events")
    attempts = ev.filter(F.col("event_type").isin("purchase", "error")).select(
        F.col("user_id").alias("file_key"),
        F.col("ts").alias("attempt_ts"),
        F.when(F.col("event_type") == "purchase", "success")
        .otherwise("failed")
        .alias("status"),
    )
    return blocked_files(attempts)


def q38_cost_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A4: per-order usage rollup through the reference cost model
    (exact decimal sums feeding row-level arithmetic)."""
    from gpt_rag_ingestion_spark.operators.ops_log import cost_estimate

    # spread-by-key before the per-order rollup — same rationale and
    # equivalence argument as q05 (groupBy reuses the exchange, no-op at
    # scale).  Interleaved A/B at sf0.1: med 0.77 -> 0.46 s (6/6 pairs).
    li = spread_small_input(
        _t(spark, sf, "lineitem").select("l_orderkey", "l_quantity"),
        by="l_orderkey",
    )
    # long accumulation in 1e-4 units (per-row rounding stays the
    # decimal(18,4) cast; Σ·10^4/100 == Σ·100 exactly — see q05's note)
    usage = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("int").alias("pages_analyzed"),
        (
            F.sum((F.col("l_quantity").cast("decimal(18,4)") * 10000).cast("long"))
            .cast("decimal(38,0)")
            / 100
        )
        .cast("double")
        .alias("embedding_tokens"),
        F.lit(0).alias("completion_tokens_in"),
        F.lit(0).alias("completion_tokens_out"),
    )
    return cost_estimate(usage).select(
        "l_orderkey", "pages_analyzed", "embedding_tokens", "estimated_cost_usd"
    )


def q39_markdown_rows(spark: SparkSession, sf: str) -> DataFrame:
    """C3 row mode / F16-F17: per-row markdown table + compact embed
    text as pure column algebra."""
    from gpt_rag_ingestion_spark.chunking.spreadsheet import chunk_rows_mode

    part = _t(spark, sf, "part").withColumn("row_num", F.col("p_partkey"))
    out = chunk_rows_mode(
        part, cols=["p_name", "p_brand", "p_type"], file_name="parts.csv",
        sheet_name="Sheet1",
    )
    return out.select("p_partkey", "content", "embed_text")


def q40_admin_search(spark: SparkSession, sf: str) -> DataFrame:
    """P10/W5: dashboard substring search over a row's searchable text +
    typed sort + pagination."""
    orders = _t(spark, sf, "orders")
    searchable = F.lower(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        )
    )
    return (
        orders.withColumn("searchable", searchable)
        .filter(F.col("searchable").contains("urgent"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .limit(100)
    )


def q41_acl_parse(spark: SparkSession, sf: str) -> DataFrame:
    """F23/A7: 3-way ACL string parse + order-preserving dedup + cap,
    exercised on constructed JSON-array ACLs (with duplicates)."""
    from gpt_rag_ingestion_spark.functions.acl import parse_acl_ids

    cust = _t(spark, sf, "customer")
    acl_str = F.concat(
        F.lit('["u'), F.col("c_custkey").cast("string"),
        F.lit('", "g'), F.col("c_nationkey").cast("string"),
        F.lit('", "u'), F.col("c_custkey").cast("string"), F.lit('"]'),
    )
    parsed = parse_acl_ids(acl_str)
    return cust.select(
        "c_custkey", F.array_join(parsed, ",").alias("acl_ids")
    )


def q43_windowed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-plan tumbling window (window() function) run as batch —
    identical plan attaches to readStream with a watermark."""
    from gpt_rag_ingestion_spark.streaming.micro_batch import windowed_event_counts

    ev = _t(spark, sf, "events")
    return windowed_event_counts(ev)


def q44_iso_parse(spark: SparkSession, sf: str) -> DataFrame:
    """F10: ISO-8601 parse with epoch fallback (try_to_timestamp +
    coalesce) — the reference's tolerant datetime parser."""
    orders = _t(spark, sf, "orders")
    iso = F.when(
        F.col("o_orderkey") % 10 == 0, F.lit("not-a-date")
    ).otherwise(F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"))
    parsed = F.coalesce(
        F.try_to_timestamp(iso, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.lit("1970-01-01 00:00:00").cast("timestamp"),
    )
    return orders.select("o_orderkey", parsed.alias("parsed_ts"))


def q45_fields_to_text(spark: SparkSession, sf: str) -> DataFrame:
    """F18: item fields -> "k: v" lines (the SharePoint list-item body
    builder) as pure column algebra."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    body = F.concat_ws(
        "\n",
        F.concat(F.lit("event_type: "), F.col("event_type")),
        F.concat(F.lit("k: "), k.cast("string")),
        F.concat(F.lit("user: "), F.col("user_id").cast("string")),
    )
    return ev.select("event_id", body.alias("body_text"))


def q46_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup (embedding-cosine): pairs with quantized dot >= 450k
    (~cosine 0.45 for unit vectors) — exact integer scoring."""
    from gpt_rag_ingestion_spark.operators.dedup import embedding_neardup_pairs

    emb = _t(spark, sf, "embeddings")
    return embedding_neardup_pairs(emb)


def q47_ivf_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Similarity (scale path #2): IVF — spherical-kmeans cells fit on a
    deterministic sample, n_probe nearest cells per query, exact cosine
    within cells.  Float cosine -> rows-only check; recall asserted vs
    the exact operator in tests."""
    from gpt_rag_ingestion_spark.operators.similarity import ivf_ann

    emb = _t(spark, sf, "embeddings")
    return ivf_ann(emb, emb, dim=64, n_centroids=16, n_probe=2, k=5)


def q48_base64(spark: SparkSession, sf: str) -> DataFrame:
    """F20: base64 encode/decode round-trip of document payloads (the
    reference moves figure images and analysis payloads as base64)."""
    docs = _t(spark, sf, "documents")
    # Spark's base64 emits MIME-chunked output (CRLF every 76 chars);
    # strip to the canonical unchunked form DuckDB/python produce
    b64 = F.regexp_replace(
        F.base64(F.encode(F.col("text"), "UTF-8")), "[\\r\\n]", ""
    )
    roundtrip = F.decode(F.unbase64(b64), "UTF-8")
    return docs.select(
        "doc_id",
        b64.alias("payload_b64"),
        (roundtrip == F.col("text")).alias("roundtrip_ok"),
    )


def q49_rolling_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: order-sensitive polynomial rolling-hash
    fingerprint (exact integer arithmetic, engine-portable)."""
    from gpt_rag_ingestion_spark.operators.text_analysis import rolling_fingerprint

    docs = _t(spark, sf, "documents")
    return rolling_fingerprint(docs)


def q50_doc_analysis_pages(spark: SparkSession, sf: str) -> DataFrame:
    """C1/W2/F12: doc-analysis chunking with page attribution.  Markdown
    is synthesized by inserting PageBreak markers into the documents
    every ~200 chars.  Sequential per-document semantics -> rows-only
    check; exactness covered by unit tests."""
    from gpt_rag_ingestion_spark.chunking.doc_analysis import (
        PAGEBREAK_RAW,
        chunk_analyzed_documents,
    )

    docs = _t(spark, sf, "documents")
    md = F.concat_ws(
        f" {PAGEBREAK_RAW} ",
        F.substring("text", 1, 200),
        F.substring("text", 201, 200),
        F.substring("text", 401, 200),
    )
    out = chunk_analyzed_documents(
        docs.select("doc_id", md.alias("markdown")),
        md_col="markdown",
        max_tokens=40,
        overlap=4,
        min_tokens=2,
        spread_by="doc_id",
    )
    return out.select("doc_id", "chunk_id", "page", "content")


def q51_transcription_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """C5: VTT transcription chunking (synthetic speaker-turn VTT from
    documents text; every chunk embeds the transcript SUMMARY — the
    reference's parity quirk).  Rows-only check."""
    from gpt_rag_ingestion_spark.chunking.transcription import chunk_transcriptions

    docs = _t(spark, sf, "documents")
    vtt = F.concat(
        F.lit("WEBVTT\n\n00:00:00.000 --> 00:00:05.000\n<v Speaker0>"),
        F.substring("text", 1, 120),
        F.lit("\n\n00:00:05.000 --> 00:00:10.000\n<v Speaker1>"),
        F.substring("text", 121, 120),
        F.lit("\n"),
    )
    src = docs.select(
        F.concat(F.lit("vtt-"), F.col("doc_id").cast("string")).alias("doc_key"),
        F.encode(vtt, "UTF-8").alias("bytes"),
    )
    return chunk_transcriptions(
        src, max_tokens=60, overlap=4, min_tokens=1, embedding_dim=16
    ).select("parent_id", "chunk_id", "content", "summary")


def q52_multimodal_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """C2: multimodal chunking — figure tags synthesized into the text,
    a figures sidecar derived from embeddings (polygon = first 8 dims),
    captions + captionVector per chunk.  Rows-only check."""
    from gpt_rag_ingestion_spark.chunking.multimodal_chunker import (
        chunk_multimodal_documents,
    )

    docs = _t(spark, sf, "documents")
    md = F.concat(
        F.substring("text", 1, 150),
        F.lit(" <figure>embedded chart</figure> "),
        F.substring("text", 151, 200),
    )
    doc_md = docs.select(
        F.concat(F.lit("mm-"), F.col("doc_id").cast("string")).alias("doc_key"),
        md.alias("markdown"),
    )
    emb = _t(spark, sf, "embeddings")
    # rectangle polygon sized from embedding components: w,h in [3, 23]
    # so area >= 9 always clears the 4%-of-page filter on a 10x10 page
    w = F.abs(F.element_at("embedding", 1).cast("double")) * 20 + 3
    h = F.abs(F.element_at("embedding", 2).cast("double")) * 20 + 3
    figures = emb.select(
        F.concat(F.lit("mm-"), F.col("vec_id").cast("string")).alias("doc_key"),
        F.lit("1").alias("figure_id"),
        F.array(
            F.lit(0.0), F.lit(0.0), w, F.lit(0.0), w, h, F.lit(0.0), h
        ).alias("polygon"),
        F.lit(10.0).alias("page_width"),
        F.lit(10.0).alias("page_height"),
        F.encode(F.col("vec_id").cast("string"), "UTF-8").alias("image"),
        F.concat(F.lit("imgs/"), F.col("vec_id").cast("string"), F.lit(".png")).alias(
            "image_url"
        ),
    )
    out = chunk_multimodal_documents(
        doc_md, figures, max_tokens=60, overlap=4, min_tokens=1, embedding_dim=16
    )
    return out.select("parent_id", "chunk_id", "content", "imageCaptions", "page")


def q53_mixed_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """C8 composed dispatch (reference chunker_factory.py:34-87 +
    document_chunking.py:49-62): a synthetic mixed-extension corpus
    (md/txt/json/vtt/pdf by doc_id) routed through every chunker family
    and unioned to one relation.  Sequential per-family UDF semantics ->
    rows-only check; family exactness is unit-tested."""
    from gpt_rag_ingestion_spark.chunking.corpus import chunk_corpus

    docs = _t(spark, sf, "documents")
    ext = F.element_at(
        F.array(F.lit("md"), F.lit("txt"), F.lit("json"), F.lit("vtt"), F.lit("pdf")),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    md_payload = F.concat(
        F.lit("# Doc "), F.col("doc_id").cast("string"), F.lit("\n\n"),
        F.substring("text", 1, 300), F.lit("\n\n## Detail\n\n"),
        F.substring("text", 301, 300),
    )
    json_payload = F.to_json(
        F.struct(
            F.col("doc_id"), F.col("source"),
            F.substring("text", 1, 200).alias("excerpt"),
        )
    )
    vtt_payload = F.concat(
        F.lit("WEBVTT\n\n00:00:00.000 --> 00:00:05.000\n<v Speaker0>"),
        F.substring("text", 1, 120),
        F.lit("\n\n00:00:05.000 --> 00:00:10.000\n<v Speaker1>"),
        F.substring("text", 121, 120), F.lit("\n"),
    )
    pdf_payload = F.concat_ws(
        " <!-- PageBreak --> ",
        F.substring("text", 1, 250), F.substring("text", 251, 250),
    )
    payload = (
        F.when(ext == "md", md_payload)
        .when(ext == "json", json_payload)
        .when(ext == "vtt", vtt_payload)
        .when(ext == "pdf", pdf_payload)
        .otherwise(F.col("text"))
    )
    corpus = docs.select(
        F.concat(F.lit("mix-"), F.col("doc_id").cast("string")).alias("doc_key"),
        ext.alias("extension"),
        F.encode(payload, "UTF-8").alias("payload"),
    )
    out = chunk_corpus(
        corpus, max_tokens=60, overlap=8, min_tokens=2, embedding_dim=16
    )
    return out.select("parent_id", "chunker", "chunk_id", "content", "page", "title")


def q54_sheet_mode(spark: SparkSession, sf: str) -> DataFrame:
    """C3 sheet mode (reference spreadsheet_chunker.py:82-209): one
    grid-markdown chunk per sheet with deterministic keys.  Sheets are
    synthesized from `part` (one sheet per manufacturer, rows sorted by
    partkey); max_tokens=0 disables the summary fallback exactly like
    the reference's `max_chunk_size > 0` guard, so the content is the
    cleaned tabulate-grid table — exactly reconstructible in SQL."""
    from gpt_rag_ingestion_spark.chunking.spreadsheet import chunk_sheet_mode

    part = _t(spark, sf, "part")
    row_arr = F.array(
        F.col("p_partkey").cast("string"), F.col("p_name"), F.col("p_type")
    )
    sheets = (
        part.groupBy("p_brand")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("p_partkey"), row_arr.alias("r")))
            ).alias("rs")
        )
        .select(
            F.col("p_brand").alias("doc_key"),
            F.lit(0).alias("sheet_pos"),
            F.lit("Sheet1").alias("sheet_name"),
            F.array(F.lit("p_partkey"), F.lit("p_name"), F.lit("p_type")).alias(
                "headers"
            ),
            F.transform(F.col("rs"), lambda s: s["r"]).alias("rows"),
        )
    )
    out = chunk_sheet_mode(sheets, max_tokens=0, embedding_dim=16)
    return out.select("parent_id", "chunk_id", "id", "title", "content", "length")


def q34_enrichment_join(spark: SparkSession, sf: str) -> DataFrame:
    """J9: groupBy-count + left join enrichment (runs↔files shape)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), "total_spent"),
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
        )
    )


def q35_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap session ids via lag + running sum —
    the batch twin of a session-window streaming aggregation."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(
        prev.isNull() | (F.unix_micros(F.col("ts")) - prev > gap_us), 1
    ).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(new_sess).over(wrun).alias("session_seq"),
    )


def q55_path_keys(spark: SparkSession, sf: str) -> DataFrame:
    """F3/F4/F5: path building, filename/extension extraction, and the
    title-from-filename chain (strip ext, [_-]->space, camelCase split,
    initcap) on constructed camel/underscore names."""
    from gpt_rag_ingestion_spark.functions.keys import parent_key
    from gpt_rag_ingestion_spark.functions.text import (
        extension_of,
        filename_of,
        title_from_filename,
    )

    docs = _t(spark, sf, "documents")
    fname = F.concat(
        F.lit("annualReport"), F.col("doc_id").cast("string"), F.lit("_finalDraft.MD")
    )
    d = docs.select("doc_id", "source", fname.alias("fn"))
    path = F.concat(F.lit("/corpus/"), F.col("source"), F.lit("/"), F.col("fn"))
    return d.select(
        "doc_id",
        path.alias("path"),
        filename_of(path).alias("file_name"),
        extension_of(path).alias("ext"),
        title_from_filename(filename_of(path)).alias("title"),
        parent_key(F.col("source"), F.col("fn")).alias("pkey"),
    )


def q56_byte_truncate(spark: SparkSession, sf: str) -> DataFrame:
    """F6: byte-safe 32,766-byte truncation (pandas UDF) exercised past
    the limit via repeat.  The corpus text is ASCII so the oracle's
    char-substr equals the UDF's byte-substr; multibyte boundary
    behavior is covered by unit tests."""
    from gpt_rag_ingestion_spark.functions.text import byte_truncate_udf

    docs = _t(spark, sf, "documents")
    trunc = byte_truncate_udf(F.repeat(F.col("text"), 70))
    return docs.select(
        "doc_id",
        F.length(trunc).cast("long").alias("trunc_len"),
        F.md5(trunc).alias("trunc_md5"),
    )


def q57_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """F7/F8: BPE-ish token counting (pure codegen — the 100 TB hot
    path) plus the first-32-token head, both relational."""
    from gpt_rag_ingestion_spark.functions.tokens import (
        TOKEN_REGEX,
        approx_token_count,
    )

    docs = _t(spark, sf, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    return docs.select(
        "doc_id",
        approx_token_count("text").cast("long").alias("token_count"),
        F.array_join(F.slice(toks, 1, 32), " ").alias("head_tokens"),
    )


def q58_stale_runs(spark: SparkSession, sf: str) -> DataFrame:
    """F11: datetime arithmetic — runs started > 48 h before a fixed
    'now' with no finish timestamp get marked interrupted (reference
    CHANGELOG.md:16 stale-run detection)."""
    import datetime

    from gpt_rag_ingestion_spark.operators.ops_log import stale_runs

    ev = _t(spark, sf, "events")
    runs = ev.select(
        F.col("event_id").alias("run_id"),
        F.col("ts").alias("started_at"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("timestamp"))
        .otherwise(F.col("ts") + F.expr("INTERVAL 10 MINUTES"))
        .alias("finished_at"),
    )
    now = datetime.datetime(2024, 1, 20)
    return stale_runs(runs, now_ts=now, hours=48).select(
        "run_id", "started_at", "status"
    )


def q59_run_history(spark: SparkSession, sf: str) -> DataFrame:
    """W4: per-file runHistory newest-first (ordered collect_list),
    serialized to a string so the ordering itself is oracle-checked."""
    from gpt_rag_ingestion_spark.operators.ops_log import run_history

    ev = _t(spark, sf, "events")
    logs = ev.select(
        (F.col("user_id") % 50).alias("file_key"),
        F.col("ts").alias("started_at"),
        F.col("event_type").alias("status"),
    )
    hist = F.array_join(
        F.transform(
            "runHistory",
            lambda x: F.concat(
                F.date_format(x["startedAt"], "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                F.lit("|"),
                x["status"],
            ),
        ),
        ",",
    )
    return run_history(logs).select("file_key", hist.alias("history"))


def q60_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """S10/S11: the merge-upsert plan (delete-parents-then-upload as one
    anti-join + union) — the relational core snapshot_merge_upsert
    commits."""
    from gpt_rag_ingestion_spark.operators.upsert import merged_view

    orders = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    incoming = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    return merged_view(orders, incoming, key="o_orderkey")


_Q61_SEQ = [0]


def q61_first_seen(spark: SparkSession, sf: str) -> DataFrame:
    """§2.10: the stateful streaming first-seen operator run as a REAL
    stream (applyInPandasWithState, AvailableNow trigger, memory sink) —
    value is key-derived so the emitted row is deterministic and the
    whole streaming run is oracle-checkable as a batch aggregate."""
    import tempfile

    from gpt_rag_ingestion_spark.streaming.stateful import streaming_first_seen

    _ensure_shipped(spark)
    key = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    stream = (
        spark.readStream.schema(_EVENTS_READ_SCHEMA)
        # the streaming file source wants a directory; glob-filter to the
        # events table only
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
        .select(key.alias("key"), key.alias("value"))
    )
    out = streaming_first_seen(stream)
    _Q61_SEQ[0] += 1
    name = f"q61_first_seen_{_Q61_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="q61-ckpt-")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("key", "first_value", "n_duplicates_dropped")


def q62_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Skew: two-phase salted aggregation on a 3-value hot key must equal
    the plain GROUP BY (the oracle IS the unsalted plan).  Sum goes
    through DECIMAL per the determinism policy."""
    from gpt_rag_ingestion_spark.operators.skew import salted_aggregate

    li = _t(spark, sf, "lineitem").withColumn(
        "_qdec", F.col("l_quantity").cast("decimal(18,4)")
    )
    out = salted_aggregate(
        li,
        key="l_returnflag",
        aggs={"n_items": "count", "sum_qty": "sum:_qdec", "max_qty": "max:l_quantity"},
    )
    return out.select(
        "l_returnflag",
        "n_items",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        "max_qty",
    )


def q63_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup (clustering): MinHash+LSH candidate pairs -> connected
    components (min-label propagation + pointer jumping) -> per-doc
    cluster id / size / canonical flag.  The full LLM-corpus dedup
    decision path; oracle = recursive-CTE reachability in DuckDB."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_candidates,
    )

    docs = _t(spark, sf, "documents")
    pairs = minhash_lsh_candidates(
        docs, "text", "doc_id", n=3, num_hashes=16, bands=8,
        hash_fn="sha256uh"
    )
    return duplicate_clusters(pairs, nodes=docs, id_col="doc_id")


def q64_knn_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Similarity: exact top-3 neighbors per vector by quantized dot —
    tiled block matmul with per-tile top-k prune, then a global
    row_number merge (dot DESC, nn_id ASC)."""
    from gpt_rag_ingestion_spark.operators.similarity import quantized_dot_topk

    emb = _t(spark, sf, "embeddings")
    return quantized_dot_topk(emb, k=3)


def q65_guid_validation(spark: SparkSession, sf: str) -> DataFrame:
    """F25: GUID validation as one rlike expression over constructed
    valid (lower/upper canonical 8-4-4-4-12) and invalid strings."""
    from gpt_rag_ingestion_spark.functions.keys import is_valid_guid

    docs = _t(spark, sf, "documents")
    h = F.md5(F.col("text"))
    canonical = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    guid = (
        F.when(F.col("doc_id") % 3 == 0, canonical)
        .when(F.col("doc_id") % 3 == 1, F.upper(canonical))
        .otherwise(F.concat(F.lit("g-"), h))
    )
    return docs.select("doc_id", guid.alias("guid"), is_valid_guid(guid).alias("valid"))


def q66_tfidf_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: top-3 characteristic terms per document by
    tf×idf (integer-quantized linear-idf surrogate, fully
    engine-deterministic — see tfidf_top_terms)."""
    from gpt_rag_ingestion_spark.operators.text_analysis import tfidf_top_terms

    docs = _t(spark, sf, "documents")
    return tfidf_top_terms(docs, "text", "doc_id", k=3)


def q67_neardup_verified(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup (the 100 TB composition, now as a tested query, not just a
    docstring): MinHash+LSH generates candidate pairs, exact n-gram
    Jaccard verifies ONLY those pairs — non-candidate documents never
    enter the quadratic shingle self-join."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf, "documents")
    cands = minhash_lsh_candidates(
        docs, "text", "doc_id", n=3, num_hashes=16, bands=8,
        hash_fn="sha256uh"
    ).localCheckpoint()  # tiny pair set, referenced 3x downstream —
    # materialize once instead of re-running the LSH pipeline per use
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.05, candidates=cands
    )


def q68_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: Gopher-style keep/drop filter with per-rule
    reasons — integer-quantized ratios so the corpus-admission decision
    reproduces bit-identically across engines."""
    from gpt_rag_ingestion_spark.operators.text_analysis import quality_filter

    docs = _t(spark, sf, "documents")
    return quality_filter(docs).select(
        "doc_id", "n_words", "mean_word_len_q", "symbol_ratio_q",
        "has_stopword", "reason", "keep",
    )


def q69_source_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus mixing: deterministic per-source cap — keep at most 10
    docs per source, chosen by hash order (md5 of the id, doc_id
    tie-break).  The per-domain downsampling step of training-data
    mixture construction; one window over (source)-partitioned rows."""
    docs = _t(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= 10)
        .select("doc_id", "source", "sample_rank")
    )


def q70_kmv_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Sketches: KMV distinct-count estimate of tokens per source —
    unlike HyperLogLog, the k-minimum-values synopsis is a
    deterministic function of the input (k smallest md5-derived
    hashes), so the ESTIMATE itself is oracle-checkable bit-for-bit."""
    from gpt_rag_ingestion_spark.operators.sketches import kmv_distinct

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", "\\s+")).alias("token")
    ).filter(F.col("token") != "")
    return kmv_distinct(toks, "source", "token", k=64)


def q71_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series: as-of join — for each click event, the most recent
    error event by the same user at or before it (union-window plan,
    one shuffle on user_id; operators/asof.py).  DuckDB expresses the
    same thing natively as ASOF LEFT JOIN, which is the oracle."""
    from gpt_rag_ingestion_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events").withColumn("ts_us", F.unix_micros("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts_us", "event_id", "value"
    )
    out = asof_join(
        clicks, errs, on="user_id", ts_col="ts_us",
        payload_cols=["event_id", "value"], tiebreak_col="event_id",
    )
    return out.select(
        "event_id", "user_id", "ts_us",
        F.col("asof_ts").alias("err_ts_us"),
        F.col("asof_event_id").alias("err_event_id"),
        F.col("asof_value").alias("err_value"),
    )


def q72_time_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: per event type, event
    counts and exact decimal-summed value at hour, day, and total
    granularity in ONE pass via GROUPING SETS — Catalyst expands the
    sets inside a single Expand+Aggregate (one shuffle), the plan a
    time-series store's continuous aggregate would maintain
    incrementally."""
    ev = (
        _t(spark, sf, "events")
        .withColumn("day", F.date_trunc("day", F.col("ts")).cast("date"))
        .withColumn("hour", F.hour("ts"))
    )
    return (
        ev.groupingSets(
            [["event_type", "day", "hour"], ["event_type", "day"], ["event_type"]],
            "event_type", "day", "hour",
        )
        .agg(
            F.grouping_id().cast("int").alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), "sum_value"),
        )
        .select("event_type", "day", "hour", "lvl", "n_events", "sum_value")
    )


def q73_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus mixing: deterministic stratified downsampling + disjoint
    train/valid/test assignment by md5 hash ranges — shuffle-free (the
    keep decision is a pure function of the row, evaluated at the
    scan), reproducible in any engine with md5, which is exactly how
    the oracle verifies the drawn subset bit-for-bit."""
    from gpt_rag_ingestion_spark.operators.sampling import (
        hash_bucket, split_assign, stratified_hash_sample,
    )

    docs = _t(spark, sf, "documents")
    sampled = stratified_hash_sample(
        docs, "source", "doc_id",
        rates={"src0": 1.0, "src1": 0.25, "src2": 0.25},
        default_rate=0.5, salt="mix-v1",
    )
    return split_assign(
        sampled, "doc_id",
        {"train": 0.8, "valid": 0.1, "test": 0.1}, salt="split-v1",
    ).select(
        "doc_id", "source",
        hash_bucket(F.col("doc_id"), "mix-v1").alias("mix_bucket"),
        "split",
    )


def q74_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus hygiene: PII masking (urls → emails → phones) as a pure
    regexp_replace chain in whole-stage codegen — no shuffle, no UDF.
    The query deterministically plants synthetic PII (the testdata text
    has none), scrubs it, and returns per-kind redaction counts plus
    the md5 of the scrubbed text so the oracle verifies the exact
    masked string, not just the counts."""
    from gpt_rag_ingestion_spark.operators.pii import scrub_pii

    docs = _t(spark, sf, "documents")
    phones = F.repeat(
        F.concat(
            F.lit(" +1-555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("int"),
    )
    with_pii = docs.withColumn(
        "text_pii",
        F.concat(
            F.lit("contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com"), phones,
            F.lit(" see https://"), F.col("source"),
            F.lit(".example.com/d/"), F.col("doc_id").cast("string"),
            F.lit(" "), F.col("text"),
        ),
    )
    out = scrub_pii(with_pii, "text_pii", "scrubbed")
    return out.select(
        "doc_id", "n_url", "n_email", "n_phone",
        F.md5("scrubbed").alias("scrubbed_md5"),
        F.length("scrubbed").cast("int").alias("scrubbed_len"),
    )


def q75_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus construction end-to-end: quality gate → language gate →
    exact dedup → per-source cap composed as ONE plan (two shuffles:
    digest, source) with a per-document audit disposition — see
    operators/curation.py.  The kept set is the corpus; everything
    else says exactly which stage dropped it."""
    from gpt_rag_ingestion_spark.operators.curation import curation_funnel

    docs = _t(spark, sf, "documents")
    return curation_funnel(docs).select(
        "doc_id", "source", "pred_lang", "stage", "kept"
    )


def q76_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data hygiene: benchmark decontamination — corpus docs
    sharing any distinct word 8-gram with the held-out "benchmark"
    slice (doc_id % 97 == 0) are flagged.  Benchmark shingle hashes are
    broadcast; the corpus never shuffles on shingles."""
    from gpt_rag_ingestion_spark.operators.dedup import benchmark_contamination

    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return benchmark_contamination(corpus, bench, "text", "doc_id", n=8)


def q77_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: Gopher-style repetition signals (dup-word mass,
    top 2-/3-gram multiplicity) as a zero-shuffle narrow projection —
    the per-doc mode statistic is an aggregate fold over the sorted
    n-gram array, not an explode+groupBy."""
    from gpt_rag_ingestion_spark.operators.text_analysis import repetition_features

    docs = _t(spark, sf, "documents")
    return repetition_features(docs)


def q78_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus construction: deterministic concat-then-split sequence
    packing — md5-ordered layout per source, one window cumsum, bin =
    tokens-before DIV budget.  Exact integers; one shuffle on source."""
    from gpt_rag_ingestion_spark.operators.packing import pack_sequences
    from gpt_rag_ingestion_spark.operators.text_analysis import token_count

    docs = _t(spark, sf, "documents").withColumn(
        "n_tok", token_count("text").cast("long")
    )
    return pack_sequences(docs, "n_tok", budget=512, group_col="source")


def q79_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup (semantic): SemDeDup — spherical-kmeans cells, within-cell
    quantized-cosine pairs, connected components, min-id canonical.
    The k-means fit makes it non-SQL-expressible -> rows-only; pair
    soundness vs the exact tiled scorer is asserted in unit tests."""
    from gpt_rag_ingestion_spark.operators.dedup import semdedup

    emb = _t(spark, sf, "embeddings")
    return semdedup(emb, n_centroids=16, min_qdot=450_000)


_Q80_SEQ = [0]


def q80_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """§2.10: streaming dedup — dropDuplicatesWithinWatermark over the
    real file stream (AvailableNow, memory sink).  The watermark spans
    the whole batch, so the emitted set equals DISTINCT(user_id,
    event_type): only the key columns are returned, making the result
    independent of WHICH physical row survived."""
    import tempfile

    _ensure_shipped(spark)
    ts = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if _events_ts_unit(sf) == "ns"
        else F.timestamp_micros(F.col("ts"))
    )
    stream = (
        spark.readStream.schema(_EVENTS_READ_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
        .select(ts.alias("ts"), "user_id", "event_type")
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    _Q80_SEQ[0] += 1
    name = f"q80_stream_dedup_{_Q80_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="q80-ckpt-")
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def q81_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup (exact substring): RefinedWeb-style duplicated-span mass —
    per doc, how many 50-char rolling grams occur >= 2x corpus-wide.
    All corpus state moves as 8-byte gram hashes."""
    from gpt_rag_ingestion_spark.operators.dedup import duplicated_span_mass

    docs = _t(spark, sf, "documents")
    return duplicated_span_mass(docs, "text", "doc_id", width=50)


def q82_corpus_freq(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: unigram corpus-frequency scoring (exact-integer
    KenLM/CCNet analog) — corpus-wide token counts joined back per doc;
    rare-token mass and mean-frequency quantile, ints end to end."""
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        corpus_frequency_score,
    )

    docs = _t(spark, sf, "documents")
    return corpus_frequency_score(docs, rare_threshold=3)


def q83_group_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Profiling: per-source length distribution with exact nearest-rank
    quantiles (no float interpolation — rank selection via window), the
    corpus-mixture dashboard query."""
    from gpt_rag_ingestion_spark.operators.profiling import group_profile

    docs = _t(spark, sf, "documents")
    return group_profile(docs, "source", "n_chars")


def q84_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """§2.10: Spark's NATIVE session windows (F.session_window, the
    same operator Structured Streaming uses for gap-merged sessions)
    run in batch mode and hash-checked against the relational islands
    formulation — proving the streaming operator's session merging
    matches the lag+cumsum batch twin (q35) exactly."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("session_last"),
            _dec_sum(F.col("value"), "session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "session_last",
            "n_events",
            "session_value",
        )
    )


def q85_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus construction: token-budget mixture — per-source token
    targets realized as a deterministic hash-ordered prefix (running
    total window); the doc crossing the budget is kept, later docs are
    cut.  One window shuffle, exact integers."""
    from gpt_rag_ingestion_spark.operators.packing import mixture_take
    from gpt_rag_ingestion_spark.operators.text_analysis import token_count

    docs = _t(spark, sf, "documents").withColumn(
        "n_tok", token_count("text").cast("long")
    )
    # uneven weights over a subset of sources; unlisted sources drop
    targets = {"src0": 2000, "src1": 1000, "src2": 500, "src3": 250}
    return mixture_take(docs, "n_tok", targets, group_col="source")


def q86_centroid_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding curation: per-label centroid scoring — quantized dot
    against the label's component-wise SUM (same order as the mean),
    exact integers; rank 1 = least central (the drop candidate)."""
    from gpt_rag_ingestion_spark.operators.similarity import label_centroid_scores

    emb = _t(spark, sf, "embeddings")
    return label_centroid_scores(emb)


def q87_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Range join (point-in-interval) via bucketization: anchors
    (event_id % 1000 == 0) open 2-hour windows; every event landing in
    a window joins through an hour-bucket EQUI-join + exact filter —
    never a nested loop.  Output: per-window event count + value sum."""
    from gpt_rag_ingestion_spark.operators.rangejoin import bucketed_range_join

    ev = _t(spark, sf, "events")
    intervals = (
        ev.filter(F.col("event_id") % 1000 == 0)
        .select(
            F.col("event_id").alias("interval_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
        )
    )
    joined = bucketed_range_join(
        ev.select("event_id", "ts", "value"), intervals, bucket_seconds=3600
    )
    return joined.groupBy("interval_id", "start_ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dec_sum(F.col("value"), "sum_value"),
    )


def q88_count_min(spark: SparkSession, sf: str) -> DataFrame:
    """Sketches #2: count-min heavy-hitter estimation — 4x256 md5-bucket
    counters (engine-portable construction), min-of-cells estimate
    checked against exact counts for the top-20 tokens."""
    from gpt_rag_ingestion_spark.operators.sketches import count_min_frequencies

    docs = _t(spark, sf, "documents")
    return count_min_frequencies(docs, depth=4, width=256, top_k=20)


def q89_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Index construction: the inverted half of the reference's search
    index as a relation — (token, df, occurrences, capped posting
    prefix in canonical doc:pos order).  One shuffle on the token."""
    from gpt_rag_ingestion_spark.operators.inverted_index import (
        build_inverted_index,
    )

    docs = _t(spark, sf, "documents")
    return build_inverted_index(docs, max_postings=10)


def q90_bloom_semijoin(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime join pruning: lineitem rows for rich suppliers
    (s_acctbal > 9000) via an explicit md5 Bloom filter — fact shuffle
    pruned by a broadcast one-row bitmap probe BEFORE the exact
    left-semi join removes false positives, then a per-supplier rollup.
    Bit-identical to the unpruned semi-join by construction."""
    from gpt_rag_ingestion_spark.operators.bloomjoin import bloom_semijoin

    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier").filter(F.col("s_acctbal") > 9000)
    picked = bloom_semijoin(
        li, supp.select("s_suppkey"), "l_suppkey", "s_suppkey"
    )
    return picked.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dec_sum(F.col("l_extendedprice"), "sum_price"),
    )


def q91_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup family #6 — span REMOVAL (CCNet line-dedup analog): cut
    every 40-char slice whose exact text repeats corpus-wide and return
    the cleaned documents. All corpus-wide state moves as 8-byte
    xxhash64 digests; reassembly shuffles only kept text."""
    from gpt_rag_ingestion_spark.operators.dedup import span_dedup

    docs = _t(spark, sf, "documents")
    return span_dedup(docs, span=40, min_count=2)


def q92_sync_actions(spark: SparkSession, sf: str) -> DataFrame:
    """The composed CDC decision table: one full-outer pass classifying
    every key as index / reindex / skip / purge (the reference's
    freshness keep-list + deletion sweep as a single relation)."""
    from gpt_rag_ingestion_spark.operators.freshness import sync_actions

    ev = _t(spark, sf, "events")
    wm = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(F.max("ts").alias("watermark_ts"))
    )
    src = (
        ev.filter(F.col("event_id") % 2 == 1)
        .groupBy("user_id")
        .agg(F.max("ts").alias("src_ts"))
    )
    return sync_actions(src, wm, key="user_id", ts="src_ts")


def q93_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE merge training (Sennrich et al. 2016): one
    corpus pass builds the word-frequency table, then each of the 16
    iterations is a groupBy + TakeOrdered(1) + codegen merge fold over
    the VOCABULARY relation only.  Oracle-backed since r9: the full
    iterative run is unrolled into 16 chained DuckDB CTEs
    (_bpe_merges_sql) that replay pair-count -> argmax -> merge-fold
    bit-for-bit, the same technique as q108's unrolled PageRank."""
    from gpt_rag_ingestion_spark.operators.bpe import bpe_train

    docs = _t(spark, sf, "documents")
    return bpe_train(docs, num_merges=16)


def q94_shard_assignment(spark: SparkSession, sf: str) -> DataFrame:
    """Sized-shard assignment for the training-shard writer: global
    char-count prefix sum (range-partition + local-prefix + offset —
    never an unpartitioned window) and floor(start/target) shard ids.
    The oracle states the same thing as one SQL running sum."""
    from gpt_rag_ingestion_spark.operators.shards import assign_shards

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    return assign_shards(
        docs,
        "n_chars",
        [F.asc("doc_id")],
        target_tokens=50_000,
        bucket_expr=(F.col("doc_id") / 256).cast("long"),
    )


def q95_hamming_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup family #7 — banded Hamming search over SimHash (the
    perceptual-hash dedup shape): pigeonhole-complete band blocking
    finds every pair within distance 3 without an all-pairs scan;
    popcount(xor) verifies candidates.  Compact integer-key joins
    only."""
    from gpt_rag_ingestion_spark.operators.dedup import hamming_neardup_pairs

    docs = _t(spark, sf, "documents")
    return hamming_neardup_pairs(docs, bits=16, bands=4, max_distance=3)


def q96_cluster_keeper(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup deletion decision: within each near-dup cluster keep the
    LONGEST document (tie -> smallest id) — the keep-best policy real
    pipelines apply after clustering (vs q63's min-id canonical).  One
    window over the cluster relation."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_candidates,
    )

    docs = _t(spark, sf, "documents")
    pairs = minhash_lsh_candidates(
        docs, "text", "doc_id", n=3, num_hashes=16, bands=8,
        hash_fn="sha256uh"
    )
    clusters = duplicate_clusters(pairs, nodes=docs, id_col="doc_id")
    joined = clusters.join(docs.select("doc_id", "n_chars"), on="doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        joined.withColumn(
            "keeper_id", F.first("doc_id").over(w)
        )
        .select(
            "doc_id",
            "cluster_id",
            "n_chars",
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
        )
    )


def q97_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """The stream-stream interval join's plan run in batch (the
    ad-attribution shape): each click joins impressions of the same
    user at most 10 minutes earlier.  Equality on user key keeps it a
    hash/sort-merge join with the time bound as residual — never a
    nested loop; the same function runs under Structured Streaming
    with watermark-bounded state (test-pinned batch equivalence)."""
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        interval_join_streams,
    )

    ev = _t(spark, sf, "events")
    imps = ev.filter(F.col("event_type") == "view")
    clicks = ev.filter(F.col("event_type") == "click")
    return interval_join_streams(clicks, imps, max_delay_minutes=240)


def q98_quality_percentile_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Curation: per-source dynamic quality threshold — keep the top
    70 % of documents per source by a quality signal (chars per token,
    integer cross-multiplied to stay float-free), via cume_dist over
    each source partition.  The 'top X% per domain' gate real corpus
    builds apply instead of a global constant."""
    docs = _t(spark, sf, "documents")
    # integer div on both engines — double-cast would round in DuckDB
    # and truncate in Spark
    scored = docs.select(
        "doc_id",
        "source",
        F.expr(
            "n_chars * 1000L div greatest("
            "CAST(size(split(trim(text), '\\\\s+')) AS BIGINT), 1L)"
        ).alias("quality_q"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_q"), F.asc("doc_id")
    )
    return (
        scored.withColumn(
            "q_rank", F.cume_dist().over(w)
        )
        .withColumn("kept", F.col("q_rank") <= 0.7)
        .select("doc_id", "source", "quality_q", "kept")
    )


def q99_rolling_hour_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Ops telemetry: per event, how many events the same user fired in
    the trailing hour — a RANGE interval window over integer
    microseconds (engine-portable framing of time-range windows)."""
    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("events_last_hour"),
    )


def q100_histogram_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Sketches #3: mergeable histogram quantiles — per-event-type
    p50/p95 of value from 128 fixed bins over [0, 500).  Bin counts
    are the mergeable state (cell-wise addition), estimates are exact
    integer arithmetic on the grid, so the sketch reproduces
    bit-identically in any engine (unlike t-digest)."""
    from gpt_rag_ingestion_spark.operators.sketches import histogram_quantiles

    ev = _t(spark, sf, "events")
    return histogram_quantiles(
        ev, "value", "event_type", quantiles=(0.5, 0.95), bins=128,
        lo=0.0, hi=500.0,
    )


def q101_corpus_health(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-health report — per-source: doc count, exact-dup
    count (docs beyond the first of each md5(text) group), mean chars
    (decimal-exact), and exact nearest-rank median chars.  One
    digest-count join + one grouped aggregate; the pre-training
    dashboard in a single relation."""
    docs = _t(spark, sf, "documents")
    d = docs.withColumn("digest", F.md5("text"))
    w = Window.partitionBy("digest").orderBy("doc_id")
    flagged = d.withColumn(
        "is_dup", F.row_number().over(w) > 1
    )
    med = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    cnt = Window.partitionBy("source")
    ranked = flagged.withColumn("rn", F.row_number().over(med)).withColumn(
        "n_src", F.count(F.lit(1)).over(cnt)
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_dup").cast("long")).alias("n_exact_dups"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(18,4)"))
            / F.count(F.lit(1)),
            2,
        ).cast("double").alias("mean_chars"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(n_src + 1) div 2"), F.col("n_chars")
            )
        ).alias("median_chars"),
    )


def q102_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup family #8 — incremental cross-corpus dedup, the PRODUCTION
    ingestion shape: an incoming batch is classified against the
    existing corpus (exact vs base, exact within batch, near-dup vs
    base, new) without re-deduplicating the corpus against itself.
    Base = docs with id % 3 != 0; the batch is the rest, with some
    texts swapped to synthesize each decision class."""
    from gpt_rag_ingestion_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    src_id = (
        F.when(F.col("doc_id") % 9 == 0, F.col("doc_id") + 1)
        .when(F.col("doc_id") % 9 == 6, F.col("doc_id") - 3)
        .otherwise(F.col("doc_id"))
    )
    incr = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", src_id.alias("src_id"))
        .join(
            docs.select(F.col("doc_id").alias("src_id"), "text"), "src_id"
        )
        .select("doc_id", "text")
    )
    return incremental_dedup(base, incr, threshold=0.1)


def q103_epoch_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus mixing #2 — fractional-epoch upsampling: per-source
    weights in [1.25, 2.25] epochs expand each document to floor(w)
    copies plus a deterministic hash-chosen frac(w) share getting one
    more.  Narrow map + explode(sequence) — shuffle-free."""
    from gpt_rag_ingestion_spark.operators.sampling import epoch_expand

    docs = _t(spark, sf, "documents")
    w_q = (
        F.lit(12500)
        + (F.conv(F.substring(F.md5("source"), 1, 2), 16, 10).cast("long") % 3)
        * 5000
    )
    out = epoch_expand(docs.select("doc_id", "source"), w_q)
    return out.select("doc_id", "source", "copy_idx")


def q104_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance: a per-status rollup of orders is
    maintained through a merge increment (keys % 10 == 0 change status
    to 'U' and price by +1 cent) as old + agg(added) - agg(removed) —
    O(increment), never rescanning the table.  The oracle RECOMPUTES
    the rollup from the merged table; hash-equality proves the
    maintenance identity."""
    from gpt_rag_ingestion_spark.operators.incremental import maintain_rollup

    orders = _t(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = orders.select("o_orderkey", "o_orderstatus", cents.alias("cents"))
    old_rollup = rows.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("cents")
    )
    removed = rows.filter(F.col("o_orderkey") % 10 == 0)
    added = removed.select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("cents") + 1).alias("cents"),
    )
    return maintain_rollup(
        old_rollup, removed, added, key="o_orderstatus", sum_cols=["cents"]
    )


def q105_nfc_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode NFC canonicalization before hashing/dedup: decomposed
    sequences (e + U+0301) are synthesized onto each document and
    normalized by the Arrow-batched UDF; the oracle is DuckDB's
    nfc_normalize.  Digesting the normalized text is what makes
    exact-dedup see visually-identical strings as equal."""
    from gpt_rag_ingestion_spark.functions.text import nfc_normalize_udf

    docs = _t(spark, sf, "documents")
    raw = F.concat(
        F.substring("text", 1, 60), F.lit(" café étude")
    )
    d = docs.select("doc_id", raw.alias("raw"))
    norm = nfc_normalize_udf(F.col("raw"))
    return d.select(
        "doc_id",
        F.length("raw").cast("long").alias("len_raw"),
        F.length(norm).cast("long").alias("len_nfc"),
        F.md5(norm).alias("nfc_md5"),
    )


def q106_url_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization (web-corpus keying): lowercase scheme+host,
    strip default port, drop fragment + tracking params, extract
    host/registered domain — pure codegen regex in the Java∩RE2 subset
    so the oracle runs the identical chain."""
    from gpt_rag_ingestion_spark.functions.urls import (
        canonical_url,
        url_domain,
        url_host,
    )

    docs = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".Example.COM:443/Path/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&id="),
        F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=news#frag"),
    )
    d = docs.select("doc_id", url.alias("url"))
    return d.select(
        "doc_id",
        canonical_url(F.col("url")).alias("canonical"),
        url_host(F.col("url")).alias("host"),
        url_domain(F.col("url")).alias("domain"),
    )


def q107_bpe_segment(spark: SparkSession, sf: str) -> DataFrame:
    """BPE applied: segment the corpus with merges trained by
    q93/bpe_train — the encode half of the tokenizer lifecycle.  The
    merge list is vocabulary-sized driver data (the ONLY driver
    traffic); segmentation itself is a pure codegen fold, no UDF.
    Oracle-backed since r9: _bpe_segment_sql unrolls the 8 training
    iterations and reads each word's encoding off the final vocab
    state (applying the rank-ordered merge list to a char split IS
    the training fold), reassembling per-doc sequences by word
    position."""
    from gpt_rag_ingestion_spark.operators.bpe import bpe_segment, bpe_train

    docs = _t(spark, sf, "documents")
    merges_df = bpe_train(docs, num_merges=8)
    merges = [
        (r["left"], r["right"]) for r in merges_df.orderBy("rank").collect()
    ]
    seg = bpe_segment(docs, merges)
    return seg.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.array_join(F.slice("tokens", 1, 20), "|").alias("head_tokens"),
    )


def q108_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Link-graph centrality (the Common Crawl quality prior) as
    quantized power iteration: 5 rounds, each ONE ranks⋈edges join +
    one dst aggregation, all integer div arithmetic — the unrolled SQL
    oracle reproduces the full iterative run bit-for-bit.  Synthetic
    2-out-degree graph over doc ids."""
    from gpt_rag_ingestion_spark.operators.linkgraph import pagerank_quantized

    docs = _t(spark, sf, "documents").select("doc_id")
    mx = docs.agg((F.max("doc_id") + 1).alias("_m"))
    with_m = docs.crossJoin(F.broadcast(mx))
    t1 = with_m.selectExpr("doc_id AS src", "(doc_id * 7 + 3) % _m AS dst")
    t2 = with_m.selectExpr("doc_id AS src", "(doc_id * 13 + 5) % _m AS dst")
    edges = t1.unionByName(t2).join(
        docs.select(F.col("doc_id").alias("dst")), "dst", "left_semi"
    )
    return pagerank_quantized(docs, edges, id_col="doc_id", iters=5)


def q109_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Table-version audit: full-outer digest diff between two
    snapshots of orders (removals at key%13, in-place changes at
    key%7, additions at key%11 re-keyed) — the shuffled payload is
    (key, md5) regardless of row width."""
    from gpt_rag_ingestion_spark.operators.diff import snapshot_diff

    orders = _t(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = orders.select("o_orderkey", "o_orderstatus", cents.alias("cents"))
    kept = rows.filter(F.col("o_orderkey") % 13 != 0)
    modified = kept.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("U"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 7 == 0, F.col("cents") + 5)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    added = rows.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("cents"),
    )
    new = modified.unionByName(added)
    return snapshot_diff(rows, new, key="o_orderkey")


def q110_web_admission(spark: SparkSession, sf: str) -> DataFrame:
    """The composed WEB-corpus admission funnel: URL → registered
    domain (functions/urls.py) → domain blocklist → min-length quality
    gate → deterministic per-domain cap (8, hash order) — every
    document gets an auditable disposition.  The web twin of the q75
    curation funnel, keyed by crawl domain instead of source tag.

    The cap rank comes from operators/ranking.per_key_capped_rank —
    the skew-immune two-phase guard (count-gate + md5-prefix-bucket
    window) that replaced the raw per-domain window in round 4; the
    ranks, and therefore the oracle hash, are identical by
    construction (the oracle SQL keeps the raw window)."""
    from gpt_rag_ingestion_spark.functions.urls import url_domain
    from gpt_rag_ingestion_spark.operators.ranking import per_key_capped_rank

    docs = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://www.d"),
        (F.col("doc_id") % 15).cast("string"),
        F.lit(".org/p/"),
        F.col("doc_id").cast("string"),
    )
    d = docs.select(
        "doc_id", "n_chars", url_domain(url).alias("domain")
    )
    blocked = spark.createDataFrame(
        [("d0.org",), ("d7.org",)], "domain string"
    ).withColumn("_b", F.lit(True))
    d = d.join(F.broadcast(blocked), on="domain", how="left")
    ok_domain = F.col("_b").isNull()
    ok_quality = F.col("n_chars") >= 200
    surv = per_key_capped_rank(
        d.filter(ok_domain & ok_quality).select("doc_id", "domain"),
        key_col="domain",
        id_col="doc_id",
        cap=8,
        rank_col="rank",
    )
    d = d.join(surv, on="doc_id", how="left")
    disposition = (
        F.when(~ok_domain, F.lit("blocked_domain"))
        .when(~ok_quality, F.lit("low_quality"))
        # a missing rank = under-cap domain, never ranked: keep
        .when(F.col("rank").isNull() | (F.col("rank") <= 8), F.lit("keep"))
        .otherwise(F.lit("over_cap"))
    )
    return d.select("doc_id", "domain", disposition.alias("disposition"))


def q111_vocab_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Dictionary encoding for the dataloader: build a frequency-ranked
    token→id vocabulary over the corpus (min_freq=3 so OOVs exist) and
    rewrite every document as an id sequence.  Vocab ranks come from
    the distributed row_number (no unpartitioned window); encoding is
    one broadcast join + ordered reassembly."""
    from gpt_rag_ingestion_spark.operators.vocab import (
        build_vocab,
        encode_with_vocab,
    )

    docs = _t(spark, sf, "documents")
    vocab = build_vocab(docs, min_freq=3)
    enc = encode_with_vocab(docs, vocab)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.array_join(F.slice("ids", 1, 20), "|").alias("head_ids"),
    )


def q112_table_stats(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-style per-column statistics of orders in ONE pass
    (count/ndv/min/max share the scan, stack unpivots driver-free) —
    what a cost-based optimizer or data catalog ingests."""
    from gpt_rag_ingestion_spark.operators.profiling import column_stats

    orders = _t(spark, sf, "orders")
    return column_stats(
        orders,
        ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"],
    )


def q113_kmv_set_algebra(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch SET ALGEBRA: |A∪B| and |A∩B| of per-source token
    vocabularies for every source pair, estimated from merged KMV
    synopses alone (k=64) — after one distinct pass, all work runs on
    k-row synopses, never a corpus-sized set join.  Deterministic
    md5 hashing makes the estimates oracle-checkable."""
    from gpt_rag_ingestion_spark.operators.sketches import kmv_set_algebra

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", "\\s+")).alias("token")
    ).filter(F.col("token") != "")
    return kmv_set_algebra(toks, "source", "token", k=64)


def q114_token_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-context blockization: the corpus laid out as one stream
    (doc_id order, n_chars as the length) and cut into exact 4096-unit
    blocks, documents split across boundaries — the pre-training
    dataloader layout (block N = stream slice [N·B, (N+1)·B)).
    Single-exchange prefix sum + narrow span explode."""
    from gpt_rag_ingestion_spark.operators.packing import token_blocks

    docs = _t(spark, sf, "documents")
    return token_blocks(
        docs,
        tokens_col="n_chars",
        order=[F.asc("doc_id")],
        block_tokens=4096,
        bucket_expr=(F.col("doc_id") / 256).cast("long"),
    )


def q115_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer⋈orders⋈lineitem,
    per-order revenue (decimal-exact), global top-10 by revenue via
    TakeOrdered — the classic shipping-priority report with a total
    tie-break order."""
    from gpt_rag_ingestion_spark.operators.ranking import global_top_k

    cust = _t(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    return global_top_k(
        joined,
        [F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey")],
        10,
        rank_col="rank",
    )


def q116_returned_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer in a
    quarter — returnflag-filtered lineitem ⋈ quarter orders ⋈ customer
    ⋈ broadcast nation, decimal-exact revenue, global top-20."""
    from gpt_rag_ingestion_spark.operators.ranking import global_top_k

    cust = _t(spark, sf, "customer")
    nation = F.broadcast(_t(spark, sf, "nation"))
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    return global_top_k(
        joined, [F.desc("revenue"), F.asc("c_custkey")], 20, rank_col="rank"
    )


def q117_order_count_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: the customer-distribution report — LEFT join
    customers to their non-urgent orders, per-customer counts, then
    the histogram of those counts (customers with 0 orders included)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def q118_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 build: the per-user event-type change stream
    collapsed into validity intervals (run compression + lead close,
    one shuffle on the key) — "state at time T" becomes one range
    predicate, the warehouse twin of the reference's runHistory."""
    from gpt_rag_ingestion_spark.operators.incremental import scd2_intervals

    ev = _t(spark, sf, "events")
    return scd2_intervals(
        ev, key="user_id", ts="ts", value_cols=["event_type"],
        tiebreak=["event_id"],
    )


def q119_event_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """A3 pivot form: per-user event counts pivoted to one column per
    event type (explicit value list — no discovery pass, deterministic
    column order), nulls zero-filled.  One shuffle; the wide-format
    dashboard matrix."""
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


def q120_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus linguistics: top-20 adjacent-word collocations by
    quantized lift (same ordering as PMI, zero logarithms — exact
    integer score).  Narrow zip pass for bigrams, broadcast unigram
    joins, TakeOrdered."""
    from gpt_rag_ingestion_spark.operators.text_analysis import collocations

    docs = _t(spark, sf, "documents")
    return collocations(docs, min_count=5, k=20)


def q121_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Graph analytics #2: exact triangle count of the synthetic doc
    link graph (same graph as q108) — canonical a<b<c enumeration via
    two hash equi-joins, no nested loop."""
    from gpt_rag_ingestion_spark.operators.linkgraph import triangle_count

    docs = _t(spark, sf, "documents").select("doc_id")
    mx = docs.agg((F.max("doc_id") + 1).alias("_m"))
    with_m = docs.crossJoin(F.broadcast(mx))
    t1 = with_m.selectExpr("doc_id AS src", "(doc_id * 7 + 3) % _m AS dst")
    t2 = with_m.selectExpr("doc_id AS src", "(doc_id * 13 + 5) % _m AS dst")
    edges = t1.unionByName(t2).join(
        docs.select(F.col("doc_id").alias("dst")), "dst", "left_semi"
    )
    return triangle_count(edges)


def q122_temporal_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Effective-dated dimension lookup: facts (odd events) joined to
    the SCD2 state intervals built from the change stream (even
    events) — state AT the fact's timestamp via an equi-join on the
    key with the interval bound as a residual predicate (never a
    nested loop).  The q118 ∘ q87 warehouse composition."""
    from gpt_rag_ingestion_spark.operators.incremental import scd2_intervals

    ev = _t(spark, sf, "events")
    changes = ev.filter(F.col("event_id") % 2 == 0)
    facts = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts"
    )
    iv = scd2_intervals(
        changes, key="user_id", ts="ts", value_cols=["event_type"],
        tiebreak=["event_id"],
    ).withColumnRenamed("event_type", "state")
    joined = facts.join(
        iv,
        (facts.user_id == iv.user_id)
        & (iv.valid_from <= facts.ts)
        & (iv.valid_to.isNull() | (facts.ts < iv.valid_to)),
        "left",
    )
    return joined.select(
        "event_id",
        facts.user_id.alias("user_id"),
        "state",
        "valid_from",
    )


def q123_grouped_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical aggregate done scale-right: per-returnflag Pearson
    correlation of quantity vs extendedprice from ONE pass of exact
    integer partial sums (mergeable across shards), closed-form ratio
    on the per-group rows — oracle-checkable to 6 decimals."""
    from gpt_rag_ingestion_spark.operators.profiling import (
        grouped_correlation,
    )

    li = _t(spark, sf, "lineitem")
    # y at dollar scale: Σy² must clear 2^63 with orders of magnitude
    # to spare at any SF (price ≤ 1e5 → y² ≤ 1e10 per row)
    return grouped_correlation(
        li, "l_returnflag", "l_quantity", "l_extendedprice",
        x_scale=100, y_scale=1,
    )


def q124_grouped_mode(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-source mode token (highest count, smallest token on
    ties) — two compact-key aggregations + a struct-ordered min, never
    a per-group sort; the categorical twin of exact median."""
    from gpt_rag_ingestion_spark.operators.profiling import grouped_mode

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), "\\s+")).alias("token")
    ).filter(F.col("token") != "")
    return grouped_mode(toks, "source", "token")


def q125_fuzzy_linkage(spark: SparkSession, sf: str) -> DataFrame:
    """Record linkage: customers matched against a corrupted mirror
    (3rd char dropped) by Levenshtein ≤ 2, candidates from the
    deletion-neighborhood equi-join (shared ≤2-deletion variant +
    same prefix — exact superset of the verified pairs) — the
    all-pairs comparison never appears in the plan, and the candidate
    set is output-proportional even though every customer name shares
    one blocking prefix."""
    from gpt_rag_ingestion_spark.operators.linkage import fuzzy_join

    cust = _t(spark, sf, "customer")
    clean = cust.select(
        F.col("c_custkey").alias("clean_key"), F.col("c_name").alias("name")
    )
    dirty = cust.select(
        (F.col("c_custkey") + 1000000).alias("dirty_key"),
        F.concat(
            F.substring("c_name", 1, 2), F.substring("c_name", 4, 1000)
        ).alias("name"),
    )
    return fuzzy_join(
        clean, dirty, "clean_key", "dirty_key", max_distance=2
    )


def q126_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Outlier clipping: per-event-type winsorization to the exact
    nearest-rank p05/p95 (integer rank arithmetic, total tie-break) —
    the numeric-cleaning step before any mean-based quality feature.
    One window pass for ranks, per-type clip bounds via conditional
    max, broadcast join + clamp."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    cnt = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(cnt)
    )
    k05 = F.expr("(5 * n + 99) div 100")
    k95 = F.expr("(95 * n + 99) div 100")
    bounds = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == k05, F.col("value"))).alias("p05"),
        F.max(F.when(F.col("rn") == k95, F.col("value"))).alias("p95"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
            .alias("value_clipped"),
        )
    )


def q127_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-spine gap filling: hourly event counts with explicit ZERO
    rows for silent hours — the spine generated relationally
    (sequence over the observed min..max hour) and left-joined to the
    aggregated counts.  Dashboards and anomaly detectors need the
    zeros; a plain groupBy silently omits them."""
    ev = _t(spark, sf, "events")
    hours = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    ).select(
        F.explode(
            F.expr("sequence(mn, mx, interval 1 hour)")
        ).alias("hour_ts")
    )
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    return hours.join(counts, "hour_ts", "left").select(
        "hour_ts", F.coalesce("n", F.lit(0)).alias("n_events")
    )


def q128_acl_visibility(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level security over the reference's ACL model
    (metadata_security_user_ids/group_ids, empty = public): the
    documents visible to principal u7 ∈ {g3, g11}, with the winning
    rule — user grant > group grant > public.  Pure array algebra
    (array_contains / arrays_overlap) pushed next to the scan."""
    cust = _t(spark, sf, "customer")
    user_ids = F.when(
        F.col("c_custkey") % 3 != 0,
        F.array(F.concat(F.lit("u"), (F.col("c_custkey") % 50).cast("string"))),
    ).otherwise(F.array().cast("array<string>"))
    group_ids = F.when(
        F.col("c_custkey") % 2 == 0,
        F.array(F.concat(F.lit("g"), F.col("c_nationkey").cast("string"))),
    ).otherwise(F.array().cast("array<string>"))
    d = cust.select("c_custkey", user_ids.alias("u"), group_ids.alias("g"))
    principal_groups = F.array(F.lit("g3"), F.lit("g11"))
    reason = (
        F.when(F.array_contains("u", "u7"), F.lit("user"))
        .when(F.arrays_overlap("g", principal_groups), F.lit("group"))
        .when((F.size("u") == 0) & (F.size("g") == 0), F.lit("public"))
    )
    return (
        d.withColumn("reason", reason)
        .filter(F.col("reason").isNotNull())
        .select("c_custkey", "reason")
    )


def q129_join_size_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Planner statistics: |orders ⋈ lineitem| estimated from two
    count-min synopses via the AMS/CMS inner product (min over depth
    rows of Σ cellA·cellB) — the broadcast-vs-shuffle decision input,
    costing sketch-sized work regardless of table size.  Exact join
    count rides along for calibration."""
    from gpt_rag_ingestion_spark.operators.sketches import cms_join_size

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return cms_join_size(orders, li, "o_orderkey", "l_orderkey")


def q130_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel per session: within each 30-min-gap
    session (q35's islands), did view → click → purchase happen IN
    ORDER?  Conditional-min timestamps per step + ordering predicates;
    one window pass + one aggregation."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(
        prev.isNull() | (F.unix_micros(F.col("ts")) - prev > gap_us), 1
    ).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = ev.withColumn("session_seq", F.sum(new_sess).over(wrun))

    def step_ts(step):
        return F.min(
            F.when(F.col("event_type") == step, F.unix_micros(F.col("ts")))
        )

    agg = sess.groupBy("user_id", "session_seq").agg(
        step_ts("view").alias("t_view"),
        step_ts("click").alias("t_click"),
        step_ts("purchase").alias("t_buy"),
    )
    reached_click = F.col("t_view").isNotNull() & (
        F.col("t_click") > F.col("t_view")
    )
    reached_buy = reached_click & (F.col("t_buy") > F.col("t_click"))
    return agg.select(
        "user_id",
        "session_seq",
        F.col("t_view").isNotNull().alias("s1_view"),
        F.coalesce(reached_click, F.lit(False)).alias("s2_click"),
        F.coalesce(reached_buy, F.lit(False)).alias("s3_purchase"),
    )


def q131_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Retention cohort grid: users grouped by first-active day, then
    distinct active users per (cohort_day, days_since) — the
    engagement report every analytics store ships.  One min-per-user
    aggregation broadcast back + one distinct count."""
    ev = _t(spark, sf, "events")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    joined = ev.join(F.broadcast(first), "user_id")
    days_since = F.datediff(F.to_date(F.col("ts")), F.col("cohort_day"))
    return (
        joined.groupBy(
            F.col("cohort_day"), days_since.alias("days_since")
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def q132_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier detection: per-event-type median and MAD (median
    absolute deviation) by exact nearest-rank over cent-quantized
    values, flag |x − med| > 3·MAD — the robust-statistics cleaner that
    survives the heavy tails winsorization (q126) only clips.  Two
    window passes on the same key, everything integer."""
    ev = _t(spark, sf, "events")
    v = F.round(F.col("value") * 100).cast("long")
    d = ev.select("event_id", "event_type", v.alias("v"))
    w = Window.partitionBy("event_type").orderBy("v", "event_id")
    cnt = Window.partitionBy("event_type")
    r1 = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(cnt)
    )
    med = r1.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("v"))
        ).alias("med")
    )
    dd = d.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("v") - F.col("med"))
    )
    w2 = Window.partitionBy("event_type").orderBy("ad", "event_id")
    r2 = dd.withColumn("rn", F.row_number().over(w2)).withColumn(
        "n", F.count(F.lit(1)).over(cnt)
    )
    mad = r2.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("ad"))
        ).alias("mad")
    )
    out = dd.join(F.broadcast(mad), "event_type")
    return out.select(
        "event_id",
        "event_type",
        (F.col("ad") > 3 * F.col("mad")).alias("is_outlier"),
    )


def q133_strip_accents(spark: SparkSession, sf: str) -> DataFrame:
    """Search/matching normalization: diacritic stripping via NFD +
    combining-mark removal (Arrow-batched UDF; oracle: DuckDB
    strip_accents) on synthesized accented text — the companion of NFC
    canonicalization (q105) on the lossy side of the fold."""
    from gpt_rag_ingestion_spark.functions.text import strip_accents_udf

    docs = _t(spark, sf, "documents")
    raw = F.concat(
        F.substring("text", 1, 40), F.lit(" café naïve façade Zürich")
    )
    d = docs.select("doc_id", raw.alias("raw"))
    stripped = strip_accents_udf(F.col("raw"))
    return d.select(
        "doc_id",
        stripped.alias("stripped"),
        (stripped == F.col("raw")).alias("unchanged"),
    )


def q134_revenue_share(spark: SparkSession, sf: str) -> DataFrame:
    """Share-of-total reporting (ratio_to_report): each nation's
    revenue share within its region — integer-cent sums, window total
    per region, share rounded to 6 — the BI percent-of-parent pattern
    with exact arithmetic."""
    nation = F.broadcast(_t(spark, sf, "nation"))
    region = F.broadcast(_t(spark, sf, "region"))
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        "cents",
        F.round(
            F.col("cents") / F.sum("cents").over(w), 6
        ).alias("share"),
    )


def q135_cumulative_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cumulative distinct users per day — the first-occurrence
    flag (min ts per user) + a running sum over the daily new-user
    counts; never a distinct-inside-window, which engines either
    reject or recompute per row."""
    ev = _t(spark, sf, "events")
    first_day = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("day")
    )
    daily_new = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


def q136_latest_per_key(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-latest record per key — the ETL compaction primitive
    (dedupe a CDC feed to current state): struct-ordered max by
    (ts, event_id) with NO window sort, one aggregation."""
    ev = _t(spark, sf, "events")
    packed = F.struct(
        F.col("ts").alias("t"),
        F.col("event_id").alias("e"),
        F.col("event_type").alias("ty"),
        F.col("value").alias("v"),
    )
    return (
        ev.groupBy("user_id")
        .agg(F.max(packed).alias("m"))
        .select(
            "user_id",
            F.col("m.e").alias("last_event_id"),
            F.col("m.ty").alias("last_type"),
            F.col("m.t").alias("last_ts"),
        )
    )


def q137_dwell_times(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-event dwell time per user: lag deltas in integer
    microseconds, per-user count/mean (integer div) / max — the
    engagement-telemetry report; one key-partitioned window + one
    aggregation."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    gaps = ev.withColumn("gap_us", gap).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("sum(gap_us) div count(1)").alias("mean_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


def q138_embedding_dim_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension embedding statistics (the normalization /
    whitening input for the ANN family): posexplode to (dim, q-value)
    with 1e3 quantization, exact integer sums -> mean and variance in
    1e-6 units — mergeable across shards like every stats pass here."""
    emb = _t(spark, sf, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("long"),
    )
    d = emb.select(F.posexplode(q).alias("dim", "v"))
    return d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(v) div count(1)").alias("mean_q"),
        F.expr(
            "(sum(v * v) - (sum(v) * sum(v)) div count(1)) div count(1)"
        ).alias("var_q"),
    )


def q139_media_fingerprint_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal dedup: banded Hamming search over 48-bit MEDIA
    fingerprints (perceptual-hash stand-ins synthesized so every
    group of 4 media ids shares a base hash with 0/1/2/8 flipped
    bits) — the image/audio twin of q95, same pigeonhole-complete
    plan via hamming_pairs_from_fingerprints.  d ≤ 3 keeps the
    0/1/2-bit variants and rejects the 8-bit one."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        hamming_pairs_from_fingerprints,
    )

    docs = _t(spark, sf, "documents").select("doc_id")
    with_base = docs.select(
        F.col("doc_id").alias("media_id"),
        F.conv(
            F.substring(
                F.md5((F.col("doc_id") / 4).cast("long").cast("string")), 1, 12
            ),
            16, 10,
        ).cast("long").alias("base"),
    )
    media = with_base.selectExpr(
        "media_id",
        """CASE media_id % 4
             WHEN 0 THEN base
             WHEN 1 THEN base ^ (shiftleft(CAST(1 AS BIGINT),
                                 CAST(media_id % 37 AS INT)))
             WHEN 2 THEN base ^ (shiftleft(CAST(1 AS BIGINT),
                                 CAST(media_id % 29 AS INT)))
                              ^ (shiftleft(CAST(1 AS BIGINT),
                                 CAST((media_id + 13) % 41 AS INT)))
             ELSE base ^ CAST(255 AS BIGINT) END AS fp""",
    )
    return hamming_pairs_from_fingerprints(
        media, "fp", "media_id", bits=48, bands=6, max_distance=3
    )


def q140_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew #3 — the salted JOIN as an oracle-backed query (q62 proved
    the salted AGG): events (5 hot event_type keys) joined to a small
    dimension through (key, salt) so each hot key spreads over 8
    reducers; the oracle IS the plain unsalted join, so hash equality
    proves semantics preservation."""
    from gpt_rag_ingestion_spark.operators.skew import salted_join

    ev = _t(spark, sf, "events")
    dim = spark.createDataFrame(
        [
            ("view", 1), ("click", 3), ("purchase", 10),
            ("signup", 5), ("error", 0),
        ],
        "event_type string, weight int",
    )
    out = salted_join(
        ev.select("event_id", "event_type", "user_id"), dim, "event_type"
    )
    return out.select(
        "event_id", "event_type", "user_id", "weight"
    )


def q142_read_access(spark: SparkSession, sf: str) -> DataFrame:
    """Drive-item permission grants → reader ACLs (reference
    tools/sharepoint.py:464-476 via functions/acl.read_access_entities):
    per customer, three synthetic grants — a read grant with the
    user key + a shared id, an owner grant (dropped: no read/write),
    and a write grant that is UNRESOLVABLE (null ids) for every third
    customer and otherwise carries the nation group + the shared id
    again (deduped, order preserved).  Pure array algebra; the ordered
    first-occurrence dedup IS the semantics under test.  The result is
    serialized with array_join (the q41 convention) because the driver
    canonicalizer requires scalar-only top-level columns."""
    from gpt_rag_ingestion_spark.functions.acl import read_access_entities

    cust = _t(spark, sf, "customer")
    ukey = F.concat(F.lit("u"), (F.col("c_custkey") % 50).cast("string"))
    gkey = F.concat(F.lit("g"), F.col("c_nationkey").cast("string"))
    grant3 = F.when(
        F.col("c_custkey") % 3 == 0,
        F.struct(
            F.array(F.lit("write")).alias("roles"),
            F.lit(None).cast("array<string>").alias("user_ids"),
        ),
    ).otherwise(
        F.struct(
            F.array(F.lit("write")).alias("roles"),
            F.array(gkey, F.lit("u-shared")).alias("user_ids"),
        )
    )
    perms = F.array(
        F.struct(
            F.array(F.lit("read")).alias("roles"),
            F.array(ukey, F.lit("u-shared")).alias("user_ids"),
        ),
        F.struct(
            F.array(F.lit("owner")).alias("roles"),
            F.array(F.lit("u-owner")).alias("user_ids"),
        ),
        grant3,
    )
    return cust.select(
        "c_custkey",
        F.array_join(read_access_entities(perms), ",").alias("readers"),
    )


def q143_blocklist_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """P3 end-to-end through the driver gate: events become per-file
    attempt rows (error -> failed), ``blocked_files`` derives the
    consecutive-failure blocklist, ``unblock_files`` clears the
    even-numbered files (admin action, reference api/admin.py:364),
    and the blocklist is re-derived — the oracle is the closed-form
    relational statement of the whole lifecycle, so both the blocking
    predicate AND the append-only unblock semantics are hash-checked."""
    from gpt_rag_ingestion_spark.operators.ops_log import (
        blocked_files,
        unblock_files,
    )

    ev = _t(spark, sf, "events")
    attempts = ev.select(
        F.concat(F.lit("f"), (F.col("user_id") % 200).cast("string")).alias(
            "file_key"
        ),
        F.col("ts").alias("attempt_ts"),
        F.when(F.col("event_type") == "error", F.lit("failed"))
        .otherwise(F.lit("success"))
        .alias("status"),
    )
    even = (
        attempts.select("file_key")
        .distinct()
        .filter(F.expr("CAST(substr(file_key, 2) AS INT) % 2 = 0"))
    )
    after = unblock_files(attempts, even)
    # threshold 1 (any failure since the last success blocks) so the
    # lifecycle produces a non-trivial set at every SF
    return blocked_files(after, max_attempts=1).select(
        "file_key", F.col("consecutive_failures").cast("long").alias(
            "consecutive_failures"
        )
    )


def q141_dedup_planner(spark: SparkSession, sf: str) -> DataFrame:
    """Cost-based physical-strategy choice for near-dup dedup (SURVEY.md
    §7's "strategy choosing brute-force vs LSH join"): the exact second
    moment of the shingle frequency distribution — Σ c*(c-1)/2 = the
    row count the exact pair join would materialize — plus the
    deterministic exact-vs-LSH decision derived from it.  One shuffle
    on 8-byte shingle hashes, strictly cheaper than the join it
    predicts; the decision predicate is plain arithmetic, so the
    PLANNER ITSELF is oracle-checked."""
    from gpt_rag_ingestion_spark.operators.dedup import choose_dedup_strategy

    docs = _t(spark, sf, "documents")
    return choose_dedup_strategy(
        docs, "text", "doc_id", n=3, pairs_per_doc_budget=64
    )


def q144_giant_doc_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Giant-document path END-TO-END (reference
    doc_analysis_chunker.py:128-276 + utils/file_utils.py:122-138):
    synthesize a 4-page markdown per document (12-word pages joined by
    paragraph-separated PageBreak markers — page boundaries align with
    chunk boundaries, the regime where the reference's 300-page part
    split is content-preserving), run the part-split pipeline
    (split -> chunk parts with absolute pages -> renumber) AND the
    unsplit chunker, and return the per-document equality evidence.

    The oracle states the invariant in closed form: every document
    splits into exactly 2 parts and the part-split chunks equal the
    whole-document chunks in content, page attribution, and chunk-id
    numbering — so the Spark-side equivalence proof is HASH-CHECKED,
    not just row-counted."""
    from gpt_rag_ingestion_spark.chunking.doc_analysis import (
        PAGEBREAK_RAW,
        chunk_analyzed_documents,
        chunk_giant_documents,
        split_document_parts,
    )

    docs = _t(spark, sf, "documents")
    words = F.split(F.col("text"), r"\s+")
    docs = docs.filter(F.size(words) >= 48)
    md = F.concat_ws(
        f"\n\n{PAGEBREAK_RAW}\n\n",
        *[F.array_join(F.slice(words, 1 + i * 12, 12), " ") for i in range(4)],
    )
    src = docs.select("doc_id", md.alias("markdown"))
    kw = dict(max_tokens=16, overlap=0, min_tokens=2)
    whole = chunk_analyzed_documents(src, spread_by="doc_id", **kw).select(
        "doc_id", "chunk_id", "page", "content"
    )
    split = chunk_giant_documents(
        src, doc_key_col="doc_id", max_pages_per_part=2, **kw
    ).select(
        "doc_id",
        "chunk_id",
        F.col("page").alias("page_s"),
        F.col("content").alias("content_s"),
    )
    n_parts = (
        split_document_parts(src, doc_key_col="doc_id", max_pages_per_part=2)
        .groupBy("doc_id")
        .agg((F.max("part_idx") + 1).cast("int").alias("n_parts"))
    )
    j = whole.join(split, ["doc_id", "chunk_id"], "full_outer")
    per_doc = j.groupBy("doc_id").agg(
        F.min(F.col("content").eqNullSafe(F.col("content_s"))).alias(
            "content_match"
        ),
        F.min(F.col("page").eqNullSafe(F.col("page_s"))).alias("pages_match"),
        (F.max("chunk_id") + 1 == F.count(F.lit(1))).alias("ids_contiguous"),
    )
    return per_doc.join(n_parts, on="doc_id").select(
        "doc_id", "n_parts", "content_match", "pages_match", "ids_contiguous"
    )


def q145_streaming_web_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """§2.10 + web-corpus loop END-TO-END as a stream: two AvailableNow
    drains of a crawl landing zone through
    streaming/micro_batch.run_streaming_web_corpus — funnel
    (blocklist + quality), incremental dedup AGAINST THE ACCUMULATED
    CORPUS, idempotent merge, per-batch shards/audit.  Batch 2 plants
    exact duplicates of batch-1 documents (doc_id%9==2 copies
    doc_id-1's text) and in-batch duplicates (doc_id%9==8 copies
    doc_id-3's), so the audit must show exact_dup_base /
    exact_dup_batch with the right dup_of targets.  The oracle states
    the whole two-batch lifecycle in closed form (funnel + digest-min
    joins, batch 2 deduping against batch 1's ADMITTED set only) —
    near-dup is disabled (threshold 0.999) so the oracle needs no
    shingle arithmetic."""
    import tempfile

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_streaming_web_corpus,
    )

    _ensure_shipped(spark)
    docs = _t(spark, sf, "documents")
    base = tempfile.mkdtemp(prefix="q145-")
    landing = f"{base}/landing"
    url = F.concat(
        F.lit("https://www.d"),
        (F.col("doc_id") % 15).cast("string"),
        F.lit(".org/p/"),
        F.col("doc_id").cast("string"),
    )
    by_src = docs.select(
        F.col("doc_id").alias("src_id"), F.col("text")
    )
    b1 = docs.filter("doc_id % 3 = 1").select(
        "doc_id", url.alias("url"), "text"
    )
    src_id = (
        F.when(F.col("doc_id") % 9 == 2, F.col("doc_id") - 1)
        .when(F.col("doc_id") % 9 == 8, F.col("doc_id") - 3)
        .otherwise(F.col("doc_id"))
    )
    b2 = (
        docs.filter("doc_id % 3 = 2")
        .select("doc_id", url.alias("url"), src_id.alias("src_id"))
        .join(by_src, "src_id")
        .select("doc_id", "url", "text")
    )
    kw = dict(
        schema="doc_id LONG, url STRING, text STRING",
        blocked_domains=["d4.org", "d5.org"],
        min_chars=200,
        cap_per_domain=1_000_000,
        near_dup_threshold=0.999,
    )
    for batch in (b1, b2):
        batch.coalesce(1).write.mode("append").json(landing)
        run_streaming_web_corpus(
            spark, landing, f"{base}/corpus", f"{base}/shards",
            f"{base}/audit", f"{base}/ckpt", **kw,
        )
    return (
        spark.read.parquet(f"{base}/audit")
        .select("doc_id", "domain", "disposition", "dup_of", "batch_id")
        .localCheckpoint()  # pin before the tmp dir ages out
    )


def q146_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval split hygiene: GROUP-level split (by source, so
    same-site documents never straddle the boundary) via split_assign,
    then the exact-duplicate leakage guard — every document whose
    content digest appears in BOTH splits is flagged.  The documents
    table's duplicates stay within a source, so a MIRROR source
    (every 7th document republished verbatim) is planted to exercise
    the cross-split flag; the whole check (hash split + digest span)
    is closed-form SQL."""
    from gpt_rag_ingestion_spark.operators.sampling import (
        split_assign,
        split_leakage_guard,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "source", "text")
    mirror = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit("mirror").alias("source"),
        "text",
    )
    split = split_assign(
        docs.unionByName(mirror), id_col="source",
        fractions={"train": 0.8, "eval": 0.2}, salt="split-lk",
    )
    return split_leakage_guard(split).select(
        "doc_id", "source", "split", "leaked"
    )


def q147_sidecar_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup against the PERSISTED key-only sidecar
    (dedup_sidecar_build + incremental_dedup_sidecar): same synthetic
    base/increment as q102, but the base text is read exactly once at
    sidecar-build time and classification touches digests/shingle
    hashes/sizes only — the O(batch) production loop.  The oracle is
    q102's closed form verbatim, so the sidecar path is hash-pinned
    equal to the text path."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.dedup import (
        dedup_sidecar_build,
        incremental_dedup_sidecar,
    )

    _ensure_shipped(spark)
    docs = _t(spark, sf, "documents")
    base = docs.filter("doc_id % 3 != 0").select("doc_id", "text")
    incr = (
        docs.filter("doc_id % 3 = 0")
        .selectExpr(
            "doc_id",
            "CASE WHEN doc_id % 9 = 0 THEN doc_id + 1 "
            "WHEN doc_id % 9 = 6 THEN doc_id - 3 ELSE doc_id END AS src_id",
        )
        .join(docs.selectExpr("doc_id AS src_id", "text"), "src_id")
        .select("doc_id", "text")
    )
    side = tempfile.mkdtemp(prefix="q147-sidecar-")
    dedup_sidecar_build(base, side)
    return incremental_dedup_sidecar(incr, side, threshold=0.1).localCheckpoint()


def q148_ivfpq_index_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted IVFPQ index END-TO-END, oracle-checked through its
    exactness invariant: with every cell probed and a refine shortlist
    wider than the corpus, the whole lifecycle (build → persist model
    tables → encode code postings → probe → ADC shortlist → exact
    rerank against the raw-vector corpus) must return EXACTLY the
    brute-force quantized-dot top-k.  Any defect in model persistence,
    code encoding, cell pruning, ADC table math, or the rerank join
    breaks the hash."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.similarity import (
        ivfpq_index_build,
        ivfpq_index_query,
    )

    _ensure_shipped(spark)
    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    idx = tempfile.mkdtemp(prefix="q148-ivfpq-")
    ivfpq_index_build(emb, idx, n_cells=8)
    q = emb.filter("vec_id < 40")
    out = ivfpq_index_query(
        spark, idx, q, n_probe=8, k=3,
        refine_with=emb, refine_factor=10_000,
    )
    return out.select(
        F.col("query_id").alias("vec_id"), "rank",
        F.col("corpus_id").alias("nn_id"), F.col("qdot").alias("dot"),
    ).localCheckpoint()


def q150_cumulative_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """The STREAM-LIFETIME per-domain cap (round 4) as an
    oracle-checked two-batch lifecycle: batch 0 ranks against the cap
    alone; batch 1's ranks are OFFSET by the count of batch-0 rows
    that entered the ranking (the persisted prior_domain_counts
    contract of plans/web_corpus_job + streaming/micro_batch), so its
    rows continue the domain's budget instead of resetting it.  Both
    the skip fast path (domains that cannot exceed the cap rank
    nothing) and the offset arithmetic are pinned by the hash."""
    from gpt_rag_ingestion_spark.functions.urls import url_domain
    from gpt_rag_ingestion_spark.operators.ranking import per_key_capped_rank

    cap = 15
    docs = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://www.d"),
        (F.col("doc_id") % 15).cast("string"),
        F.lit(".org/p/"),
        F.col("doc_id").cast("string"),
    )
    d = docs.select(
        "doc_id",
        "n_chars",
        url_domain(url).alias("domain"),
        (F.col("doc_id") % 2).alias("batch"),
    )
    blocked = spark.createDataFrame(
        [("d0.org",), ("d7.org",)], "domain string"
    ).withColumn("_b", F.lit(True))
    d = d.join(F.broadcast(blocked), on="domain", how="left")
    ok = F.col("_b").isNull() & (F.col("n_chars") >= 200)
    d = d.withColumn("_ok", ok)

    def dispo():
        return (
            F.when(F.col("_b").isNotNull(), F.lit("blocked_domain"))
            .when(F.col("n_chars") < 200, F.lit("low_quality"))
            .when(
                F.col("rank").isNull() | (F.col("rank") <= cap),
                F.lit("keep"),
            )
            .otherwise(F.lit("over_cap"))
        )

    b0 = d.filter(F.col("batch") == 0)
    r0 = per_key_capped_rank(
        b0.filter("_ok").select("doc_id", "domain"),
        "domain", "doc_id", cap, rank_col="rank",
    )
    out0 = b0.join(r0, "doc_id", "left").select(
        "doc_id", "domain", "batch", dispo().alias("disposition")
    )
    prior = (
        b0.filter("_ok").groupBy("domain").agg(
            F.count(F.lit(1)).alias("n_ranked")
        )
    )
    b1 = d.filter(F.col("batch") == 1)
    r1 = per_key_capped_rank(
        b1.filter("_ok").select("doc_id", "domain"),
        "domain", "doc_id", cap, prior_counts=prior, rank_col="rank",
    )
    out1 = b1.join(r1, "doc_id", "left").select(
        "doc_id", "domain", "batch", dispo().alias("disposition")
    )
    return out0.unionByName(out1)


def q149_zorder_key(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key over two quantized dimensions
    (operators/layout.zorder_value) — the arithmetic behind
    zorder_write's multi-column min/max file skipping (the OPTIMIZE
    ZORDER BY analog), oracle-checked bit for bit: 8-bit ranks of
    (o_custkey % 256, o_orderkey % 256) interleave into one 16-bit
    code through the exact-integer fast path, so there is no float
    rounding anywhere in either engine."""
    from gpt_rag_ingestion_spark.operators.layout import zorder_value

    orders = _t(spark, sf, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("x"),
        (F.col("o_orderkey") % 256).alias("y"),
    )
    z = zorder_value(
        ["x", "y"], {"x": 0, "y": 0}, {"x": 255, "y": 255}, bits=8
    )
    return orders.select(
        "o_orderkey", "x", "y", z.cast("long").alias("zkey")
    )


def q151_snapshot_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Manifest-pointer snapshot sink lifecycle
    (operators/snapshot_table): init merge, update merge, keyed
    delete, OPTIMIZE fold, vacuum — over a bucket-partitioned
    snapshot table whose every commit is one atomic pointer rename
    (readers are never torn, unlike the documented swap-sink window,
    SCALE.md §11).  The oracle is the closed relational form of the
    merge+delete composition, so MERGE semantics through the whole
    commit protocol are hash-pinned."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_delete_keys,
        snapshot_merge_upsert,
        snapshot_optimize,
        snapshot_vacuum,
    )

    orders = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
    )
    tbl = tempfile.mkdtemp(prefix="q151-snap-") + "/t"
    snapshot_merge_upsert(
        spark, tbl, orders, key="o_orderkey", partition_cols=["bucket"]
    )
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    snapshot_merge_upsert(
        spark, tbl, upd, key="o_orderkey", partition_cols=["bucket"]
    )
    doomed = orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    snapshot_delete_keys(
        spark, tbl, doomed, key="o_orderkey", partition_cols=["bucket"]
    )
    snapshot_optimize(spark, tbl, partition_cols=["bucket"])
    snapshot_vacuum(spark, tbl)
    return read_snapshot_table(spark, tbl).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.col("bucket").cast("int").alias("bucket"),
    ).localCheckpoint()


def q152_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed co-located join (operators/bucketing): lineitem and
    orders persisted CLUSTERED BY orderkey into the same bucket count,
    then joined + aggregated with ZERO Exchange operators in the plan
    (asserted inline — the property bucketing exists to buy at 100 TB,
    where the repeated big-big join shuffle is the dominant cost).
    Revenue sums go through DECIMAL(18,4) per the determinism policy."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.bucketing import (
        assert_colocated_join,
        colocated_join,
        write_bucketed,
    )

    li = _t(spark, sf, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
        ).alias("rev"),
    )
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    base = tempfile.mkdtemp(prefix="q152-bkt-")
    write_bucketed(li, "q152_li_bkt", f"{base}/li", "l_orderkey", 16)
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "q152_ord_bkt", f"{base}/ord", "l_orderkey", 16,
    )
    joined = colocated_join(spark, "q152_li_bkt", "q152_ord_bkt", on="l_orderkey")
    assert_colocated_join(joined)
    out = (
        joined.groupBy("o_orderpriority")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    # the aggregation itself is also exchange-free on the bucket key's
    # table scan only when grouped by it; priority grouping re-shuffles
    # 5 rows — negligible.  localCheckpoint: the temp tables are
    # per-call.
    return out.localCheckpoint()


def q153_lm_quality_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style corpus-LM quality gate (operators/ngram_lm): train
    add-one-smoothed bigram counts on the documents table, score every
    doc by the exact integer-sum inverse-probability ratio
    SUM(c1+V)/SUM(c12+1), split into head/middle/tail thirds by
    distributed global rank.  Log-free by design so the whole model →
    score → bucket pipeline hash-matches a SQL oracle; the log2
    perplexity column exists for humans but is excluded here."""
    from gpt_rag_ingestion_spark.operators.ngram_lm import (
        lm_quality_buckets,
        lm_score,
        train_bigram_counts,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    c12, c1, v = train_bigram_counts(docs, max_tokens=128)
    scored = lm_score(docs, c12, c1, v, max_tokens=128)
    return lm_quality_buckets(scored).select(
        "doc_id", "n_bigrams", "score", "bucket"
    )


def q154_char_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """SentencePiece character-coverage ranking (operators/vocab):
    frequency-ranked corpus alphabet with the integer-exact 99.95%
    coverage cut — the tokenizer-training twin of the vocab/BPE
    lifecycle (q93/q107/q111)."""
    from gpt_rag_ingestion_spark.operators.vocab import char_coverage

    docs = _t(spark, sf, "documents").select("text")
    return char_coverage(docs)


_BM25_QUERIES = [
    ("q0", ["spark", "join", "fast"]),
    ("q1", ["table", "scan", "filter"]),
    ("q2", ["window", "agg", "group"]),
    ("q3", ["customer", "order", "query"]),
    ("q4", ["vector", "hash", "merge"]),
    ("q5", ["stream", "batch", "line"]),
    ("q6", ["slow", "big", "small"]),
    ("q7", ["sort", "column", "data"]),
]


def _bm25_query_df(spark: SparkSession):
    return spark.createDataFrame(
        [(qid, terms) for qid, terms in _BM25_QUERIES],
        "query_id string, terms array<string>",
    )


# shared CTE block for the q155/q156 oracles: inverted index + the
# integer-exact BM25 scoring (operators/search.py's documented
# surrogates), with the query term set inlined as VALUES
def _bm25_oracle_ctes(corpus_sql: str = "documents") -> str:
    return _BM25_ORACLE_CTES_TEMPLATE.replace("__CORPUS__", corpus_sql)


def _bm25_ctes_with_queries(queries, corpus_sql: str = "documents") -> str:
    """The BM25 CTE chain with a CUSTOM query-term list (the template
    bakes _BM25_QUERIES into the qs VALUES)."""
    import re

    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in queries for t in terms
    )
    return re.sub(
        r"qs\(query_id, token\) AS \(VALUES .*?\),\n            cand",
        f"qs(query_id, token) AS (VALUES {vals}),\n            cand",
        _bm25_oracle_ctes(corpus_sql),
        flags=re.S,
    )


def _bm25_prefixed_ctes(prefix: str, corpus_sql: str) -> str:
    """The BM25 CTE chain with every CTE name prefixed, so two
    instantiations (one per FIELD) can coexist in one WITH clause —
    the q165 multi-field oracle."""
    import re

    tmpl = _bm25_oracle_ctes(corpus_sql)
    for name in (
        "toks", "postings", "dfreq", "doclen", "cc", "qs", "cand",
        "scored",
    ):
        tmpl = re.sub(rf"\b{name}\b", f"{prefix}{name}", tmpl)
    return tmpl


_TITLE_CORPUS_SQL = (
    "(SELECT doc_id, array_to_string("
    "(list_filter(string_split_regex(lower(text), '\\s+'), "
    "x -> x != ''))[1:6], ' ') AS text FROM documents)"
)


def _fuzzy_bm25_ctes() -> str:
    """q163's oracle CTEs: the standard chain with the fuzzy query
    set, plus an ``exp`` CTE expanding each term to vocabulary terms
    within levenshtein 1 (direct lev join — affordable oracle-side on
    a tiny term set); cand scores the EXPANDED set."""
    ctes = _bm25_ctes_with_queries(_FUZZY_QUERIES)
    ctes = ctes.replace(
        "),\n            cand AS (",
        "),\n            exp AS (\n"
        "              SELECT DISTINCT q.query_id, v.token\n"
        "              FROM qs q JOIN dfreq v\n"
        "                ON levenshtein(q.token, v.token) <= 1),\n"
        "            cand AS (",
        1,
    )
    return ctes.replace(
        "FROM (SELECT DISTINCT query_id, token FROM qs) q",
        "FROM (SELECT query_id, token FROM exp) q",
    )


_BM25_ORACLE_CTES_TEMPLATE = (
    """toks AS (
              SELECT doc_id AS doc, t.token
              FROM (SELECT * FROM __CORPUS__) __corp,
                unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x != '')) AS t(token)),
            postings AS (
              SELECT token, doc, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks GROUP BY token, doc),
            dfreq AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS df
              FROM postings GROUP BY token),
            doclen AS (
              SELECT doc, CAST(COUNT(*) AS BIGINT) AS dl
              FROM toks GROUP BY doc),
            cc AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(dl) AS BIGINT) AS l
              FROM doclen),
            qs(query_id, token) AS (VALUES """
    + ", ".join(
        f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms
    )
    + """),
            cand AS (
              SELECT q.query_id, p.doc, p.tf, f.df, d.dl
              FROM (SELECT DISTINCT query_id, token FROM qs) q
              JOIN postings p USING (token)
              JOIN dfreq f USING (token)
              JOIN doclen d USING (doc)),
            scored AS (
              SELECT query_id, doc,
                CAST(SUM(
                  ((((cc.n - df + 1) * 1000000) // (df + 1)) * 44 * tf)
                  // (20 * tf + 6 + ((18 * dl * cc.n) // cc.l))
                ) AS BIGINT) AS score_q
              FROM cand, cc GROUP BY query_id, doc)"""
)


def _retrieval_eval_oracle(k: int = 10, scale: int = 1_000_000) -> str:
    """q172's oracle: the standard BM25 CTE chain + top-k ranking,
    a first-term relevance set, and the SAME integer DCG weight /
    ideal-prefix tables the operator computes driver-side (identical
    Python round(scale/log2(i+1)) — floats never reach either
    engine)."""
    import math

    w = [round(scale / math.log2(i + 1)) for i in range(1, k + 1)]
    cum = [sum(w[: i + 1]) for i in range(k)]
    w_vals = ", ".join(f"({i + 1}, {x})" for i, x in enumerate(w))
    cum_vals = ", ".join(f"({i + 1}, {x})" for i, x in enumerate(cum))
    ft_vals = ", ".join(
        f"('{qid}', '{terms[0]}')" for qid, terms in _BM25_QUERIES
    )
    return f"""
        WITH {_bm25_oracle_ctes()},
        topk AS (
          SELECT query_id, doc,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score_q DESC, doc ASC) AS rank
          FROM scored),
        hits AS (SELECT * FROM topk WHERE rank <= {k}),
        ft(query_id, token) AS (VALUES {ft_vals}),
        qrels AS (
          SELECT DISTINCT f.query_id, t.doc
          FROM ft f JOIN toks t ON t.token = f.token),
        nrel AS (
          SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
          FROM qrels GROUP BY query_id),
        w(rank, w_q) AS (VALUES {w_vals}),
        cum(n, idcg) AS (VALUES {cum_vals}),
        relhits AS (
          SELECT h.query_id, h.rank FROM hits h
          JOIN qrels r ON r.query_id = h.query_id AND r.doc = h.doc),
        agg AS (
          SELECT query_id, CAST(COUNT(*) AS BIGINT) AS hits_at_k,
                 MIN(rank) AS first_rank,
                 CAST(SUM(w.w_q) AS BIGINT) AS dcg_q
          FROM relhits JOIN w USING (rank) GROUP BY query_id)
        SELECT n.query_id, n.n_rel,
          CAST(COALESCE(a.hits_at_k, 0) AS BIGINT) AS hits_at_k,
          CAST(CASE WHEN a.first_rank IS NULL THEN 0
               ELSE {scale} // a.first_rank END AS BIGINT) AS rr_q,
          CAST(COALESCE(a.hits_at_k, 0) * {scale} // n.n_rel
               AS BIGINT) AS recall_q,
          CAST(COALESCE(a.dcg_q, 0) AS BIGINT) AS dcg_q,
          CAST(c.idcg AS BIGINT) AS idcg_q,
          CAST(COALESCE(a.dcg_q, 0) * {scale} // c.idcg
               AS BIGINT) AS ndcg_q
        FROM nrel n
        LEFT JOIN agg a USING (query_id)
        JOIN cum c ON c.n = LEAST(n.n_rel, {k})
    """


def q155_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Full-text BM25 retrieval over the documents corpus
    (operators/search — the reference's AI Search text leg): inverted
    index build + integer-exact BM25 (linear-idf surrogate, k1=6/5,
    b=3/4 cross-multiplied — the q66 determinism convention) + per-
    query top-10.  Postings are probed via a broadcast semi-join on
    the query term set, so only candidate docs are scored."""
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    return bm25_topk(index, _bm25_query_df(spark), k=10)


def q156_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval (the reference's AI Search hybrid mode): BM25
    text ranking ⊕ quantized-cosine vector ranking, fused by integer-
    exact Reciprocal Rank Fusion (SUM(S div (60 + rank))).  Query
    vectors are the embeddings of vec_id 0-7 (aligned with the 8 text
    queries); both legs contribute their top-20, the fusion returns
    top-10 per query.  The vector leg here is the EXACT-dot oracle
    twin (an 8-query broadcast against the corpus — the q19 baseline
    shape); the production substitution at corpus scale is the ANN
    family (q47/q148), whose rankings drop into rrf_fuse unchanged."""
    from pyspark.sql import Window

    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        rrf_fuse,
    )

    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    bm25 = bm25_topk(index, _bm25_query_df(spark), k=20)

    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("long"),
    )
    quant = emb.select(F.col("vec_id"), qv.alias("qv"))
    queries_v = quant.filter(F.col("vec_id") < 8).select(
        F.concat(F.lit("q"), F.col("vec_id").cast("string")).alias("query_id"),
        F.col("qv").alias("q_qv"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("q_qv"), F.col("qv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), F.asc("doc"))
    vec_rank = (
        F.broadcast(queries_v)
        .join(quant.select(F.col("vec_id").alias("doc"), "qv"))
        .select("query_id", "doc", qdot.alias("qdot"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("query_id", "doc", "rank")
    )
    return rrf_fuse(
        [bm25.select("query_id", "doc", "rank"), vec_rank], k=10
    )


def q157_text_index_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted inverted-index lifecycle (operators/search): build on
    the full documents corpus, then ONE batched tick via
    ``text_index_apply`` — upsert every 7th doc re-ingested with
    truncated text AND tombstone every 11th doc in a single
    generation/commit (the reference indexer's delete-parents-then-
    upload is one logical transaction; r5 judge brief #4).
    Delete-then-upload semantics: a doc in both sets (id % 77 == 0)
    keeps its replacement.  Then the counter-driven compaction
    trigger and BM25 top-10.  The oracle is closed-form BM25 SQL over
    the post-change corpus, so upsert + tombstone + compaction +
    maintained N/L counters are all hash-pinned in one composed
    check."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.search import (
        text_index_apply,
        text_index_build,
        text_index_maybe_compact,
        text_index_query,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="q157-tindex-") + "/idx"
    text_index_build(docs, path)
    repl = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.substring("text", 1, 199).alias("text")
    )
    text_index_apply(
        repl, docs.filter(F.col("doc_id") % 11 == 0).select("doc_id"),
        path, "b1",
    )
    text_index_maybe_compact(spark, path)
    return text_index_query(
        spark, path, _bm25_query_df(spark), k=10
    ).localCheckpoint()


def q158_search_highlights(spark: SparkSession, sf: str) -> DataFrame:
    """Hit highlighting over the BM25 top-k (the search service's
    ``highlights`` field): earliest query-term occurrence per hit doc,
    fixed-width snippet cut around it — string algebra on the hit set
    only, never the corpus."""
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        highlight_snippets,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    q = _bm25_query_df(spark)
    hits = bm25_topk(index, q, k=5)
    return highlight_snippets(hits, docs, q, snippet_chars=60)


def q159_phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    """Exact phrase search (operators/search.phrase_topk — the quoted-
    query mode the search service offers): position-shift equi-join,
    phrase occurrence = a base offset where every term of the phrase
    landed.  Pure integer relational algebra, one corpus explode."""
    from gpt_rag_ingestion_spark.operators.search import phrase_topk

    docs = _t(spark, sf, "documents")
    phrases = spark.createDataFrame(
        [
            ("p0", ["table", "scan"]),
            ("p1", ["fast", "table"]),
            ("p2", ["the", "line"]),
            ("p3", ["value", "fast", "merge"]),
            ("p4", ["a", "a"]),
        ],
        "phrase_id string, terms array<string>",
    )
    return phrase_topk(docs, phrases, k=10)


def q160_suggest_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Autocomplete suggester (operators/search.suggest_terms): top-5
    index terms per prefix by document frequency — the search
    service's suggest endpoint over the engine's own dfreq table."""
    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        suggest_terms,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    prefixes = spark.createDataFrame(
        [("s",), ("ta",), ("f",), ("c",), ("b",)], "prefix string"
    )
    return suggest_terms(index, prefixes, k=5)


def q161_span_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Span-tree rollup (operators/tracing — the offline analog of the
    reference's OTel telemetry): flame-graph SELF time = duration
    minus direct children's, aggregated per span name.  Run over a
    deterministic synthetic trace forest derived from orders (every
    %4==0 order is a root; its 3 successors are children), so the
    trace algebra itself is hash-checked — the live SpanRecorder
    clock is unit-tested instead."""
    from gpt_rag_ingestion_spark.operators.tracing import span_rollup

    orders = _t(spark, sf, "orders")
    spans = orders.select(
        F.concat(F.lit("t"), (F.col("o_custkey") % 50).cast("string")).alias(
            "trace_id"
        ),
        F.col("o_orderkey").cast("long").alias("span_id"),
        F.when(
            F.col("o_orderkey") % 4 == 0, F.lit(None).cast("long")
        ).otherwise(
            (F.col("o_orderkey") - F.col("o_orderkey") % 4).cast("long")
        ).alias("parent_id"),
        F.concat(F.lit("phase"), (F.col("o_orderkey") % 4).cast("string")).alias(
            "name"
        ),
        F.lit(0).cast("long").alias("start_ms"),
        F.floor(F.col("o_totalprice")).cast("long").alias("dur_ms"),
        (F.col("o_orderkey") % 13 != 0).alias("ok"),
        F.create_map().cast("map<string,string>").alias("attrs"),
    )
    return span_rollup(spans)


def q162_char_collision(spark: SparkSession, sf: str) -> DataFrame:
    """FineWeb-family entropy filter, log-free (operators/
    text_analysis.char_collision_features): Simpson collision index
    over characters — exact integer collision/pair counts via a
    zero-shuffle per-row fold; the oracle is the explode+groupBy
    closed form."""
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        char_collision_features,
    )

    docs = _t(spark, sf, "documents")
    return char_collision_features(docs)


_FUZZY_QUERIES = [
    ("f0", ["tabl", "scann"]),      # table/scan: deletion + insertion
    ("f1", ["joln", "sparkk"]),     # join/spark: substitution + insertion
    ("f2", ["window", "agg"]),      # exact terms also expand (lev 0/1)
    ("f3", ["merge", "hash"]),      # all exact (fuzzy = superset)
]


def q163_fuzzy_search(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy full-text search (operators/search.fuzzy_bm25_topk — the
    search service's ``~`` fuzzy operator): each query term expands to
    vocabulary terms within Levenshtein 1 via the FastSS
    deletion-variant equi-join (never |terms| x |vocab|), then the
    standard integer-exact BM25 scores the expanded set.  Typo'd
    queries ("tabel scann") retrieve what their intended terms would.
    The oracle computes the same expansion with a direct
    levenshtein() join (tiny query set makes that affordable
    oracle-side) and the same closed-form BM25."""
    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        fuzzy_bm25_topk,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    queries = spark.createDataFrame(
        _FUZZY_QUERIES, "query_id string, terms array<string>"
    )
    return fuzzy_bm25_topk(index, queries, k=10, max_distance=1)


def q164_facet_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Search facets (operators/search.facet_counts — the service's
    ``facet=`` parameter): per-query counts of lang and source over
    the BM25 top-10 hit set.  The metadata join touches hit docs only
    (broadcast semi-join); the corpus is never rescanned."""
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        facet_counts,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    hits = bm25_topk(index, _bm25_query_df(spark), k=10)
    return facet_counts(hits, docs, ["lang", "source"])


def q165_multifield_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-field weighted BM25 (operators/search.multifield_bm25_topk
    — the search service's scoring profiles / field boosts): a
    synthesized title field (first 6 tokens) at weight 3 plus the body
    at weight 1, each scored by the integer-exact BM25 core and
    combined as an exact weighted sum — the whole profile
    hash-matches the closed-form SQL twin."""
    from gpt_rag_ingestion_spark.operators.search import (
        multifield_bm25_topk,
    )

    docs = _t(spark, sf, "documents").withColumn(
        "title",
        F.expr(
            "array_join(slice(filter(split(lower(text), '\\\\s+'), "
            "x -> x != ''), 1, 6), ' ')"
        ),
    )
    return multifield_bm25_topk(
        docs, _bm25_query_df(spark), fields=[("title", 3), ("text", 1)],
        k=10,
    )


def q166_snapshot_changes(spark: SparkSession, sf: str) -> DataFrame:
    """CHANGE DATA FEED over the snapshot-table sink
    (operators/snapshot_table.snapshot_changes — the Delta
    table_changes / Iceberg incremental-read analog): three commits
    (init, update merge %10 -> 'U', keyed delete %7), then the diff
    between generations 1 and 3.  Only partitions whose manifest
    mapping changed are read (immutable generations make equal
    mappings proof of equal content), and rewritten-but-identical
    rows digest out — update postimages and delete preimages are
    hash-pinned against the closed relational form."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        snapshot_changes,
        snapshot_delete_keys,
        snapshot_merge_upsert,
    )

    orders = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
    )
    tbl = tempfile.mkdtemp(prefix="q166-cdf-") + "/t"
    g1 = snapshot_merge_upsert(
        spark, tbl, orders, key="o_orderkey", partition_cols=["bucket"]
    )
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    snapshot_merge_upsert(
        spark, tbl, upd, key="o_orderkey", partition_cols=["bucket"]
    )
    doomed = orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    g3 = snapshot_delete_keys(
        spark, tbl, doomed, key="o_orderkey", partition_cols=["bucket"]
    )
    out = snapshot_changes(spark, tbl, g1, g3, key="o_orderkey")
    return out.select(
        "o_orderkey",
        F.col("_change_type").alias("change_type"),
        F.col("bucket").cast("int").alias("bucket"),
        "o_orderstatus", "o_totalprice",
    ).localCheckpoint()


def q167_filtered_vector_search(spark: SparkSession, sf: str) -> DataFrame:
    """Vector search with a metadata filter
    (operators/similarity.filtered_knn — the search service's
    vectorFilterMode): BOTH modes in one output.  preFilter restricts
    the corpus first (k results guaranteed); postFilter ranks the
    full corpus then drops non-matching hits (fewer than k possible —
    the documented service caveat, visible in the row counts).
    Integer-quantized dots, oracle-exact."""
    from gpt_rag_ingestion_spark.operators.similarity import filtered_knn

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    pre = filtered_knn(
        emb, qs, "label = 1", k=5, mode="pre"
    ).withColumn("mode", F.lit("pre"))
    post = filtered_knn(
        emb, qs, "label = 1", k=5, mode="post"
    ).withColumn("mode", F.lit("post"))
    return pre.unionByName(post).select(
        "mode", "query_id", "rank", "corpus_id", "dot_q"
    )


def q168_cdf_view_maintenance(spark: SparkSession, sf: str) -> DataFrame:
    """CDF-driven MATERIALIZED-VIEW MAINTENANCE — the reason change
    feeds exist: a per-status rollup of the snapshot table is carried
    from generation 1 to generation 3 using ONLY the change feed
    (removed = deletes + update_preimages, added = inserts +
    update_postimages; operators/incremental.maintain_rollup), never
    rescanning the table.  snapshot_changes(include_preimages=True)
    emits Delta CDF's full row schema, and the manifest diff reads
    changed partitions only — O(increment) end to end.  The oracle
    RECOMPUTES the rollup from the closed-form post-state; hash
    equality proves the maintenance identity through the commit
    protocol."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.incremental import (
        maintain_rollup,
    )
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_changes,
        snapshot_delete_keys,
        snapshot_merge_upsert,
    )

    orders = _t(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = orders.select(
        "o_orderkey", "o_orderstatus", cents.alias("cents"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
    )
    tbl = tempfile.mkdtemp(prefix="q168-cdf-") + "/t"
    g1 = snapshot_merge_upsert(
        spark, tbl, rows, key="o_orderkey", partition_cols=["bucket"]
    )
    upd = rows.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"),
        (F.col("cents") + 1).alias("cents"), "bucket",
    )
    snapshot_merge_upsert(
        spark, tbl, upd, key="o_orderkey", partition_cols=["bucket"]
    )
    g3 = snapshot_delete_keys(
        spark, tbl,
        rows.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        key="o_orderkey", partition_cols=["bucket"],
    )
    old_rollup = (
        read_snapshot_table(spark, tbl, at_gen=g1)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("cents"))
    )
    ch = snapshot_changes(
        spark, tbl, g1, g3, key="o_orderkey", include_preimages=True
    )
    removed = ch.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("o_orderstatus", "cents")
    added = ch.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("o_orderstatus", "cents")
    return maintain_rollup(
        old_rollup, removed, added, key="o_orderstatus", sum_cols=["cents"]
    ).localCheckpoint()


def q169_spell_suggest(spark: SparkSession, sf: str) -> DataFrame:
    """'Did you mean' spell correction
    (operators/search.suggest_corrections): top-2 vocabulary
    suggestions per input term by (edit distance, document frequency,
    token), candidates from the FastSS deletion-variant join — the
    oracle recomputes with a direct levenshtein join over the tiny
    term set."""
    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        suggest_corrections,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    terms = spark.createDataFrame(
        [("tabl",), ("scann",), ("joln",), ("window",), ("zzzz",)],
        "term string",
    )
    return suggest_corrections(index, terms, k=2, max_distance=1)


def q170_snapshot_data_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """FILE-LEVEL DATA SKIPPING over the snapshot-table format
    (operators/snapshot_table.snapshot_enable_stats /
    snapshot_read_where — the Delta per-file stats / Iceberg
    manifest-bounds mechanism): per-file min/max statistics are
    collected at COMMIT time (one column-pruned aggregation over the
    increment, grouped on _metadata.file_path), OPTIMIZE Z-orders the
    table on the cents column, and the range read then decides its
    file list from commit metadata alone — before any task launches.
    The query ASSERTS files were actually skipped (clustering makes
    file [min,max] windows narrow), then re-applies the exact
    predicate, so the oracle is a plain filter: hash equality proves
    pruning is a pure I/O optimization."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        snapshot_enable_stats,
        snapshot_merge_upsert,
        snapshot_optimize,
        snapshot_read_where,
    )

    orders = _t(spark, sf, "orders")
    rows = orders.select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 4).cast("int").alias("bucket"),
    )
    tbl = tempfile.mkdtemp(prefix="q170-skip-") + "/t"
    snapshot_enable_stats(spark, tbl, cols=["cents"])
    snapshot_merge_upsert(
        spark, tbl, rows, key="o_orderkey", partition_cols=["bucket"]
    )
    snapshot_optimize(
        spark, tbl, partition_cols=["bucket"], zorder_cols=["cents"]
    )
    rep: dict = {}
    out = snapshot_read_where(
        spark, tbl, {"cents": (5_000_000, 7_500_000)}, report=rep
    )
    assert rep["files_skipped"] > 0 and rep["unpruned_gens"] == 0, (
        f"data skipping did not engage: {rep}"
    )
    return out.select(
        "o_orderkey", "o_orderstatus", "cents"
    ).localCheckpoint()


def q171_snapshot_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """BLOOM-PRUNED POINT LOOKUP over the snapshot table
    (snapshot_read_point): commit-time xxhash64 bloom bitmaps per file
    (explode + collect_set — per-file state bounded by the bitmap, not
    the rows), a key IN (...) read that opens only files whose bloom
    lights all k bits per value.  The table is hash-scattered on
    purpose — min/max stats CANNOT prune a scattered key column; the
    bloom is what makes point lookups metadata-bounded.  Skipping is
    asserted inline; the exact IN filter re-applies, and the oracle
    recomputes over the base table."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        snapshot_enable_stats,
        snapshot_merge_upsert,
        snapshot_read_point,
    )

    orders = _t(spark, sf, "orders")
    rows = orders.select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).repartition(16)  # hash-scatter: every file spans the key range
    tbl = tempfile.mkdtemp(prefix="q171-bloom-") + "/t"
    # 2^17 bits/file keeps the bloom unsaturated at every tested SF
    snapshot_enable_stats(
        spark, tbl, cols=["cents"], bloom_cols=["o_orderkey"],
        bloom_bits=1 << 17,
    )
    snapshot_merge_upsert(spark, tbl, rows, key="o_orderkey")
    keys = [
        r[0]
        for r in orders.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    rep: dict = {}
    out = snapshot_read_point(spark, tbl, "o_orderkey", keys, report=rep)
    assert rep["files_skipped"] > 0, f"bloom pruning did not engage: {rep}"
    return out.select(
        "o_orderkey", "o_orderstatus", "cents"
    ).localCheckpoint()


def q172_retrieval_eval(spark: SparkSession, sf: str) -> DataFrame:
    """RETRIEVAL-QUALITY EVALUATION (operators/ranking.
    retrieval_metrics — the relevance-tuning loop the reference's AI
    Search deployments run): recall@10, reciprocal rank, and nDCG@10
    per query over the BM25 top-10, against a relational relevance
    set (docs containing the query's FIRST term).  DCG weights
    round(scale/log2(rank+1)) are driver-side INTEGER literals, all
    ratios integer div — the oracle replicates the identical VALUES
    table, so the floats never leave the driver."""
    from gpt_rag_ingestion_spark.operators.ranking import (
        retrieval_metrics,
    )
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    hits = bm25_topk(index, _bm25_query_df(spark), k=10)
    first_terms = spark.createDataFrame(
        [(qid, terms[0]) for qid, terms in _BM25_QUERIES],
        "query_id string, token string",
    )
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda x: x != ""
            )
        ).alias("token"),
    )
    qrels = first_terms.join(toks, on="token").select(
        "query_id", "doc"
    ).distinct()
    return retrieval_metrics(hits, qrels, k=10)


def q173_partition_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """PARTITION-SELECTIVE OPTIMIZE lifecycle (operators/
    snapshot_table.snapshot_compact_partitions — Delta's ``OPTIMIZE
    ... WHERE``): three merges land disjoint bucket sets in three
    generations, then only the fragmented buckets are rewritten —
    the untouched bucket's manifest mapping is ASSERTED to carry
    forward verbatim (immutable files: provably unread), the
    metadata-only COUNT (snapshot_metadata_count, no job) is asserted
    against the relational count, and the post-compaction table must
    hash-equal the closed form (all orders rows) — compaction moves
    bytes, never rows."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _current_gen,
        _read_manifest,
        read_snapshot_table,
        snapshot_compact_partitions,
        snapshot_enable_stats,
        snapshot_merge_upsert,
        snapshot_metadata_count,
    )

    orders = _t(spark, sf, "orders")
    rows = orders.select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 4).cast("int").alias("bucket"),
    )
    tbl = tempfile.mkdtemp(prefix="q173-compact-") + "/t"
    snapshot_enable_stats(spark, tbl, cols=["cents"])
    for buckets in ((0, 1), (2,), (3,)):
        snapshot_merge_upsert(
            spark, tbl, rows.filter(F.col("bucket").isin(*buckets)),
            key="o_orderkey", partition_cols=["bucket"],
        )
    man_before = _read_manifest(
        spark, tbl, _current_gen(spark, tbl)
    )["partitions"]
    rep = snapshot_compact_partitions(
        spark, tbl, ["bucket"], rels=["bucket=0", "bucket=1"],
        zorder_cols=["cents"],
    )
    assert rep["compacted"] == ["bucket=0", "bucket=1"], rep
    man_after = _read_manifest(
        spark, tbl, rep["committed_gen"]
    )["partitions"]
    assert man_after["bucket=3"] == man_before["bucket=3"], (
        "untouched partition's mapping must carry forward verbatim"
    )
    out = read_snapshot_table(spark, tbl)
    n_meta = snapshot_metadata_count(spark, tbl)
    assert n_meta is not None and n_meta == out.count(), n_meta
    return out.select(
        "o_orderkey", "o_orderstatus", "cents",
        F.col("bucket").cast("int").alias("bucket"),
    ).localCheckpoint()


def q174_deletion_vectors(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE-ON-READ DELETE via deletion vectors
    (operators/snapshot_table.snapshot_delete_keys mode='dv' — the
    Delta/Iceberg DV design): the delete commit records (file,
    row-position) pairs in an immutable sidecar the manifest
    references and touches NO data file — ASSERTED inline: the
    partition→generation mapping is identical before and after, and
    the metadata-only count already reflects the deletes.  Readers
    anti-join the vectors; time travel to the pre-delete snapshot
    still sees every row (asserted).  The post-state must hash-equal
    the closed form — at 100 TB this is deleting ten rows with
    kilobytes of metadata instead of a partition rewrite."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _read_manifest,
        read_snapshot_table,
        snapshot_delete_keys,
        snapshot_enable_stats,
        snapshot_merge_upsert,
        snapshot_metadata_count,
    )

    orders = _t(spark, sf, "orders")
    rows = orders.select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 4).cast("int").alias("bucket"),
    )
    tbl = tempfile.mkdtemp(prefix="q174-dv-") + "/t"
    snapshot_enable_stats(spark, tbl, cols=["cents"])
    g1 = snapshot_merge_upsert(
        spark, tbl, rows, key="o_orderkey", partition_cols=["bucket"]
    )
    doomed = rows.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    g2 = snapshot_delete_keys(
        spark, tbl, doomed, key="o_orderkey",
        partition_cols=["bucket"], mode="dv",
    )
    m1 = _read_manifest(spark, tbl, g1)
    m2 = _read_manifest(spark, tbl, g2)
    assert m1["partitions"] == m2["partitions"], (
        "a DV delete must not move any partition to a new generation"
    )
    assert m2.get("dv"), "the delete must be recorded as a DV reference"
    out = read_snapshot_table(spark, tbl)
    n_meta = snapshot_metadata_count(spark, tbl)
    assert n_meta == out.count(), (n_meta, "metadata count must net DVs")
    assert (
        read_snapshot_table(spark, tbl, at_gen=g1).count()
        > out.count()
    ), "time travel must still see the deleted rows"
    return out.select(
        "o_orderkey", "o_orderstatus", "cents",
        F.col("bucket").cast("int").alias("bucket"),
    ).localCheckpoint()


def q175_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """JOHNSON–LINDENSTRAUSS SKETCH SEARCH (operators/similarity.
    project_embeddings + quantized_dot_top1(quantize=False)): every
    embedding is projected 64→16 dims by a deterministic sparse
    Achlioptas sign matrix (integer matmul, Arrow-batched), and top-1
    search runs entirely in the sketch space — a 4× cheaper scan per
    dot product, the standard pre-filter in front of exact re-ranking.
    The oracle regenerates the IDENTICAL matrix from the same integer
    hash (VALUES triples) and recomputes the projected argmax, so the
    sketch pipeline is exact end to end."""
    from gpt_rag_ingestion_spark.operators.similarity import (
        project_embeddings,
        quantized_dot_top1,
    )

    emb = _t(spark, sf, "embeddings")
    proj = project_embeddings(emb, out_dim=16).select("vec_id", "proj")
    return quantized_dot_top1(
        proj, vec_col="proj", quantize=False
    ).select("vec_id", "nn_id", F.col("dot").alias("pdot"))


def _rp_oracle(out_dim: int = 16, dim: int = 64) -> str:
    """q175's oracle: the same sparse sign matrix as VALUES triples
    (1-based for DuckDB list indexing), projection as a join-aggregate,
    argmax in the sketch space with the module's (dot desc, id asc)
    tie-break."""
    from gpt_rag_ingestion_spark.operators.similarity import rp_sign_rows

    vals = ", ".join(
        f"({i + 1}, {j + 1}, {s})" for i, j, s in rp_sign_rows(dim, out_dim)
    )
    return f"""
        WITH r(i, j, s) AS (VALUES {vals}),
        q AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
          FROM embeddings),
        proj AS (
          SELECT e.vec_id, r.j,
                 CAST(SUM(e.qv[r.i] * r.s) AS BIGINT) AS p
          FROM q e JOIN r ON true GROUP BY e.vec_id, r.j),
        pv AS (
          SELECT vec_id, list(p ORDER BY j) AS pvec
          FROM proj GROUP BY vec_id),
        pairs AS (
          SELECT a.vec_id, b.vec_id AS nn_id,
                 CAST(list_dot_product(a.pvec, b.pvec) AS BIGINT) AS pdot
          FROM pv a JOIN pv b ON b.vec_id != a.vec_id),
        best AS (
          SELECT vec_id, nn_id, pdot,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY pdot DESC, nn_id ASC) AS rn
          FROM pairs)
        SELECT vec_id, nn_id, pdot FROM best WHERE rn = 1
    """


def q176_snapshot_restore(spark: SparkSession, sf: str) -> DataFrame:
    """RESTORE TABLE TO VERSION (operators/snapshot_table.
    snapshot_restore — the Delta RESTORE): after an init commit, a
    mutating merge, and a DV delete, the table is restored to
    generation 1 — a FORWARD commit that re-references the original
    generation directories (no data copied; asserted via the manifest)
    — and must hash-equal the pristine base relation.  History
    (snapshot_history, DESCRIBE HISTORY) is asserted to read
    [merge, merge, delete_dv, restore]."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _read_manifest,
        read_snapshot_table,
        snapshot_delete_keys,
        snapshot_history,
        snapshot_merge_upsert,
        snapshot_restore,
    )

    orders = _t(spark, sf, "orders")
    rows = orders.select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 4).cast("int").alias("bucket"),
    )
    tbl = tempfile.mkdtemp(prefix="q176-restore-") + "/t"
    g1 = snapshot_merge_upsert(
        spark, tbl, rows, key="o_orderkey", partition_cols=["bucket"]
    )
    upd = rows.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    snapshot_merge_upsert(
        spark, tbl, upd, key="o_orderkey", partition_cols=["bucket"]
    )
    snapshot_delete_keys(
        spark, tbl,
        rows.filter(F.col("o_orderkey") % 11 == 0).select("o_orderkey"),
        key="o_orderkey", partition_cols=["bucket"], mode="dv",
    )
    g4 = snapshot_restore(spark, tbl, g1)
    assert [e["op"] for e in snapshot_history(spark, tbl)] == [
        "merge", "merge", "delete_dv", "restore",
    ]
    m1 = _read_manifest(spark, tbl, g1)
    m4 = _read_manifest(spark, tbl, g4)
    assert m1["partitions"] == m4["partitions"], (
        "restore must re-reference, not copy, the target's generations"
    )
    assert m4.get("dv") is None  # gen 1 carried no vectors
    return read_snapshot_table(spark, tbl).select(
        "o_orderkey", "o_orderstatus", "cents",
        F.col("bucket").cast("int").alias("bucket"),
    ).localCheckpoint()


def q177_sketch_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """TWO-STAGE ANN: SKETCH SCAN + EXACT RERANK (operators/
    similarity.sketch_rerank_top1 — the production deployment of the
    JL sketch): the corpus is scanned at 32 dims (2× cheaper dots)
    keeping a 64-deep shortlist per query, then ONLY the shortlist is
    re-scored at full 64-dim with the exact quantized dot (JVM
    zip_with — |Q|·64 rows, never a corpus pass) and the winner kept.
    Both stages are deterministic integer algebra, so unlike sampled
    ANN the ENTIRE two-stage pipeline has an exact oracle: DuckDB
    regenerates the same sketch, the same shortlist, the same rerank,
    bit for bit.  Measured top-1 recall vs exact at this setting:
    0.674 on the clustered corpus (floor-asserted in
    tests/test_scale_features.py) — the sketch is the CHEAP
    pre-filter; recall-critical paths use IVF/IVFPQ (0.88–0.98)."""
    from gpt_rag_ingestion_spark.operators.similarity import (
        sketch_rerank_top1,
    )

    emb = _t(spark, sf, "embeddings")
    return sketch_rerank_top1(emb, out_dim=32, shortlist=64).select(
        "vec_id", "nn_id", "dot"
    )


def _sketch_rerank_oracle(
    out_dim: int = 32, shortlist: int = 64, dim: int = 64
) -> str:
    from gpt_rag_ingestion_spark.operators.similarity import rp_sign_rows

    vals = ", ".join(
        f"({i + 1}, {j + 1}, {s})" for i, j, s in rp_sign_rows(dim, out_dim)
    )
    return f"""
        WITH r(i, j, s) AS (VALUES {vals}),
        q AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
          FROM embeddings),
        proj AS (
          SELECT e.vec_id, r.j,
                 CAST(SUM(e.qv[r.i] * r.s) AS BIGINT) AS p
          FROM q e JOIN r ON true GROUP BY e.vec_id, r.j),
        pv AS (
          SELECT vec_id, list(p ORDER BY j) AS pvec
          FROM proj GROUP BY vec_id),
        ppairs AS (
          SELECT a.vec_id, b.vec_id AS nn_id,
                 CAST(list_dot_product(a.pvec, b.pvec) AS BIGINT) AS pdot
          FROM pv a JOIN pv b ON b.vec_id != a.vec_id),
        short AS (
          SELECT vec_id, nn_id FROM (
            SELECT vec_id, nn_id,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY pdot DESC, nn_id ASC) AS rn
            FROM ppairs) WHERE rn <= {shortlist}),
        rer AS (
          SELECT s.vec_id, s.nn_id,
                 CAST(list_dot_product(q1.qv, q2.qv) AS BIGINT) AS dot
          FROM short s
          JOIN q q1 ON q1.vec_id = s.vec_id
          JOIN q q2 ON q2.vec_id = s.nn_id),
        best AS (
          SELECT vec_id, nn_id, dot,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dot DESC, nn_id ASC) AS rn
          FROM rer)
        SELECT vec_id, nn_id, dot FROM best WHERE rn = 1
    """


def q178_more_like_this(spark: SparkSession, sf: str) -> DataFrame:
    """MORE LIKE THIS (operators/search.more_like_this — the search
    service's moreLikeThis parameter): for each of the 5 smallest
    doc_ids, the 10 most characteristic terms are selected by integer
    tf·idf over the document's own posting rows (ties to the smaller
    token, hapax terms dropped), then the standard candidate-only
    BM25 core scores that term set against the corpus with the seed
    excluded — related-document retrieval with zero extra index
    state.  Cost is O(selected terms' posting lists), never a corpus
    pass."""
    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        more_like_this,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    seeds = docs.select("doc_id").orderBy("doc_id").limit(5)
    return more_like_this(index, seeds, k=10, max_query_terms=10)


def _mlt_oracle(k: int = 10, terms: int = 10, min_df: int = 2) -> str:
    """q178's oracle: the standard corpus CTE prefix (toks/postings/
    dfreq/doclen/cc), per-seed tf·idf term selection with the scorer's
    own integer idf factor, then the scoring/ranking tail."""
    prefix = _BM25_ORACLE_CTES_TEMPLATE.split(
        "qs(query_id, token) AS"
    )[0].replace("__CORPUS__", "documents")
    return f"""
        WITH {prefix}
        seeds AS (
          SELECT doc_id AS seed_doc FROM documents
          ORDER BY doc_id LIMIT 5),
        own AS (
          SELECT s.seed_doc, p.token, p.tf, f.df
          FROM seeds s
          JOIN postings p ON p.doc = s.seed_doc
          JOIN dfreq f USING (token)
          WHERE f.df >= {min_df}),
        sel AS (
          SELECT seed_doc, token FROM (
            SELECT seed_doc, token,
              row_number() OVER (PARTITION BY seed_doc ORDER BY
                tf * (((cc.n - df + 1) * 1000000) // (df + 1)) DESC,
                token ASC) AS r
            FROM own, cc) WHERE r <= {terms}),
        cand AS (
          SELECT q.seed_doc, p.doc, p.tf, f.df, d.dl
          FROM sel q
          JOIN postings p USING (token)
          JOIN dfreq f USING (token)
          JOIN doclen d USING (doc)
          WHERE p.doc != q.seed_doc),
        scored AS (
          SELECT seed_doc, doc,
            CAST(SUM(
              ((((cc.n - df + 1) * 1000000) // (df + 1)) * 44 * tf)
              // (20 * tf + 6 + ((18 * dl * cc.n) // cc.l))
            ) AS BIGINT) AS score_q
          FROM cand, cc GROUP BY seed_doc, doc),
        ranked AS (
          SELECT seed_doc, doc, score_q,
            row_number() OVER (PARTITION BY seed_doc
              ORDER BY score_q DESC, doc ASC) AS rank
          FROM scored)
        SELECT seed_doc, CAST(rank AS INT) AS rank, doc, score_q
        FROM ranked WHERE rank <= {k}
    """


def q179_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting) — the classic
    EXISTS / NOT-EXISTS composition, expressed as one semi- and one
    anti-join against per-order supplier profiles instead of
    correlated subqueries: for finalized orders, count per supplier
    the lineitems that were LATE (receipt > commit) where at least
    one OTHER supplier fed the same order (multi-supplier order:
    semi-join on an aggregated profile) but NO other supplier was
    late (anti-join on the late-supplier profile).  Profiles are
    per-order aggregates — two compact shuffles keyed by order, never
    a lineitem self-join; top 20 by (numwait desc, name asc)."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
    # this dataset carries ship/order dates (no receipt/commit pair):
    # a lineitem is LATE when it shipped > 60 days after the order
    lif = li.join(orders, li.l_orderkey == orders.o_orderkey).drop(
        "o_orderkey"
    )
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    late = lif.filter(is_late)
    # per-order profiles: distinct supplier count overall and among
    # the late — each one aggregation on the order key
    prof_all = lif.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )
    prof_late = late.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_late")
    )
    cand = (
        late.join(prof_all.filter(F.col("n_supp") >= 2), on="l_orderkey")
        .join(prof_late, on="l_orderkey")
        # sole late supplier of a multi-supplier order: the NOT EXISTS
        .filter(F.col("n_late") == 1)
    )
    out = (
        cand.join(
            F.broadcast(supp), cand.l_suppkey == supp.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )
    w = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("numwait"), F.asc("s_name")
    )
    return out.withColumn("rank", F.row_number().over(w).cast("int"))


def q180_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue) — the
    correlated scalar subquery ``l_quantity < 0.2 * avg(l_quantity)
    per part`` DECORRELATED into one per-part profile join, with the
    fractional average removed by integer cross-multiplication:
    ``5 * qty * n_rows < sum_qty`` (quantities are integral).
    Revenue of qualifying Brand#13 lineitems in cents (this dataset
    carries p_brand but no container), integer-divided by 7 (the
    query's weekly average) — one exact integer the oracle reproduces
    bit for bit."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey",
        F.round("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias(
            "cents"
        ),
    )
    part = _t(spark, sf, "part").filter(
        F.col("p_brand") == "Brand#13"
    ).select("p_partkey")
    prof = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    qual = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(prof, on="l_partkey")
        .filter(F.col("qty") * F.col("n_rows") * 5 < F.col("sum_qty"))
    )
    return qual.agg(
        F.coalesce(
            F.expr("CAST(SUM(cents) AS BIGINT) div 7"), F.lit(0)
        ).alias("avg_yearly_cents"),
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
    )


def q181_idle_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity) — two correlated
    subqueries decorrelated: customers whose balance exceeds the
    GLOBAL average of positive balances (scalar subquery → one 1-row
    aggregate, compared by integer cross-multiplication: cents * n >
    sum) and who have NO OPEN ('O') orders (NOT EXISTS → broadcast
    anti-join on the open-order customer keys; every customer in this
    dataset has SOME order, so Q22's no-order form is vacuous),
    rolled up per nation.  All integer cents — exact in any engine."""
    cust = _t(spark, sf, "customer").select(
        "c_custkey", "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    nation = _t(spark, sf, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .distinct()
    )
    pos = cust.filter(F.col("cents") > 0).agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    rich = (
        cust.crossJoin(F.broadcast(pos))  # 1-row aggregate merge
        .filter(F.col("cents") * F.col("n") > F.col("s"))
        .join(
            F.broadcast(orders),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
    )
    return (
        rich.join(
            F.broadcast(nation), rich.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum("cents").cast("long").alias("totacctbal_cents"),
        )
    )


def q182_filtered_search(spark: SparkSession, sf: str) -> DataFrame:
    """FILTERED full-text search (operators/search.filtered_bm25_topk
    — the service's ``filter=`` composed with ``search=``): BM25
    scores stay corpus-wide (the filter never perturbs idf/doclen —
    the AI Search semantic), the candidate set is restricted to
    English documents by a broadcast semi-join BEFORE the top-k
    window, so k filtered results come back whenever k exist."""
    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        filtered_bm25_topk,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    return filtered_bm25_topk(
        index, _bm25_query_df(spark),
        doc_meta=docs, predicate="lang = 'en'",
        k=10, doc_id_col="doc_id",
    )


def q183_filtered_hybrid(spark: SparkSession, sf: str) -> DataFrame:
    """FILTERED HYBRID retrieval — the reference service's most common
    production query (search= + vectorQueries + filter= in one
    request): ONE metadata predicate (lang = 'en') restricts BOTH
    legs' candidate sets before their per-query top-20 windows
    (pre-filter semantics, so each leg still contributes a full
    shortlist), BM25 statistics stay corpus-wide, the exact-dot
    vector leg is the q19 oracle-twin shape, and integer RRF fuses
    the two filtered rankings into the top-10."""
    from pyspark.sql import Window

    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        filtered_bm25_topk,
        rrf_fuse,
    )

    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    bm25 = filtered_bm25_topk(
        index, _bm25_query_df(spark),
        doc_meta=docs, predicate="lang = 'en'",
        k=20, doc_id_col="doc_id",
    )
    allowed = docs.filter(F.col("lang") == "en").select(
        F.col("doc_id").alias("doc")
    )
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("long"),
    )
    quant = emb.select(F.col("vec_id"), qv.alias("qv"))
    queries_v = quant.filter(F.col("vec_id") < 8).select(
        F.concat(F.lit("q"), F.col("vec_id").cast("string")).alias(
            "query_id"
        ),
        F.col("qv").alias("q_qv"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("q_qv"), F.col("qv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qdot"), F.asc("doc")
    )
    vec_rank = (
        F.broadcast(queries_v)
        .join(quant.select(F.col("vec_id").alias("doc"), "qv"))
        .join(F.broadcast(allowed), on="doc", how="left_semi")
        .select("query_id", "doc", qdot.alias("qdot"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("query_id", "doc", "rank")
    )
    return rrf_fuse(
        [bm25.select("query_id", "doc", "rank"), vec_rank], k=10
    )


def q184_semantic_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """L2 SEMANTIC RERANK over the L1 BM25 top-20 (operators/search.
    semantic_rerank — the service's queryType=semantic second stage,
    with the deterministic stand-in cross signal the engine's model
    stand-ins use): coverage of distinct query terms (scaled) + total
    tf tie-band, L1-rank fallback for full ties, re-ranked to top-10.
    Only the shortlist joins the postings — |Q|·20 rows, never a
    corpus pass.  Integer-exact end to end, so L1→L2 is one
    hash-checked pipeline."""
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        semantic_rerank,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs, text_col="text", id_col="doc_id")
    qdf = _bm25_query_df(spark)
    l1 = bm25_topk(index, qdf, k=20)
    return semantic_rerank(index, l1, qdf, k=10)


def q185_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """COHORT RETENTION — the product-analytics staple: users are
    cohorted by their FIRST active week, and each (cohort, week
    offset) cell counts how many came back, with the retention ratio
    integer-quantized.  Weeks are integer epoch-weeks
    (epoch-seconds div 86400 div 7) — no calendar/timezone trunc
    semantics to diverge between engines.  Shape: one (user, week)
    distinct, one per-user min, one join back, one grouped
    count-distinct — every shuffle keyed by user or (cohort, offset);
    the cohort-size join broadcasts."""
    ev = _t(spark, sf, "events").select(
        "user_id",
        (
            F.col("ts").cast("long") / F.lit(86400 * 7)
        ).cast("long").alias("wk"),
    ).distinct()
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    act = (
        ev.join(first, on="user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias(
            "week_offset"
        ))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    sizes = first.groupBy("cohort_wk").agg(
        F.countDistinct("user_id").alias("n_cohort")
    )
    return act.join(F.broadcast(sizes), on="cohort_wk").select(
        F.col("cohort_wk").cast("long"),
        F.col("week_offset").cast("long"),
        F.col("n_active").cast("long"),
        F.col("n_cohort").cast("long"),
        F.expr(
            "CAST(n_active AS BIGINT) * 1000000 div n_cohort"
        ).alias("retention_q"),
    )


def q186_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / WAU STICKINESS — exact rolling distinct users, done
    scale-right: COUNT(DISTINCT) does not compose over sliding
    windows, so each (user, active-day) pair EXPLODES to the 7
    trailing report days it contributes to (a bounded ×7 row
    multiplication of an already-distinct compact pair set), and WAU
    is then a plain per-day distinct count — exact, no window-over-
    distinct, every shuffle on integer keys.  Days are integer epoch
    days (no calendar trunc); stickiness = DAU * 1e6 div WAU; only
    days with actual activity are reported."""
    ud = _t(spark, sf, "events").select(
        "user_id",
        (F.col("ts").cast("long") / F.lit(86400)).cast("long").alias("d"),
    ).distinct()
    dau = ud.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.col("d") + F.lit(6))
        ).alias("d"),
    )
    wau = contrib.groupBy("d").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, on="d")
        .select(
            F.col("d").cast("long").alias("day"),
            F.col("dau").cast("long"),
            F.col("wau").cast("long"),
            F.expr("CAST(dau AS BIGINT) * 1000000 div wau").alias(
                "stickiness_q"
            ),
        )
    )


def q187_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """EVENT TRANSITION MATRIX (first-order Markov over per-user
    event sequences) — the behavioral-model input: consecutive event
    pairs via a per-user lag window (total (ts, event_id) ordering —
    engine-identical sequences), pair counts, and the row-normalized
    transition probability integer-quantized.  One user-keyed window
    + one (from, to) aggregation; nothing global."""
    ev = _t(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n").alias("row_total")
    )
    return pairs.join(F.broadcast(totals), on="from_type").select(
        "from_type", "to_type", "n",
        F.col("row_total").cast("long"),
        F.expr("CAST(n AS BIGINT) * 1000000 div row_total").alias(
            "p_q"
        ),
    )


def q188_rag_end_to_end(spark: SparkSession, sf: str) -> DataFrame:
    """THE COMPOSED RAG PIPELINE IN ONE GATE QUERY — what a user of
    the reference actually runs end to end: documents are CHUNKED
    (the pure-codegen fixed splitter, q10's hot path), the inverted
    index is built OVER THE CHUNKS, L1 BM25 retrieves the top-10
    passages per query, and the L2 reranker returns the top-5 with
    the parent document and chunk recovered from the composite id.
    Ingestion transform → index build → retrieval → rerank, one
    declarative plan, hash-checked against DuckDB recomputing the
    identical chunking + scoring chain."""
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        semantic_rerank,
    )

    docs = _t(spark, sf, "documents")
    chunks = chunk_fixed(docs, "text", size=200, overlap=40, min_len=1)
    corpus = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).cast("long").alias(
            "cid"
        ),
        F.col("content"),
    )
    index = build_text_index(corpus, text_col="content", id_col="cid")
    qdf = _bm25_query_df(spark)
    l1 = bm25_topk(index, qdf, k=10)
    l2 = semantic_rerank(index, l1, qdf, k=5)
    return l2.select(
        "query_id", "rank", "doc", "sem_q",
        F.expr("doc div 1000").alias("doc_id"),
        F.expr("doc % 1000").alias("chunk_id"),
    )


def _rev_cc():
    """Integer-exact lineitem revenue in CENTI-CENTS: cents × (100 -
    discount%), both factors integral, so sums are engine-independent
    BIGINTs (oracles CAST the DuckDB HUGEINT promotion back down).
    A function, not a module constant — Column construction needs an
    active SparkContext."""
    return (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )


def q189_order_priority_check(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking) — the correlated
    EXISTS (a lineitem shipped late for ITS order) decorrelated into a
    LEFT SEMI join carrying the correlation as a join condition; this
    dataset has no receipt/commit dates, so 'late' is l_shipdate >
    o_orderdate + 60 days (the q179/Q21 lateness convention).  The
    orders window filter is pushed into the parquet scan; the semi
    join shuffles only (orderkey, shipdate) pairs."""
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q190_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): share of one month's
    revenue from PROMO-type parts.  Part dimension broadcasts; the
    fractional percentage is integer-exact per-mille arithmetic
    (100000 × promo div total) over centi-cent sums."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    ).select("l_partkey", _rev_cc().alias("rev_cc"))
    part = _t(spark, sf, "part").select("p_partkey", "p_type")
    j = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    )
    return j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_cc")).otherwise(0))
        .cast("long").alias("promo_cc"),
        F.sum("rev_cc").cast("long").alias("total_cc"),
    ).select(
        "promo_cc", "total_cc",
        F.expr("(100000 * promo_cc) div total_cc").alias("promo_permille"),
    )


def q191_late_shipment_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / order priority): per lateness
    bucket (no shipmode column here — late = shipped > 45 days after
    order date, the dataset's lateness convention), how many HIGH-
    priority (1-URGENT/2-HIGH) vs LOW-priority lineitems shipped in
    1997.  One broadcast-free equi join (orders projected to two
    columns), conditional counts — the Q12 CASE-inside-SUM shape."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    bucket = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS"),
        F.lit("late"),
    ).otherwise(F.lit("ontime"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(bucket.alias("ship_bucket")).agg(
        F.sum(high.cast("long")).cast("long").alias("high_line_count"),
        F.sum((~high).cast("long")).cast("long").alias("low_line_count"),
    )


def q192_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds 300, with their customer — the GROUP BY ...
    HAVING subquery becomes a pre-aggregated per-order profile
    SEMI-joined back (qualifying keys are few, so the semi side
    broadcasts), top-100 by quantity with a total orderkey
    tie-break."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", F.round("l_quantity").cast("long").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias(
                "total_cents"
            ),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(100)
    )


def q193_bracket_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, OR-of-brackets): revenue
    of lineitems matching any of three (brand, size range, quantity
    range) brackets — the classic join-with-disjunctive-predicate
    plan: part broadcasts, the OR evaluates INSIDE the join's codegen
    stage, never as three scans (this dataset has no
    container/shipmode, so brackets use p_size)."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey",
        F.round("l_quantity").cast("long").alias("qty"),
        _rev_cc().alias("rev_cc"),
    )
    part = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10)
         & F.col("qty").between(1, 15))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(5, 20)
           & F.col("qty").between(10, 25))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(15, 40)
           & F.col("qty").between(20, 35))
    )
    return j.filter(b).agg(
        F.sum("rev_cc").cast("long").alias("revenue_cc"),
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
    )


def q194_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations): revenue
    flowing supplier-nation → customer-nation for the (NATION_1,
    NATION_2) pair in either direction, per ship year.  Both nation
    dimensions broadcast; the pair filter applies post-join inside
    codegen; centi-cent sums."""
    nation = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select(
        "l_orderkey", "l_suppkey",
        F.year("l_shipdate").alias("l_year"),
        _rev_cc().alias("rev_cc"),
    )
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    sn = F.broadcast(nation.withColumnRenamed("n_name", "supp_nation"))
    cn = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(sn, supp.s_nationkey == sn.n_nationkey)
        .join(cn, cust.c_nationkey == cn.cn_key)
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return j.filter(pair).groupBy(
        "supp_nation", "cust_nation", "l_year"
    ).agg(F.sum("rev_cc").cast("long").alias("revenue_cc"))


def q195_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_3's share of
    ASIA-region supplier revenue per order year — the
    fraction-of-group aggregate computed as conditional-sum /
    total-sum per year, integer per-mille (no window needed: one
    grouped aggregation carries both sums)."""
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", _rev_cc().alias("rev_cc")
    )
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    # market = ASIA customers (nation→region), share side = NATION_3
    # suppliers
    asia_nations = F.broadcast(
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
            "left_semi",
        ).select(F.col("n_nationkey").alias("an_key"))
    )
    sn = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(asia_nations, cust.c_nationkey == F.col("an_key"), "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(sn, supp.s_nationkey == F.col("sn_key"))
    )
    return (
        j.groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("rev_cc"))
                .otherwise(0)
            ).cast("long").alias("nation_cc"),
            F.sum("rev_cc").cast("long").alias("total_cc"),
        )
        .select(
            "o_year", "nation_cc", "total_cc",
            F.expr("(100000 * nation_cc) div total_cc").alias(
                "share_permille"
            ),
        )
    )


def q196_banded_discount_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): pure scan-filter-
    aggregate — 1997 lineitems with discount in the 5-7% band and
    quantity < 24; the whole predicate must push into the parquet
    scan (asserted in PLANS.md) and the revenue here is
    extendedprice × discount in centi-cents (the 'what would we lose'
    aggregate), one codegen stage, no join at all."""
    li = _t(spark, sf, "lineitem")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * disc_pct
            ).cast("long").alias("discount_cc"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


def q197_snapshot_clone(spark: SparkSession, sf: str) -> DataFrame:
    """SHALLOW CLONE as experiment branching (Delta CREATE TABLE ...
    SHALLOW CLONE): the orders snapshot is cloned with ZERO data
    copied (the clone's manifest references the source's generation
    dirs by absolute path), a candidate curation policy (drop every
    third order) is applied ON THE BRANCH, and a divergent source
    merge proves isolation both ways.  Output: per (side, status)
    counts and cent-sums of both tables — the oracle recomputes each
    side's closed form, so the hash proves the branch saw the policy,
    the source didn't, and neither leaked into the other."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_clone,
        snapshot_delete_keys,
        snapshot_merge_upsert,
    )

    orders = _t(spark, sf, "orders")
    rows = orders.select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q197-clone-")
    src, cln = f"{base}/src", f"{base}/cln"
    snapshot_merge_upsert(
        spark, src, rows, key="o_orderkey", partition_cols=["bucket"]
    )
    snapshot_clone(spark, src, cln)
    # branch policy: suppress every third order on the CLONE only
    snapshot_delete_keys(
        spark, cln,
        rows.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey"),
        key="o_orderkey", partition_cols=["bucket"],
    )
    # divergent source change: re-status every 13th order on SOURCE only
    snapshot_merge_upsert(
        spark, src,
        rows.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_orderstatus", F.lit("X")
        ),
        key="o_orderkey", partition_cols=["bucket"],
    )

    def _sum(side, df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        ).select(F.lit(side).alias("side"), "*")

    return _sum("source", read_snapshot_table(spark, src)).unionByName(
        _sum("clone", read_snapshot_table(spark, cln))
    )


def q198_freshness_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Scoring-profile FRESHNESS boost (the search service's
    `freshness` function, linear interpolation): BM25 relevance
    multiplied by an integer per-mille decay of document age — recent
    docs outrank equally-relevant stale ones, docs past the window
    keep the bare score.  Ages are a deterministic function of doc_id
    (the corpus carries no dates); boost joins CANDIDATE rows only,
    broadcast."""
    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        freshness_boosted_topk,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs)
    doc_days = docs.select(
        F.col("doc_id").alias("doc"),
        (10000 + F.col("doc_id") % 400).cast("long").alias("day"),
    )
    return freshness_boosted_topk(
        index, _bm25_query_df(spark), doc_days,
        now_day=10400, window_days=365, weight_permille=500, k=10,
    )


def q199_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """K-ANONYMITY release audit over quasi-identifiers (lang, source,
    length band): one grouped count per QI combination with the
    meets-k verdict — the governance gate before a corpus ships, same
    single-shuffle shape as exact dedup."""
    from gpt_rag_ingestion_spark.operators.pii import k_anonymity_audit

    docs = _t(spark, sf, "documents").select(
        "lang", "source",
        F.expr("n_chars div 500").cast("long").alias("len_band"),
    )
    return k_anonymity_audit(docs, ["lang", "source", "len_band"], k=5)


def q200_cdf_rollup_live(spark: SparkSession, sf: str) -> DataFrame:
    """JOB-LEVEL incremental view maintenance, end to end (the r6
    brief-#8 mechanism as a gate query): a per-user rollup of a
    snapshot events table is maintained across THREE commits — bulk
    insert, value-doubling update of one user band, delete of another
    — purely from the change feed after bootstrap (the applied
    generation commits with the rollup in one batch-manifest rename).
    The oracle recomputes the final state's closed form; hash equality
    proves the IVM identity through insert, update pre/post images,
    and delete."""
    import tempfile

    from gpt_rag_ingestion_spark.operators import batch_manifest as bm
    from gpt_rag_ingestion_spark.operators.incremental import (
        ROLLUP,
        maintain_snapshot_rollup,
    )
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        snapshot_delete_keys,
        snapshot_merge_upsert,
    )

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 6).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q200-ivm-")
    snap, roll = f"{base}/snap", f"{base}/roll"
    sums = {"sum_cents": "cents"}

    def tick():
        maintain_snapshot_rollup(
            spark, snap, roll, key="user_id", row_key="event_id",
            sum_exprs=sums, count_col="n_events",
        )

    snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    tick()  # bootstrap
    snapshot_merge_upsert(
        spark, snap,
        ev.filter(F.col("user_id") % 5 == 0).withColumn(
            "cents", F.col("cents") * 2
        ),
        key="event_id", partition_cols=["bucket"],
    )
    tick()  # update pre/post images
    snapshot_delete_keys(
        spark, snap,
        ev.filter(F.col("user_id") % 7 == 0).select("event_id"),
        key="event_id", partition_cols=["bucket"],
    )
    tick()  # deletes
    return bm.read_store(spark, roll, ROLLUP)


def q201_revenue_rollup_cube(spark: SparkSession, sf: str) -> DataFrame:
    """OLAP ROLLUP (GROUPING SETS): per-(region, order-year) order
    counts and cent-sums with the year subtotals and grand total in
    ONE pass — Spark's native `rollup` expands the grouping sets
    inside a single aggregation (Expand + one shuffle), and
    `grouping_id()` disambiguates subtotal rows exactly as SQL
    GROUPING does.  Dims broadcast; integer cents."""
    region = F.broadcast(_t(spark, sf, "region"))
    nation = F.broadcast(_t(spark, sf, "nation"))
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    j = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            "r_name",
            F.year("o_orderdate").alias("o_year"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias(
                "cents"
            ),
        )
    )
    return j.rollup("r_name", "o_year").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.grouping_id().cast("long").alias("gid"),
    )


def q202_metric_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-user event matrix (q119's pivot)
    turned back into long (user_id, metric, n) form — the
    dashboard-to-warehouse round trip.  Spark's `unpivot` is a
    zero-shuffle Expand over the already-aggregated wide rows; zero
    counts are kept (a melted matrix is dense by contract)."""
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = ev.groupBy("user_id").pivot("event_type", types).agg(
        F.count(F.lit(1))
    )
    wide = wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
    )
    return wide.unpivot(
        "user_id", types, "metric", "n"
    )


def q203_value_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """NTILE decile profiling: per event type, the value distribution
    cut into 10 equal-count buckets with per-bucket count/min/max —
    the feature-binning pass before quantile-based quality gates.
    NO low-cardinality window (event_type has ~5 values — ntile over
    it would sort 1/5 of the fact table in ONE task at 100 TB):
    ``grouped_row_number`` range-partitions on (event_type, cv, id),
    ranks locally, recomposes with broadcast per-(group, partition)
    offsets, and ``exact_ntile`` turns (rank, group size) into the
    SQL-standard decile with integer arithmetic; then the same grouped
    aggregation.  Values integer-quantized to centi-units so min/max
    hash exactly."""
    from gpt_rag_ingestion_spark.operators.ranking import (
        exact_ntile,
        grouped_row_number,
    )

    ev = _t(spark, sf, "events").select(
        "event_type", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cv"),
    )
    ranked = grouped_row_number(
        ev, ["event_type"], [F.col("cv"), F.col("event_id")],
        rank_col="__rn", n_col="__n",
    )
    return (
        ranked.withColumn(
            "decile", exact_ntile("__rn", "__n", 10).cast("long")
        )
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("cv").alias("min_cv"),
            F.max("cv").alias("max_cv"),
        )
    )


def q204_cdc_conditional_merge(spark: SparkSession, sf: str) -> DataFrame:
    """FULL CONDITIONAL MERGE (Delta MERGE / SQL:2003) applying a CDC
    batch to the orders snapshot: last-writer-wins updates (``s.ver >
    t.ver`` — stale events rejected), tombstone deletes that WIN over
    updates (Delta clause order), and inserts gated on ``NOT
    s.tombstone`` so an unmatched delete marker is a no-op instead of
    a resurrection.  One full-outer join inside affected partitions;
    the oracle recomputes the post-state closed form."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_merge_when,
    )

    orders = _t(spark, sf, "orders")
    base = orders.select(
        "o_orderkey",
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        F.lit(1).cast("long").alias("ver"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.lit(False).alias("tomb"),
    )
    tbl = tempfile.mkdtemp(prefix="q204-cdc-") + "/t"
    snapshot_merge_upsert(
        spark, tbl, base, key="o_orderkey", partition_cols=["bucket"]
    )
    # the CDC batch: fresh updates (%4==0, ver 2), stale updates
    # (%4==1, ver 0 — must be rejected), tombstones (%6==0 — win over
    # the %12==0 overlap with updates), inserts (shifted keys), and
    # unmatched tombstones (shifted keys) that must NOT insert
    # key-unique CDC batch (the operator's Delta-inherited
    # precondition): %12==0 keys are tombstones, not updates — the
    # delete-wins-over-update ordering is exercised by the tombstone
    # rows themselves (ver 9 satisfies the update condition too)
    upd = base.filter(
        (F.col("o_orderkey") % 4 == 0) & (F.col("o_orderkey") % 6 != 0)
    ).select(
        "o_orderkey", "bucket", F.lit(2).cast("long").alias("ver"),
        (F.col("cents") + 7).alias("cents"), F.lit(False).alias("tomb"),
    )
    stale = base.filter(F.col("o_orderkey") % 4 == 1).select(
        "o_orderkey", "bucket", F.lit(0).cast("long").alias("ver"),
        F.lit(-1).cast("long").alias("cents"), F.lit(False).alias("tomb"),
    )
    dels = base.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey", "bucket", F.lit(9).cast("long").alias("ver"),
        F.lit(0).cast("long").alias("cents"), F.lit(True).alias("tomb"),
    )
    ins = base.filter(F.col("o_orderkey") % 10 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "bucket", F.lit(1).cast("long").alias("ver"),
        F.lit(4200).cast("long").alias("cents"), F.lit(False).alias("tomb"),
    )
    dead_ins = base.filter(F.col("o_orderkey") % 10 == 3).select(
        (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
        "bucket", F.lit(1).cast("long").alias("ver"),
        F.lit(0).cast("long").alias("cents"), F.lit(True).alias("tomb"),
    )
    cdc = upd.unionByName(stale).unionByName(dels).unionByName(
        ins
    ).unionByName(dead_ins)
    snapshot_merge_when(
        spark, tbl, cdc, key="o_orderkey", partition_cols=["bucket"],
        matched_update="s.ver > t.ver",
        matched_delete="s.tomb",
        insert_condition="NOT s.tomb",
    )
    return read_snapshot_table(spark, tbl).select(
        "o_orderkey", "ver", "cents", "tomb"
    )


def q205_dynamic_partition_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING: the fact table is laid out
    partitioned by ship-year, the dimension filter (1997 order
    priorities) is only known at RUN time through the join — Catalyst
    injects a dynamicpruning subquery on the fact scan so only the
    partitions the dimension admits are read (the star-schema
    scale saver: a 100 TB fact table reads one year, not all).
    The layout write is part of the query (idempotent per sf dir);
    the oracle recomputes from the raw table, proving pruning never
    changes results."""
    import tempfile

    li = _t(spark, sf, "lineitem")
    fact_dir = (
        tempfile.gettempdir()
        + f"/q205-fact-{sf.strip('/').replace('/', '_')}"
    )
    import os

    if not os.path.exists(fact_dir + "/_SUCCESS"):
        li.withColumn("ship_year", F.year("l_shipdate")).write.mode(
            "overwrite"
        ).partitionBy("ship_year").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # the admitted year set is RUNTIME-ONLY: a date-range predicate on
    # the dimension implies year 1997, but Catalyst cannot fold a
    # range into year() — only DPP's runtime subquery can prune the
    # fact partitions (a static `ship_year == 1997` here would
    # constant-propagate through the join and bypass DPP entirely)
    years = (
        _t(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select(F.year("o_orderdate").alias("ship_year"))
        .distinct()
    )
    j = fact.join(years, on="ship_year")
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long").alias("sum_cents"),
    )


def q206_unconverted_impressions(spark: SparkSession, sf: str) -> DataFrame:
    """The LEFT-OUTER interval join's batch oracle twin (q97 is the
    inner form): every view event, joined to the click events of the
    same user within 10 minutes AFTER it — views with no such click
    emit once with NULL click columns (the unconverted-impressions
    feed the streaming runner produces incrementally with
    how='left_outer').  ONE definition shared with the streaming
    path (interval_join_streams), so the hash check here certifies
    the stream's join semantics too."""
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        interval_join_streams,
    )

    ev = _t(spark, sf, "events")
    imps = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = interval_join_streams(
        clicks, imps, max_delay_minutes=10, how="left_outer"
    )
    return out.select(
        "user_id", "impression_id", "click_id",
        F.unix_micros("imp_ts").alias("imp_us"),
        F.unix_micros("click_ts").alias("click_us"),
    )


def q207_scoring_profile(spark: SparkSession, sf: str) -> DataFrame:
    """The COMPOSED scoring profile (the search service's full model):
    BM25 × (1 + magnitude(n_chars) + tag(source/lang ∩ query tags)) —
    longer docs boost linearly inside a clamped range, and each query
    carries its own tag set so the same doc ranks differently per
    caller (the personalization function).  Sum aggregation, linear
    interpolation, integer per-mille — hash-exact against the oracle
    recomputing the identical profile in SQL."""
    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        scoring_profile_topk,
    )

    docs = _t(spark, sf, "documents")
    index = build_text_index(docs)
    values = docs.select(
        F.col("doc_id").alias("doc"),
        F.col("n_chars").cast("long").alias("value"),
    )
    doc_tags = docs.select(
        F.col("doc_id").alias("doc"),
        F.array("source", "lang").alias("tags"),
    )
    qdf = _bm25_query_df(spark)
    # deterministic per-query tag sets: even queries prefer English
    # wiki-ish sources, odd ones Chinese src1 docs
    query_tags = qdf.select(
        "query_id",
        F.when(
            F.expr("CAST(substring(query_id, 2) AS INT) % 2 = 0"),
            F.array(F.lit("en"), F.lit("src0")),
        ).otherwise(F.array(F.lit("zh"), F.lit("src1"))).alias("qtags"),
    )
    return scoring_profile_topk(
        index, qdf,
        functions=[
            {"type": "magnitude", "values": values, "range_min": 100,
             "range_max": 500, "weight_permille": 300},
            {"type": "tag", "doc_tags": doc_tags,
             "query_tags": query_tags, "weight_permille": 400},
        ],
        k=10,
    )


def q208_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary):
    each customer's days-since-last-order, order count, and cent
    total, each cut into quintiles, and the composite `532`-style
    segment code.  NO unpartitioned window: each dimension ranks via
    ``distributed_row_number`` (range-partition + local rank +
    broadcast offsets) on a two-column projection, and the quintile
    comes from exact ntile arithmetic over (rank, n) — at 1.5B
    customers the rollup never funnels through one sort task.
    Recency quintile 5 = most recent."""
    from gpt_rag_ingestion_spark.operators.ranking import (
        distributed_row_number,
    )

    orders = _t(spark, sf, "orders")
    anchor = orders.agg(F.max("o_orderdate")).first()[0]
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(anchor), F.max("o_orderdate")).cast("long").alias(
            "days_since"
        ),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("cents"),
    )
    n = per_cust.count()
    q_, r_ = n // 5, n % 5
    boundary = r_ * (q_ + 1)
    d = max(q_, 1)

    def quintile(order_cols, out_col):
        # exact ntile(5) from the global rank: the first n%5 buckets
        # hold n div 5 + 1 rows, the rest n div 5 (the SQL-standard
        # definition both engines implement)
        ranked = distributed_row_number(
            per_cust.select("o_custkey", "days_since", "n_orders", "cents"),
            order_cols, rank_col="__rn",
        )
        tile = F.expr(
            f"CASE WHEN __rn <= {boundary} THEN (__rn + {q_}) div {q_ + 1} "
            f"ELSE {r_} + (__rn - {boundary} + {d} - 1) div {d} END"
        )
        return ranked.select(
            "o_custkey", (6 - tile).cast("long").alias(out_col)
        )

    rq = quintile([F.asc("days_since"), F.asc("o_custkey")], "r_q")
    fq = quintile([F.desc("n_orders"), F.asc("o_custkey")], "f_q")
    mq = quintile([F.desc("cents"), F.asc("o_custkey")], "m_q")
    seg = per_cust.join(rq, "o_custkey").join(fq, "o_custkey").join(
        mq, "o_custkey"
    )
    return seg.select(
        "o_custkey", "days_since", "n_orders", "cents",
        "r_q", "f_q", "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).alias(
            "segment"
        ),
    )


def q209_last_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION: each purchase is credited to the same
    user's most recent click within the 7 preceding days — the as-of
    join expressed as one window pass over the interleaved event
    stream (clicks and purchases union-sorted per user; a running
    `last(click) ignore nulls` carries the candidate, the window
    predicate re-checks it), so no join blowup for power users with
    thousands of clicks.  Unattributed purchases stay with NULL
    click."""
    ev = _t(spark, sf, "events")
    mixed = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "event_id", "event_type",
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_us = F.when(F.col("event_type") == "click", F.col("us"))
    attributed = mixed.select(
        "*",
        F.last(click_id, ignorenulls=True).over(w).alias("last_click"),
        F.last(click_us, ignorenulls=True).over(w).alias("last_click_us"),
    ).filter(F.col("event_type") == "purchase")
    window_us = 7 * 86400 * 1000000
    return attributed.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("us").alias("purchase_us"),
        F.when(
            F.col("last_click_us") >= F.col("us") - window_us,
            F.col("last_click"),
        ).alias("click_id"),
    )


def q210_grouped_median_exact(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT grouped median without floats: the interpolated median is
    rational with denominator 2, so ``median × 2`` is an integer —
    odd-count groups contribute twice the middle rank's value, even
    ones the sum of the two middle ranks.  Ranks come from
    ``grouped_row_number`` (range-partition + local rank + broadcast
    per-(group, partition) offsets) — NOT a window partitioned on the
    ~5-value event_type, which would sort 1/5 of the fact table in one
    task at scale; conditional sums per group; hash-exact in any
    engine (the usual percentile_cont is float and
    engine-divergent)."""
    from gpt_rag_ingestion_spark.operators.ranking import (
        grouped_row_number,
    )

    ev = _t(spark, sf, "events").select(
        "event_type", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cv"),
    )
    ranked = grouped_row_number(
        ev, ["event_type"], [F.col("cv"), F.col("event_id")],
        rank_col="rn", n_col="n",
    )
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("n div 2 + 1")
    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(F.col("rn") == lo, F.col("cv")).otherwise(0)
            + F.when((F.col("rn") == hi) & (hi != lo), F.col("cv")).otherwise(0)
            + F.when((F.col("rn") == lo) & (hi == lo), F.col("cv")).otherwise(0)
        ).cast("long").alias("median_x2"),
    )


def q211_pareto_frontier(spark: SparkSession, sf: str) -> DataFrame:
    """PARETO / ABC analysis: customers sorted by revenue descending,
    cumulative share in integer per-mille, flagged while the RUNNING
    total (exclusive of the current row) is still under 80%.  The
    prefix sum is ``distributed_running_sum`` (range-partition +
    local prefix + broadcast partition offsets) — no unpartitioned
    window, so the classic 'heads covering 80%' cut survives a
    1.5B-customer rollup."""
    from gpt_rag_ingestion_spark.operators.ranking import (
        distributed_running_sum,
    )

    orders = _t(spark, sf, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("cents")
    )
    total = int(per_cust.agg(F.sum("cents")).first()[0])
    cum = distributed_running_sum(
        per_cust,
        [F.desc("cents"), F.asc("o_custkey")],
        "cents", sum_col="cum",
    )
    return cum.select(
        "o_custkey", "cents",
        F.expr(f"(1000 * cum) div {total}").alias("cum_permille"),
        ((F.col("cum") - F.col("cents")) * 5 < F.lit(total) * 4).alias(
            "in_top80"
        ),
    )


def q212_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """INTRA-document line dedup (RefinedWeb per-doc boilerplate
    removal — distinct from q91's corpus-wide span removal): the query
    plants a duplicate line per document (the first sentence appended
    at the end), and the operator must collapse exactly it while
    preserving original order.  Shuffles (doc, line, pos) only —
    no cross-document state."""
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        dedup_lines_within_doc,
    )

    docs = _t(spark, sf, "documents")
    lines = F.split(F.col("text"), r"\. ")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.array_join(lines, "\n"), F.lit("\n"), F.element_at(lines, 1)
        ).alias("text"),
    )
    out = dedup_lines_within_doc(planted)
    return out.select(
        "doc_id", F.md5(F.col("text")).alias("text_md5"),
        "n_lines", "n_removed",
    )


def q213_vocab_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """TOKENIZER ROUND-TRIP AUDIT: encode every document with the
    frequency-ranked vocab (min_freq=3, so OOVs exist), decode the id
    sequences back, and report the reconstruction — decode(encode(x))
    equals the whitespace-normalized original exactly when the doc has
    no OOV tokens (OOVs come back as the sentinel).  The validation
    pass every corpus should run before its tokenized shards ship."""
    from gpt_rag_ingestion_spark.operators.vocab import (
        build_vocab,
        decode_with_vocab,
        encode_with_vocab,
    )

    docs = _t(spark, sf, "documents")
    vocab = build_vocab(docs, min_freq=3)
    enc = encode_with_vocab(docs, vocab)
    dec = decode_with_vocab(enc, vocab)
    return enc.select("doc_id", "n_tokens", "n_oov").join(
        dec.select("doc_id", F.md5(F.col("text")).alias("decoded_md5")),
        on="doc_id",
    )


def q214_autocomplete_two_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Autocomplete ``twoTerms`` mode (the search service's other
    autocomplete verb; q160 covers oneTerm): complete the partial
    term and append its most likely FOLLOWING term, ranked by bigram
    frequency — per-document lead() window + grouped count, prefix
    probe broadcast against the bigram vocabulary."""
    from gpt_rag_ingestion_spark.operators.search import (
        autocomplete_two_terms,
    )

    docs = _t(spark, sf, "documents")
    prefixes = spark.createDataFrame(
        [("sp",), ("ta",), ("que",), ("wi",)], "prefix string"
    )
    return autocomplete_two_terms(docs, prefixes, k=5)


def q215_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the revenue VIEW (per-supplier
    quarterly revenue) feeds a max-revenue selection — the correlated
    `= (SELECT max(...))` decorrelated into a 1-row broadcast join,
    so ties all emerge (Q15's defined semantics) and the view
    aggregates once, not once per comparison.  Centi-cent exact.
    Completes the feasible TPC-H set on this star schema (every query
    not needing partsupp/receiptdate columns): 1,3,4,5,6,7,8,10,12,
    13,14,15,17,18,19,21,22."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(_rev_cc()).cast("long").alias("total_revenue_cc")
    )
    mx = revenue.agg(
        F.max("total_revenue_cc").alias("__mx")
    )
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(
            F.broadcast(mx),
            revenue.total_revenue_cc == F.col("__mx"),
        )
        .join(supp, revenue.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_cc")
    )


def q216_streaming_cdf_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING job-level IVM as a gate query (r7 brief #6): three
    AvailableNow drains of a JSON landing zone through
    streaming/micro_batch.run_incremental_ingest with
    ``rollup_mode="cdf"`` — tick 1 bulk-ingests,
    tick 2 adds new documents (CDF inserts), tick 3 RE-SENDS a slice
    of tick 1's documents with extended text (delete-then-insert merge
    → CDF deletes + inserts, chunk counts change).  After the drains
    the per-document rollup — maintained purely from the
    chunks table's change feed, never rescanned — is FULL-OUTER
    compared against a fresh recompute over the final table; any
    divergence in chunk count or char sum flips ``rollup_ok`` and
    hash-mismatches the closed-form oracle (the q144 self-verifying
    invariant pattern).  Reference parity: the admin file-list view
    the reference re-pages per tick (blob_storage_indexer.py:821-897),
    held fresh at O(changed partitions) per micro-batch."""
    import tempfile

    from gpt_rag_ingestion_spark.operators import batch_manifest as bm
    from gpt_rag_ingestion_spark.operators.incremental import ROLLUP
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
    )
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_ingest,
    )

    _ensure_shipped(spark)
    docs = _t(spark, sf, "documents").select("doc_id", "text", "source")
    base = tempfile.mkdtemp(prefix="q216-cdf-")
    landing = f"{base}/landing"
    snap, roll, ckpt = f"{base}/snap", f"{base}/roll", f"{base}/ckpt"
    b1 = docs.filter("doc_id % 4 = 1")
    b2 = docs.filter("doc_id % 4 = 2")
    b3 = docs.filter("doc_id % 8 = 1").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" appended update tail making this document longer"),
        ),
    )
    for batch in (b1, b2, b3):
        batch.coalesce(1).write.mode("append").json(landing)
        run_incremental_ingest(
            spark, landing, snap, ckpt,
            schema="doc_id LONG, text STRING, source STRING",
            rollup_path=roll,
            partition_cols=["source"],
            rollup_mode="cdf",
        )
    maintained = bm.read_store(spark, roll, ROLLUP).select(
        "parent_id", "n_chunks", "chars"
    )
    recompute = read_snapshot_table(spark, snap).groupBy("parent_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.length("content")).cast("long").alias("__chars"),
    )
    cmp = maintained.join(recompute, "parent_id", "full_outer")
    return (
        cmp.select(
            F.regexp_extract("parent_id", "([0-9]+)$", 1)
            .cast("long")
            .alias("doc_id"),
            (
                F.col("n_chunks").eqNullSafe(F.col("__n"))
                & F.col("chars").eqNullSafe(F.col("__chars"))
            ).alias("rollup_ok"),
        )
        .withColumn("was_updated", F.col("doc_id") % 8 == 1)
        .select("doc_id", "was_updated", "rollup_ok")
        .localCheckpoint()  # pin before the tmp dir ages out
    )


def q217_describe_detail(spark: SparkSession, sf: str) -> DataFrame:
    """DESCRIBE DETAIL as a gate query (r7 brief #8): build a
    partitioned snapshot table (stats enabled, a CHECK constraint, a
    DV-mode delete on top), then emit the metadata card
    ``snapshot_table_detail`` computes WITHOUT a data scan —
    generation, referenced-generation count, partition list, DV row
    count, last op, config flags.  Every field is deterministic from
    the events table, so the oracle states the card in closed form;
    file/byte counts (task-count dependent) are asserted as
    presence booleans.  Delta's `DESCRIBE DETAIL`; reference parity:
    the admin status card blob_storage_indexer.py:821-897 serves."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        snapshot_add_constraint,
        snapshot_delete_keys,
        snapshot_enable_stats,
        snapshot_merge_upsert,
        snapshot_table_detail,
    )

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q217-detail-")
    snap = f"{base}/snap"
    snapshot_enable_stats(spark, snap, cols=["user_id"])
    snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    snapshot_add_constraint(spark, snap, "nonneg_user", "user_id >= 0")
    snapshot_delete_keys(
        spark, snap,
        ev.filter("event_id % 10 = 3").select("event_id"),
        key="event_id", mode="dv",
    )
    d = snapshot_table_detail(spark, snap)
    return spark.createDataFrame(
        [(
            int(d["generation"]),
            int(d["num_referenced_generations"]),
            ",".join(d["partitions"]),
            int(d["dv_rows"]),
            str(d["op"]),
            bool(d["stats_enabled"]),
            bool(d["has_constraints"]),
            bool(d["num_files"] > 0),
            bool(d["size_bytes"] > 0),
            bool(d["cloned_from"] is None),
            # r9: the manifest-stored logical schema (deterministic
            # from the ingest frame above) + partition columns
            ",".join(d["schema"] or []),
            ",".join(d["partition_columns"]),
        )],
        "generation long, n_gens long, partitions string, dv_rows long,"
        " op string, stats_enabled boolean, has_constraints boolean,"
        " has_files boolean, has_bytes boolean, not_cloned boolean,"
        " table_schema string, partition_columns string",
    )


def q218_force_reprocess_backfill(spark: SparkSession, sf: str) -> DataFrame:
    """force_reprocess idempotence as a gate query (r7 brief #8): the
    admin re-chunk-everything backfill.  Run 1 ingests a corpus slice
    with coarse chunking; run 2 re-lists the SAME corpus with finer
    params but NO force — the freshness watermark makes it a no-op;
    run 3 sets force_reprocess=True — every document re-chunks finer
    (delete-then-insert, no duplicate ids; reference semantics
    blob_storage_indexer.py:614-615); run 4 replays the backfill —
    bit-identical table.  Per-document invariants (no-op held, finer
    produced strictly more chunks, replay identical in ids AND
    content) are computed Spark-side and stated closed-form by the
    oracle (q144 pattern)."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
    )
    from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job

    _ensure_shipped(spark)
    docs = (
        _t(spark, sf, "documents")
        .filter("doc_id % 5 = 0 AND n_chars >= 300")
        .select(
            F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
            .alias("doc_key"),
            "text",
            F.lit("2026-01-01 00:00:00").cast("timestamp")
            .alias("last_modified"),
        )
    )
    base = tempfile.mkdtemp(prefix="q218-backfill-")
    table = f"{base}/chunks"
    fine = dict(max_tokens=16, overlap=4, min_tokens=2, embedding_dim=8)

    def snap_counts():
        return (
            read_snapshot_table(spark, table)
            .groupBy("parent_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.md5(
                    F.concat_ws(
                        "|", F.sort_array(F.collect_list(
                            F.concat_ws(":", "id", F.md5("content"))
                        ))
                    )
                ).alias("sig"),
            )
            .localCheckpoint()
        )

    run_ingest_job(
        spark, docs, table, "r1",
        max_tokens=64, overlap=8, min_tokens=4, embedding_dim=8,
    )
    c1 = snap_counts()
    run_ingest_job(spark, docs, table, "r2", **fine)   # no force: no-op
    c2 = snap_counts()
    run_ingest_job(spark, docs, table, "r3", force_reprocess=True, **fine)
    c3 = snap_counts()
    run_ingest_job(spark, docs, table, "r4", force_reprocess=True, **fine)
    c4 = snap_counts()

    def pick(df, tag):
        return df.select(
            "parent_id",
            F.col("n").alias(f"n_{tag}"),
            F.col("sig").alias(f"sig_{tag}"),
        )

    j = (
        pick(c1, "1").join(pick(c2, "2"), "parent_id")
        .join(pick(c3, "3"), "parent_id")
        .join(pick(c4, "4"), "parent_id")
    )
    return j.select(
        F.regexp_extract("parent_id", "([0-9]+)$", 1)
        .cast("long").alias("doc_id"),
        (F.col("sig_1") == F.col("sig_2")).alias("noop_without_force"),
        (F.col("n_3") > F.col("n_2")).alias("finer_after_force"),
        (F.col("sig_3") == F.col("sig_4")).alias("replay_idempotent"),
    )


def q219_concurrent_writers(spark: SparkSession, sf: str) -> DataFrame:
    """OPTIMISTIC CONCURRENCY as a gate query: two writers race REAL
    merges onto one snapshot table from separate threads — writer A
    doubles the cents of buckets 0-1, writer B adds 5 to buckets 2-3 —
    with ``max_conflict_rebases`` on.  Their write sets are disjoint,
    so whichever commits second REBASES its manifest onto the winner
    instead of aborting (Delta's conflict-resolution rule), and the
    final table is the same union whichever order the race resolves —
    which is exactly why a closed-form oracle can exist for a
    nondeterministic schedule.  The N-ingest-jobs-one-100TB-table
    pattern."""
    import tempfile
    import threading

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
    )

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q219-occ-")
    snap = f"{base}/snap"
    snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    start = threading.Barrier(2)
    errs: list = []

    def writer(pred, col):
        try:
            inc = ev.filter(pred).withColumn("cents", col)
            start.wait(timeout=120)
            snapshot_merge_upsert(
                spark, snap, inc, key="event_id",
                partition_cols=["bucket"], max_conflict_rebases=8,
            )
        except BaseException as e:   # surfaced below
            errs.append(e)

    ts = [
        threading.Thread(
            target=writer, args=("bucket IN (0, 1)", F.col("cents") * 2)
        ),
        threading.Thread(
            target=writer, args=("bucket IN (2, 3)", F.col("cents") + 5)
        ),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
    if errs:
        raise errs[0]
    return read_snapshot_table(spark, snap).select(
        "event_id", "user_id", "cents", "bucket"
    ).localCheckpoint()


def q220_clone_survives_vacuum(spark: SparkSession, sf: str) -> DataFrame:
    """CLONE-AWARE VACUUM as a gate query (r7 brief #3): branch a
    snapshot table with a zero-copy shallow clone, advance the SOURCE
    past every shared generation (full-table merge), then vacuum the
    source at the most aggressive retention — the clone must still
    read its branch point BIT-EXACTLY because vacuum refuses to
    delete generations a registered live clone references (the
    ``_clones`` breadcrumb registry).  The oracle states the branch
    point in closed form over the raw events table, so any row the
    vacuum wrongly reclaimed (or any stale row leaking from the
    advanced source) hash-mismatches; ``vacuum_protected`` pins that
    the guard actually fired (protected_for_clones > 0), not that the
    vacuum happened to skip the generations for another reason."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_clone,
        snapshot_merge_upsert,
        snapshot_vacuum,
    )

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 3).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q220-clonevac-")
    src, cln = f"{base}/src", f"{base}/cln"
    snapshot_merge_upsert(
        spark, src, ev, key="event_id", partition_cols=["bucket"]
    )
    snapshot_clone(spark, src, cln)
    # advance the source past every shared generation
    snapshot_merge_upsert(
        spark, src, ev.withColumn("cents", F.col("cents") * 2),
        key="event_id", partition_cols=["bucket"],
    )
    rep = snapshot_vacuum(spark, src, keep_snapshots=1)
    return (
        read_snapshot_table(spark, cln)
        .select("event_id", "user_id", "cents", "bucket")
        .withColumn(
            "vacuum_protected",
            F.lit(bool(rep["protected_for_clones"] > 0)),
        )
        .localCheckpoint()
    )


def q221_boilerplate_strip(spark: SparkSession, sf: str) -> DataFrame:
    """LINE-LEVEL boilerplate removal (jusText/C4-style, the cleanup
    between extraction and quality gates): each document gets planted
    boilerplate — an ASCII separator row and a digit-heavy footer —
    around its prose, and ``strip_boilerplate`` must drop exactly the
    short/symbol-heavy lines.  The whole pass is JVM higher-order
    functions (split → filter(lambda) → array_join) in codegen — no
    shuffle, no Python — and the oracle replicates the identical
    integer line-predicate over the identically planted text."""
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        strip_boilerplate,
    )

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("==========================================\n"),
            F.col("text"),
            F.lit("\nid "),
            F.lpad(F.col("doc_id").cast("string"), 30, "0"),
            F.lit(" 000 111 222 333"),
        ).alias("text"),
    )
    out = strip_boilerplate(docs, "text", out_col="clean")
    return out.select(
        "doc_id", "n_lines", "n_kept",
        F.length("clean").cast("long").alias("kept_len"),
    )


def q222_card_scrub_luhn(spark: SparkSession, sf: str) -> DataFrame:
    """PII: checksum-verified credit-card scrubbing.  Every document
    gets a planted 16-digit PAN whose Luhn check digit is CORRECT for
    even doc_ids and off-by-one for odd ones — the scrubber must mask
    exactly the valid ones (a 16-digit order id that fails mod-10 is
    not a card; the false-positive control real scrubbers use).  Both
    the check-digit construction and the scrub are replicated
    verbatim by the oracle, so the hash pins candidate extraction,
    the Luhn lambda, and the replace fold."""
    from gpt_rag_ingestion_spark.operators.pii import scrub_card_numbers

    base15 = "lpad(CAST(doc_id AS STRING), 15, '4')"
    d = f"CAST(substr({base15}, 17 - i, 1) AS INT)"
    s_sum = (
        "aggregate(sequence(2, 16), 0, (acc, i) -> acc + "
        f"CASE WHEN i % 2 = 0 THEN IF({d} * 2 > 9, {d} * 2 - 9, {d} * 2) "
        f"ELSE {d} END)"
    )
    check = (
        f"CASE WHEN doc_id % 2 = 0 THEN (10 - {s_sum} % 10) % 10 "
        f"ELSE ((10 - {s_sum} % 10) % 10 + 1) % 10 END"
    )
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.expr(
            f"concat(text, ' pay ', {base15}, CAST({check} AS STRING))"
        ).alias("text"),
    )
    out = scrub_card_numbers(docs, "text", out_col="clean")
    return out.select(
        "doc_id",
        F.col("n_card_candidates").cast("long").alias("n_candidates"),
        F.col("n_luhn_valid").cast("long").alias("n_valid"),
        F.length("clean").cast("long").alias("scrubbed_len"),
    )


def q223_overlap_merge_race(spark: SparkSession, sf: str) -> DataFrame:
    """OCC OVERLAP FALLBACK as a gate query (r8 verdict #3, the q219
    companion): two writers race real merges whose write sets share
    EVERY partition (writer A re-ingests event_id % 3 = 0, writer B
    % 3 = 1 — both spread over all four buckets) but touch disjoint
    KEYS.  A rebase is impossible (overlapping partitions), so the
    loser must RETRY THE WHOLE MERGE against the winner's snapshot
    (Delta's non-disjoint ConcurrentAppend resolution); because the
    increments derive from the immutable source (never from the
    table), the retry is idempotent and the outcome is
    schedule-independent — hence a closed-form oracle for a
    nondeterministic race."""
    import tempfile
    import threading

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
    )

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q223-overlap-")
    snap = f"{base}/snap"
    snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    start = threading.Barrier(2)
    errs: list = []

    def writer(pred, col):
        try:
            inc = ev.filter(pred).withColumn("cents", col)
            start.wait(timeout=120)
            snapshot_merge_upsert(
                spark, snap, inc, key="event_id",
                partition_cols=["bucket"], max_conflict_rebases=8,
            )
        except BaseException as e:   # surfaced below
            errs.append(e)

    ts = [
        threading.Thread(
            target=writer, args=("event_id % 3 = 0", F.col("cents") * 2)
        ),
        threading.Thread(
            target=writer, args=("event_id % 3 = 1", F.col("cents") + 5)
        ),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
    if errs:
        raise errs[0]
    return read_snapshot_table(spark, snap).select(
        "event_id", "user_id", "cents", "bucket"
    ).localCheckpoint()


def q224_schema_evolution_merge(spark: SparkSession, sf: str) -> DataFrame:
    """SCHEMA EVOLUTION through the partitioned snapshot merge: the
    second increment carries a NEW column (``src``); pre-evolution
    rows read it back as NULL, the manifest's stored schema appends
    the column while keeping the original order stable (r9 schema
    tracking), and the evolved schema is returned inline so the hash
    pins it.  Delta's mergeSchema semantics on this engine's
    manifest-pointer sink."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_table_detail,
    )

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q224-evolve-")
    snap = f"{base}/snap"
    snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    inc = ev.filter("event_id % 5 = 0").withColumn(
        "cents", F.col("cents") + 1
    ).withColumn(
        "src", F.concat(F.lit("s"), (F.col("event_id") % 3).cast("string"))
    )
    snapshot_merge_upsert(
        spark, snap, inc, key="event_id", partition_cols=["bucket"]
    )
    d = snapshot_table_detail(spark, snap)
    return read_snapshot_table(spark, snap).select(
        "event_id", "cents",
        F.coalesce(F.col("src"), F.lit("<null>")).alias("src"),
        F.lit(",".join(d["schema"])).alias("table_schema"),
    ).localCheckpoint()


def q225_snapshot_update_where(spark: SparkSession, sf: str) -> DataFrame:
    """UPDATE ... SET ... WHERE as a gate query: two sequential
    updates through ``snapshot_update`` (executed as keyed merges, so
    they inherit the commit protocol) — a value bump on one predicate,
    then a PARTITION-COLUMN move on another (legal: the merge's
    semi-join removes the row from its old bucket directory).  Rows
    matching both predicates see both effects in order; the oracle
    states the composition closed-form from raw events."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_update,
    )

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q225-update-")
    snap = f"{base}/snap"
    snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    snapshot_update(
        spark, snap, "user_id % 7 = 0", {"cents": "cents + 1000"},
        key="event_id", partition_cols=["bucket"],
    )
    snapshot_update(
        spark, snap, "event_id % 11 = 0",
        {"bucket": "CAST(pmod(bucket + 1, 4) AS INT)"},
        key="event_id", partition_cols=["bucket"],
    )
    return read_snapshot_table(spark, snap).select(
        "event_id", "user_id", "cents", "bucket"
    ).localCheckpoint()


def q226_generated_columns(spark: SparkSession, sf: str) -> DataFrame:
    """GENERATED ALWAYS AS columns (Delta's generated columns) as a
    gate query: declare ``bucket`` and ``day`` as generation
    expressions ONCE, then merge increments that do NOT carry them —
    every commit computes them from the declaration (the standard
    derived-partition-column pattern, so callers can never forget the
    partition key).  The oracle recomputes both expressions from raw
    events."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_set_generated_columns,
    )

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    base = tempfile.mkdtemp(prefix="q226-gencol-")
    snap = f"{base}/snap"
    snapshot_set_generated_columns(
        spark, snap,
        {
            "bucket": "CAST(pmod(event_id, 4) AS INT)",
            "day": "date_format(ts, 'yyyy-MM-dd')",
        },
    )
    snapshot_merge_upsert(
        spark, snap, ev.filter("event_id % 2 = 0"),
        key="event_id", partition_cols=["bucket"],
    )
    snapshot_merge_upsert(
        spark, snap, ev.filter("event_id % 2 = 1"),
        key="event_id", partition_cols=["bucket"],
    )
    return read_snapshot_table(spark, snap).select(
        "event_id", "cents", "bucket", "day"
    ).localCheckpoint()


def q227_nation_year_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 SHAPE (product-type profit by nation and year), the
    profit PROXY feasible on this star schema (no partsupp, so no
    ps_supplycost term — documented deviation): part-name LIKE filter
    -> 4-way join (part ⋈ lineitem ⋈ supplier ⋈ nation, orders for the
    year) -> group by (nation, year).  Dimensions broadcast; the fact
    table never shuffles before its partial aggregation.  Centi-cent
    exact."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(
        F.col("p_name").contains("a")
        & (F.col("p_size") % 3 == 0)
    ).select("p_partkey")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    ords = _t(spark, sf, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("n_name", "o_year")
        .agg(F.sum(_rev_cc()).cast("long").alias("profit_cc"))
        .select(
            F.col("n_name").alias("nation"), "o_year", "profit_cc"
        )
    )


def q228_contingency_expected(spark: SparkSession, sf: str) -> DataFrame:
    """CONTINGENCY-TABLE ANALYSIS (feature association, the
    chi-square building block): observed vs expected counts for the
    event_type × value-band cross-tab, with the expected count
    ``row_total * col_total / N`` carried in EXACT integer
    ten-thousandths (``div``-based fixed point — no floating division
    anywhere, so any engine reproduces the table bit-for-bit).  One
    grouped count + two broadcast marginals — no shuffle of the fact
    table beyond the partial-aggregated groupBy."""
    ev = _t(spark, sf, "events").select(
        "event_type",
        F.least(
            F.floor(F.col("value") / 25).cast("int"), F.lit(3)
        ).alias("band"),
    )
    obs = ev.groupBy("event_type", "band").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    rows = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("row_n")
    )
    cols = ev.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("col_n")
    )
    n = ev.count()
    return (
        obs.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "band")
        .select(
            "event_type", "band", "obs",
            F.expr(f"(row_n * col_n * 10000) div {int(n)}")
            .cast("long").alias("expected_e4"),
        )
    )


def q229_sentence_dedup_global(spark: SparkSession, sf: str) -> DataFrame:
    """CROSS-document sentence dedup, keep-first-global (the C4-style
    corpus-wide complement of q212's intra-doc line dedup): documents
    are re-sentenced deterministically (8-word sentences) and every
    doc_id gets a PLANTED sentence shared by its doc_id % 17 cohort —
    the operator must keep each shared sentence only in its
    lowest-(doc_id, pos) occurrence and reassemble every other
    document without it, original order preserved.  One
    sentence-keyed shuffle + one per-doc re-aggregation; no
    corpus-wide window."""
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        dedup_sentences_global,
    )

    words = F.split(F.col("text"), " ")
    # words regrouped into 8-word sentences, joined by ". "
    sentences = F.filter(
        F.transform(
            F.sequence(
                F.lit(0),
                F.floor((F.size(words) - 1) / F.lit(8)).cast("int"),
            ),
            lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
        ),
        lambda s: F.length(s) > 0,
    )
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.array_join(sentences, ". "),
            F.lit(". shared boilerplate cohort "),
            (F.col("doc_id") % 17).cast("string"),
        ).alias("text"),
    )
    out = dedup_sentences_global(docs)
    return out.select(
        "doc_id", F.md5(F.col("text")).alias("text_md5"),
        "n_sentences", "n_kept",
    )


def q230_pps_sample(spark: SparkSession, sf: str) -> DataFrame:
    """SYSTEMATIC PPS SAMPLING (corpus mixture by weight): draw ~120
    documents with probability proportional to ``n_chars`` by laying
    all weights on an integer line (distributed prefix sum — range
    partition + offsets, never an unpartitioned window) and taking
    every total/120-th point.  Pure int64 arithmetic end to end (no
    RNG, no pow, no ulp), which is why the oracle reproduces the draw
    EXACTLY — the reproducible-mixture primitive q73's uniform hash
    sampler cannot provide when inclusion must follow weight."""
    from gpt_rag_ingestion_spark.operators.sampling import (
        systematic_pps_sample,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    return systematic_pps_sample(
        docs, ["doc_id"], "n_chars", k=120,
        bucket_expr=(F.col("doc_id") / 64).cast("long"),
    ).select("doc_id", "n_chars", "n_picks")


def q231_snapshot_history(spark: SparkSession, sf: str) -> DataFrame:
    """DESCRIBE HISTORY as a gate query: a scripted commit sequence
    (merge, partitioned merge, conditional merge-when, DV delete,
    restore) must leave exactly the expected (generation, op,
    has_dv, is_current) ledger — oldest first, every manifest still
    readable (nothing vacuumed), only the last row current.  All
    metadata reads; the oracle states the ledger literally, plus the
    row counts at head proving the restore took effect."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_delete_keys,
        snapshot_history,
        snapshot_merge_upsert,
        snapshot_merge_when,
        snapshot_restore,
    )

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q231-history-")
    snap = f"{base}/snap"
    snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    snapshot_merge_upsert(
        spark, snap,
        ev.filter("event_id % 5 = 0").withColumn(
            "cents", F.col("cents") * 2
        ),
        key="event_id", partition_cols=["bucket"],
    )
    snapshot_merge_when(
        spark, snap, ev.filter("event_id % 7 = 0"),
        key="event_id", partition_cols=["bucket"],
        matched_update="s.cents > 0", insert_unmatched=False,
    )
    snapshot_delete_keys(
        spark, snap,
        ev.filter("event_id % 9 = 0").select("event_id"),
        key="event_id", mode="dv",
    )
    snapshot_restore(spark, snap, to_gen=2)
    hist = snapshot_history(spark, snap)
    n_head = read_snapshot_table(spark, snap).count()
    return spark.createDataFrame(
        [(
            int(h["gen"]), str(h["op"]), bool(h["has_dv"]),
            bool(h["current"]), int(n_head),
        ) for h in hist],
        "gen long, op string, has_dv boolean, is_current boolean,"
        " n_rows_at_head long",
    )


def q232_time_travel_versions(spark: SparkSession, sf: str) -> DataFrame:
    """TIME TRAVEL (`AS OF VERSION`) as a gate query: three commits
    evolve the table (full load, doubled cohort, deleted cohort), then
    every retained generation is read back ``at_gen`` and summarized —
    count + exact cents sum per version.  The oracle recomputes each
    snapshot's state closed-form from raw events, proving immutable
    generations really do preserve every version bit-exactly."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_delete_keys,
        snapshot_merge_upsert,
    )

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q232-travel-")
    snap = f"{base}/snap"
    snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    snapshot_merge_upsert(
        spark, snap,
        ev.filter("event_id % 3 = 0").withColumn(
            "cents", F.col("cents") * 2
        ),
        key="event_id", partition_cols=["bucket"],
    )
    snapshot_delete_keys(
        spark, snap,
        ev.filter("event_id % 6 = 1").select("event_id"),
        key="event_id", partition_cols=["bucket"],
    )
    rows = []
    for g in (1, 2, 3):
        t = read_snapshot_table(spark, snap, at_gen=g).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents_sum"),
        ).first()
        rows.append((g, int(t["n"]), int(t["cents_sum"])))
    return spark.createDataFrame(
        rows, "version long, n_rows long, cents_sum long"
    )


def q233_constraint_enforcement(spark: SparkSession, sf: str) -> DataFrame:
    """CHECK-CONSTRAINT enforcement as a gate query (Delta's write-
    time validation): a named constraint is added, a clean increment
    lands, then a VIOLATING increment must be rejected ATOMICALLY —
    SnapshotConstraintViolation raised, table bit-identical to before
    the attempt, generation pointer unmoved, and a DROP CONSTRAINT
    lets the same rows land.  All four facts are returned as data so
    the closed-form oracle pins them alongside the row-level state."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        SnapshotConstraintViolation,
        read_snapshot_table,
        snapshot_add_constraint,
        snapshot_drop_constraint,
        snapshot_merge_upsert,
    )

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q233-constraint-")
    snap = f"{base}/snap"
    snapshot_add_constraint(spark, snap, "nonneg_cents", "cents >= 0")
    gen1 = snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    bad = ev.filter("event_id % 10 = 0").withColumn(
        "cents", F.col("cents") - F.lit(10_000_000)
    )
    caught = False
    try:
        snapshot_merge_upsert(
            spark, snap, bad, key="event_id", partition_cols=["bucket"]
        )
    except SnapshotConstraintViolation:
        caught = True
    after_reject = read_snapshot_table(spark, snap)
    unchanged = bool(
        after_reject.filter("cents < 0").isEmpty()
        and after_reject.count() == ev.count()
    )
    snapshot_drop_constraint(spark, snap, "nonneg_cents")
    gen2 = snapshot_merge_upsert(
        spark, snap, bad, key="event_id", partition_cols=["bucket"]
    )
    return read_snapshot_table(spark, snap).select(
        "event_id", "cents", "bucket",
        F.lit(bool(caught)).alias("violation_caught"),
        F.lit(unchanged).alias("table_unchanged_after_reject"),
        F.lit(int(gen2 - gen1)).cast("long").alias("gens_advanced_after_drop"),
    ).localCheckpoint()


def q234_merge_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE ... WHEN NOT MATCHED BY SOURCE (Delta 2.3 / SQL:2003
    MERGE completeness) as a gate query: a bucket-partitioned snapshot
    table is full-synced against a source slice in ONE merge — matched
    rows update, new rows insert, and target rows ABSENT from the
    source either DELETE (even cents) or mark 'stale' (odd cents),
    with ``by_source_scope="bucket < 6"`` bounding the sync so buckets
    6-7 are kept verbatim AND their partitions never rewrite (the
    O(scope)-not-O(table) lever at 100 TB).  The oracle is the closed
    relational form of all five clauses."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_merge_when,
    )

    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    base = orders.filter(F.col("k") % 3 != 2).withColumn(
        "status", F.lit("live")
    )
    src = orders.filter(F.col("k") % 2 == 0).select(
        "k", "bucket", (F.col("v") + 7).alias("v"), F.lit("live").alias("status")
    )
    tbl = tempfile.mkdtemp(prefix="q234-bysource-") + "/t"
    snapshot_merge_upsert(spark, tbl, base, key="k", partition_cols=["bucket"])
    snapshot_merge_when(
        spark, tbl, src, key="k", partition_cols=["bucket"],
        by_source_delete="t.v % 2 = 0",
        by_source_update={"status": "'stale'"},
        by_source_scope="bucket < 6",
    )
    return read_snapshot_table(spark, tbl).select(
        "k", F.col("bucket").cast("int").alias("bucket"), "v", "status"
    ).localCheckpoint()


def q235_identity_column(spark: SparkSession, sf: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY (Delta identity columns) as a gate
    query: a surrogate key the ENGINE assigns — first commit numbers
    rows 1000,1003,... in key order; a second overlapping commit keeps
    matched rows' identities and extends new rows from the derived
    high-water mark.  Assignment rides
    ranking.distributed_row_number (range-partition + broadcast
    offsets — never an unpartitioned window), and the mark derives
    from the committed table (no side register to race).  The oracle
    replays both commits' numbering in closed form."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_set_identity,
    )

    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    tbl = tempfile.mkdtemp(prefix="q235-identity-") + "/t"
    snapshot_set_identity(spark, tbl, "row_id", start=1000, step=3)
    b1 = orders.filter(F.col("k") % 3 == 0)
    snapshot_merge_upsert(spark, tbl, b1, key="k", partition_cols=["bucket"])
    b2 = orders.filter(F.col("k") % 4 == 0).withColumn(
        "v", F.col("v") + 5
    )
    snapshot_merge_upsert(spark, tbl, b2, key="k", partition_cols=["bucket"])
    return read_snapshot_table(spark, tbl).select(
        "k", F.col("bucket").cast("int").alias("bucket"), "v", "row_id"
    ).localCheckpoint()


_Q236_SEQ = [0]


def q236_stream_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """§2.10 + J7 as a STREAM: stream-static broadcast enrichment
    (streaming/micro_batch.enrich_stream_with_dimension) — the events
    file stream left-joined per micro-batch against the static
    customer dimension (broadcast build side, re-read each batch so a
    slowly-changing dimension picks up updates without a restart),
    drained AvailableNow into a memory sink, then rolled up.  The
    oracle is the identical static join+rollup — stream-static
    equi-join semantics are exactly batch semantics per batch."""
    import tempfile

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        enrich_stream_with_dimension,
    )

    _ensure_shipped(spark)
    dim = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = (
        spark.readStream.schema(_EVENTS_READ_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
        .select("event_id", "user_id", "event_type")
    )
    enriched = enrich_stream_with_dimension(
        stream, dim, on="user_id",
        select_cols=["event_id", "event_type", "c_mktsegment"],
    )
    _Q236_SEQ[0] += 1
    name = f"q236_stream_static_{_Q236_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="q236-ckpt-")
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q237_overwrite_where(spark: SparkSession, sf: str) -> DataFrame:
    """INSERT OVERWRITE ... WHERE (Delta replaceWhere) as a gate
    query — the backfill idiom: recompute one slice (bucket < 3 AND
    even cents) and swap it in atomically.  Matching rows die,
    replacement rows land (validated to satisfy the predicate),
    non-matching rows in affected partitions carry verbatim, and
    buckets 3-7 never rewrite.  Oracle is the closed relational form
    of delete-matching-then-insert."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_overwrite_where,
    )

    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    base = orders.withColumn("status", F.lit("old"))
    tbl = tempfile.mkdtemp(prefix="q237-replwhere-") + "/t"
    snapshot_merge_upsert(spark, tbl, base, key="k", partition_cols=["bucket"])
    repl = (
        orders.filter(
            (F.col("bucket") < 3) & (F.col("v") % 2 == 0)
            & (F.col("k") % 3 == 0)
        )
        .withColumn("status", F.lit("new"))
    )
    snapshot_overwrite_where(
        spark, tbl, repl, "bucket < 3 AND v % 2 = 0",
        partition_cols=["bucket"],
    )
    return read_snapshot_table(spark, tbl).select(
        "k", F.col("bucket").cast("int").alias("bucket"), "v", "status"
    ).localCheckpoint()


def _q238_dirty_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministically corrupted lineitem for the data-quality gates:
    NULL quantity every 97th order, out-of-band discount every 103rd,
    full duplicates every 101st — each class closed-form recoverable."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )
    dirty = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 97 == 0, F.lit(None)).otherwise(
            F.col("l_quantity")
        ),
    ).withColumn(
        "l_discount",
        F.when(
            F.col("l_orderkey") % 103 == 0, F.col("l_discount") + 1
        ).otherwise(F.col("l_discount")),
    )
    return dirty.unionByName(dirty.filter(F.col("l_orderkey") % 101 == 0))


def q238_quality_report(spark: SparkSession, sf: str) -> DataFrame:
    """DATA-QUALITY EXPECTATIONS (the Delta Live Tables / Great
    Expectations surface, operators/quality.check_rules): row rules
    fold into ONE conditional-sum scan, uniqueness is one hash
    aggregate, referential integrity one broadcast anti-join — exact
    violation counts over a deterministically corrupted lineitem
    (planted NULLs, out-of-band discounts, duplicates, orphaned
    orders).  The oracle recomputes every count in closed form."""
    from gpt_rag_ingestion_spark.operators.quality import check_rules

    dirty = _q238_dirty_lineitem(spark, sf)
    parent = _t(spark, sf, "orders").filter(
        F.col("o_orderkey") % 89 != 0
    ).select("o_orderkey")
    return check_rules(
        dirty,
        row_rules={
            "quantity_present": "l_quantity IS NOT NULL",
            "discount_in_band": "l_discount BETWEEN 0 AND 0.1",
        },
        unique_rules={"line_unique": ["l_orderkey", "l_linenumber"]},
        fk_rules={"order_exists": (parent, ["l_orderkey"], ["o_orderkey"])},
    )


def q239_quality_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """EXPECT-OR-QUARANTINE (DLT's expect_or_drop with a paper trail,
    operators/quality.split_quarantine): failing rows route to a side
    relation carrying the sorted violated-rule names, computed once
    per row in codegen — the ingest pattern that keeps a bad record
    from failing a 100 TB job while losing nothing.  Returns the
    quarantined rows; the oracle derives each row's violation set in
    closed form."""
    from gpt_rag_ingestion_spark.operators.quality import split_quarantine

    dirty = _q238_dirty_lineitem(spark, sf)
    ok, bad = split_quarantine(
        dirty,
        {
            "quantity_present": "l_quantity IS NOT NULL",
            "discount_in_band": "l_discount BETWEEN 0 AND 0.1",
        },
    )
    return bad.select("l_orderkey", "l_linenumber", "violated_rules")


def q240_rename_column(spark: SparkSession, sf: str) -> DataFrame:
    """COLUMN-MAPPING RENAME (Delta ALTER TABLE RENAME COLUMN, name
    mode) as a gate query: commit a partitioned table, rename a data
    column METADATA-ONLY (zero files rewritten — the manifest records
    which generation dirs still carry the old physical name), merge an
    increment under the NEW name (only its buckets rewrite), and read
    back: pre-rename dirs and post-rename dirs union under the new
    logical name.  The returned relation also carries the proof bits —
    rename commit moved the pointer by exactly 1 and rewrote 0
    partitions.  Oracle is the closed form of base-then-increment
    under the final name."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _current_gen,
        _read_manifest,
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_rename_column,
    )

    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    tbl = tempfile.mkdtemp(prefix="q240-rename-") + "/t"
    snapshot_merge_upsert(spark, tbl, orders, key="k", partition_cols=["bucket"])
    g1 = _current_gen(spark, tbl)
    refs1 = dict(_read_manifest(spark, tbl, g1)["partitions"])
    g2 = snapshot_rename_column(spark, tbl, "v", "cents")
    refs2 = dict(_read_manifest(spark, tbl, g2)["partitions"])
    inc = orders.filter(F.col("k") % 5 == 0).select(
        "k", "bucket", (F.col("v") + 11).alias("cents")
    )
    snapshot_merge_upsert(spark, tbl, inc, key="k", partition_cols=["bucket"])
    return read_snapshot_table(spark, tbl).select(
        "k", F.col("bucket").cast("int").alias("bucket"), "cents",
        F.lit(bool(g2 == g1 + 1)).alias("rename_was_one_commit"),
        F.lit(bool(refs1 == refs2)).alias("rename_rewrote_zero_partitions"),
    ).localCheckpoint()


def q241_nested_types_sink(spark: SparkSession, sf: str) -> DataFrame:
    """NESTED AND BINARY TYPES through the whole sink lifecycle:
    STRUCT, ARRAY and BINARY columns ride merge → update-merge → DV
    delete → read-back unchanged (merge arbitration is row-wise, so
    nested values need no column algebra).  Output projects nested
    fields to scalars (the driver canonicalizer takes scalars only);
    the oracle rebuilds every projection in closed form — binary
    round-trips as upper-hex of md5."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_delete_keys,
        snapshot_merge_upsert,
    )

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.struct(
            F.col("user_id"), F.col("event_type")
        ).alias("meta"),
        F.array(
            F.col("user_id") % 10, F.col("user_id") % 7
        ).alias("tags"),
        F.unhex(F.md5(F.col("event_type"))).alias("bin"),
    )
    tbl = tempfile.mkdtemp(prefix="q241-nested-") + "/t"
    snapshot_merge_upsert(spark, tbl, ev, key="event_id")
    upd = ev.filter(F.col("event_id") % 4 == 0).withColumn(
        "meta",
        F.struct(
            (F.col("meta.user_id") + 1000).alias("user_id"),
            F.col("meta.event_type").alias("event_type"),
        ),
    )
    snapshot_merge_upsert(spark, tbl, upd, key="event_id")
    doomed = ev.filter(F.col("event_id") % 9 == 0).select("event_id")
    snapshot_delete_keys(spark, tbl, doomed, key="event_id", mode="dv")
    t = read_snapshot_table(spark, tbl)
    return t.select(
        "event_id",
        F.col("meta.user_id").alias("meta_user_id"),
        F.col("meta.event_type").alias("meta_event_type"),
        F.element_at("tags", 1).alias("tag0"),
        F.size("tags").cast("long").alias("n_tags"),
        F.hex(F.col("bin")).alias("bin_hex"),
    ).localCheckpoint()


def q242_ingest_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """INGEST-LEVEL EXPECTATIONS (DLT expect-or-drop wired into
    run_ingest_job): documents planted with an out-of-alphabet marker
    ('_' never occurs in the corpus, so the closed form is exact) are
    chunked, fail the no-underscores rule, and route to the quarantine
    side table with rule names + run id — while the merged chunks
    table provably excludes them (returned as a proof bit).  The
    oracle is one row per planted document."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
    )
    from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job

    docs = _t(spark, sf, "documents").select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias(
            "doc_key"
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("bad_chunk"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias(
            "last_modified"
        ),
    )
    base = tempfile.mkdtemp(prefix="q242-expect-")
    table, qdir = base + "/chunks", base + "/quarantine"
    run_ingest_job(
        spark, docs, table, "run1", max_tokens=30, overlap=4,
        min_tokens=1, embedding_dim=8,
        expectations={"no_underscores": "instr(content, '_') = 0"},
        quarantine_path=qdir,
    )
    merged_clean = (
        read_snapshot_table(spark, table)
        .filter(F.instr(F.col("content"), "_") > 0)
        .count()
        == 0
    )
    return spark.read.parquet(qdir).select(
        "parent_id", "content", "violated_rules",
        F.lit(bool(merged_clean)).alias("merged_excludes_quarantined"),
    ).localCheckpoint()


def q243_dynamic_partition_overwrite(spark: SparkSession, sf: str) -> DataFrame:
    """DYNAMIC PARTITION OVERWRITE (Spark's
    partitionOverwriteMode=dynamic on the snapshot sink,
    snapshot_insert_overwrite_partitions): partitions PRESENT in the
    replacement swap wholesale in one atomic commit, absent ones are
    untouched — the nightly re-partition backfill without a
    hand-written predicate.  The replacement recomputes buckets 2 and
    5 from a filtered slice; the proof bit pins that every other
    bucket kept its manifest ref."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _current_gen,
        _read_manifest,
        read_snapshot_table,
        snapshot_insert_overwrite_partitions,
        snapshot_merge_upsert,
    )

    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    tbl = tempfile.mkdtemp(prefix="q243-dynover-") + "/t"
    snapshot_merge_upsert(spark, tbl, orders, key="k", partition_cols=["bucket"])
    refs1 = dict(
        _read_manifest(spark, tbl, _current_gen(spark, tbl))["partitions"]
    )
    repl = orders.filter(
        F.col("bucket").isin(2, 5) & (F.col("k") % 3 == 0)
    ).withColumn("v", F.col("v") + 3)
    snapshot_insert_overwrite_partitions(
        spark, tbl, repl, partition_cols=["bucket"]
    )
    refs2 = dict(
        _read_manifest(spark, tbl, _current_gen(spark, tbl))["partitions"]
    )
    others_kept = all(
        refs2[r] == refs1[r]
        for r in refs1
        if r not in ("bucket=2", "bucket=5")
    )
    return read_snapshot_table(spark, tbl).select(
        "k", F.col("bucket").cast("int").alias("bucket"), "v",
        F.lit(bool(others_kept)).alias("untouched_buckets_kept_refs"),
    ).localCheckpoint()


def q244_lakehouse_composition(spark: SparkSession, sf: str) -> DataFrame:
    """COMPOSITION GATE (r9 verdict #4): the round-9 lakehouse features
    end-to-end through ONE pipeline, because interactions hide between
    individually-gated features — expectations + quarantine on every
    increment, GENERATED ALWAYS AS IDENTITY across both merges, a
    metadata-only RENAME COLUMN mid-history, and a CDF read-back over
    the post-rename span.  Proof bits ride the output: quarantine
    counts per batch, CDF insert/update counts, and
    rename-rewrote-zero-partitions.  Everything is closed-form (keys
    are unique, so identity numbering is deterministic) and the oracle
    replays the whole composition in SQL."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.quality import split_quarantine
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _current_gen,
        _read_manifest,
        read_snapshot_table,
        snapshot_changes,
        snapshot_merge_upsert,
        snapshot_rename_column,
        snapshot_set_identity,
    )

    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    tbl = tempfile.mkdtemp(prefix="q244-compose-") + "/t"
    snapshot_set_identity(spark, tbl, "sid", start=1, step=1)
    # batch 1: every third order, expect-or-quarantine on a value band
    ok1, bad1 = split_quarantine(
        orders.filter(F.col("k") % 3 == 0), {"v_band": "v % 7 != 3"}
    )
    snapshot_merge_upsert(spark, tbl, ok1, key="k", partition_cols=["bucket"])
    n_bad1 = bad1.count()
    # metadata-only rename mid-history: v -> cents (zero rewrites)
    g_pre = _current_gen(spark, tbl)
    refs_pre = dict(_read_manifest(spark, tbl, g_pre)["partitions"])
    g_ren = snapshot_rename_column(spark, tbl, "v", "cents")
    refs_ren = dict(_read_manifest(spark, tbl, g_ren)["partitions"])
    # batch 2 arrives under the NEW name, same expectation re-based
    ok2, bad2 = split_quarantine(
        orders.filter(F.col("k") % 4 == 0).select(
            "k", "bucket", (F.col("v") + 5).alias("cents")
        ),
        {"cents_band": "cents % 7 != 3"},
    )
    snapshot_merge_upsert(
        spark, tbl, ok2, key="k", partition_cols=["bucket"]
    )
    n_bad2 = bad2.count()
    g_end = _current_gen(spark, tbl)
    # CDF over the post-rename span: batch 2's effect, exactly
    cdf = snapshot_changes(spark, tbl, g_ren, g_end, key="k")
    counts = {
        r["_change_type"]: r["n"]
        for r in cdf.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return read_snapshot_table(spark, tbl).select(
        "k", F.col("bucket").cast("int").alias("bucket"), "cents",
        F.col("sid").cast("long").alias("sid"),
        F.lit(int(n_bad1)).cast("long").alias("n_quarantined_b1"),
        F.lit(int(n_bad2)).cast("long").alias("n_quarantined_b2"),
        F.lit(int(counts.get("insert", 0))).cast("long").alias(
            "n_cdf_inserts"
        ),
        F.lit(int(counts.get("update", 0))).cast("long").alias(
            "n_cdf_updates"
        ),
        F.lit(int(counts.get("delete", 0))).cast("long").alias(
            "n_cdf_deletes"
        ),
        F.lit(bool(refs_pre == refs_ren)).alias(
            "rename_rewrote_zero_partitions"
        ),
    ).localCheckpoint()


def q245_stream_exactly_once_snapshot(
    spark: SparkSession, sf: str
) -> DataFrame:
    """STREAMING SINK INTO THE SNAPSHOT TABLE, EXACTLY-ONCE (r9
    verdict #7, streaming/micro_batch.stream_into_snapshot):
    foreachBatch -> snapshot_merge_upsert carrying the micro-batch id
    as the idempotence token (Delta txnAppId/txnVersion).  The events
    table streams in via AvailableNow; then the gate RE-RUNS the
    drained micro-batch's merge with the same txn id — Spark's
    at-least-once replay of a batch whose checkpoint commit was lost —
    and proves NO DOUBLE-APPLY: the generation pointer did not move
    and the rows hash-match the static batch oracle.  Proof bits ride
    the output."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _current_gen,
        read_snapshot_table,
        snapshot_merge_upsert,
    )
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        stream_into_snapshot,
    )

    _ensure_shipped(spark)
    rollup = (
        lambda df: df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("event_id").alias("max_event_id"),
        )
    )
    stream = (
        spark.readStream.schema(_EVENTS_READ_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
        .select("event_id", "user_id", "event_type")
    )
    base = tempfile.mkdtemp(prefix="q245-stream-")
    table, ckpt = base + "/snap", base + "/ckpt"
    stream_into_snapshot(
        stream, table, ckpt, key="event_id", app_id="q245",
    )
    gen_after = _current_gen(spark, table)
    # crashed-checkpoint replay: re-deliver batch 0 under the same
    # txn id (the exact call stream_into_snapshot's foreachBatch makes)
    replay = _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type"
    )
    snapshot_merge_upsert(
        spark, table, replay, key="event_id",
        txn_app_id="q245", txn_version=0,
    )
    no_double_apply = _current_gen(spark, table) == gen_after
    return rollup(read_snapshot_table(spark, table)).select(
        "user_id", "n_events", "max_event_id",
        F.lit(bool(no_double_apply)).alias("replay_was_noop"),
    ).localCheckpoint()


def q246_idempotent_replay_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """IDEMPOTENT RE-DELIVERY ACROSS THE NON-MERGE WRITE PATHS (r10
    verdict #2): the txn ledger (Delta txnAppId/txnVersion) was
    driver-gated only on the merge path (q245); this gate re-delivers
    the same (app, version) through delete_keys in BOTH modes (rewrite
    and deletion-vector), UPDATE, replaceWhere
    (snapshot_overwrite_where), and dynamic partition overwrite
    (snapshot_insert_overwrite_partitions), asserting after each that
    the generation pointer DID NOT MOVE on replay — plus one final
    re-delivery of the first app after every later commit, proving
    the manifest carry preserves old entries.  The whole op sequence
    is closed-form over orders, so the oracle replays each write
    exactly once in SQL; the proof bit rides the output."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _current_gen,
        read_snapshot_table,
        snapshot_delete_keys,
        snapshot_insert_overwrite_partitions,
        snapshot_merge_upsert,
        snapshot_overwrite_where,
        snapshot_update,
    )

    base = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    ).filter(F.col("k") % 3 == 0)
    tbl = tempfile.mkdtemp(prefix="q246-replay-") + "/t"
    snapshot_merge_upsert(spark, tbl, base, key="k", partition_cols=["bucket"])

    noops: list[bool] = []

    def deliver_twice(fn) -> None:
        g1 = fn()  # first delivery applies
        g2 = fn()  # re-delivery: same (app, version) — must be a no-op
        noops.append(g2 == g1 and _current_gen(spark, tbl) == g1)

    doomed_rw = base.filter(F.col("k") % 5 == 0).select("k")
    deliver_twice(lambda: snapshot_delete_keys(
        spark, tbl, doomed_rw, key="k", partition_cols=["bucket"],
        mode="rewrite", txn_app_id="q246-del-rw", txn_version=0,
    ))
    doomed_dv = base.filter(F.col("k") % 7 == 0).select("k")
    deliver_twice(lambda: snapshot_delete_keys(
        spark, tbl, doomed_dv, key="k", partition_cols=["bucket"],
        mode="dv", txn_app_id="q246-del-dv", txn_version=0,
    ))
    deliver_twice(lambda: snapshot_update(
        spark, tbl, "k % 11 = 0", {"v": "v + 1000"}, key="k",
        partition_cols=["bucket"],
        txn_app_id="q246-upd", txn_version=0,
    ))
    repl3 = base.filter(F.col("bucket") == 3).select(
        "k", "bucket", (F.col("v") * 2).alias("v")
    )
    deliver_twice(lambda: snapshot_overwrite_where(
        spark, tbl, repl3, "bucket = 3", partition_cols=["bucket"],
        txn_app_id="q246-ow", txn_version=0,
    ))
    repl5 = base.filter(F.col("bucket") == 5).select(
        "k", "bucket", (F.col("v") * 3).alias("v")
    )
    deliver_twice(lambda: snapshot_insert_overwrite_partitions(
        spark, tbl, repl5, ["bucket"],
        txn_app_id="q246-dyn", txn_version=0,
    ))
    # hostile late re-delivery: the FIRST app again, after five other
    # apps committed — the ledger carry must still know it
    g_end = _current_gen(spark, tbl)
    noops.append(snapshot_delete_keys(
        spark, tbl, doomed_rw, key="k", partition_cols=["bucket"],
        mode="rewrite", txn_app_id="q246-del-rw", txn_version=0,
    ) == g_end)
    ok = bool(all(noops)) and len(noops) == 6
    return read_snapshot_table(spark, tbl).select(
        "k", F.col("bucket").cast("int").alias("bucket"), "v",
        F.lit(ok).alias("replay_was_noop"),
    ).localCheckpoint()


def q247_stream_cdc_tombstones(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING CDC SINK GATE (r10 verdict #3):
    ``stream_into_snapshot(merge_when_kwargs=...)`` — foreachBatch ->
    conditional MERGE with tombstone semantics — end-to-end over TWO
    micro-batches from the same checkpoint, each followed by a
    crashed-checkpoint replay of that batch (the exact
    snapshot_merge_when call the sink's foreachBatch makes, same txn
    id), proving the generation pointer never moves on replay.  Batch
    0 seeds the table (tombstones dropped by insert_condition — the
    fresh-table clause fixed this round); batch 1 deletes matched
    tombstones, updates matched live rows, inserts unmatched live
    rows, and drops unmatched tombstones.  The final state is
    closed-form over events, replayed by the oracle in SQL."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _current_gen,
        read_snapshot_table,
        snapshot_merge_when,
    )
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        stream_into_snapshot,
    )

    _ensure_shipped(spark)
    base = tempfile.mkdtemp(prefix="q247-cdc-")
    land, table, ckpt = base + "/land", base + "/snap", base + "/ckpt"
    cdc_kwargs = {
        "matched_delete": "s.tombstone",
        "insert_condition": "NOT s.tombstone",
    }
    ev = _t(spark, sf, "events").select("event_id", "user_id", "event_type")
    b1 = ev.withColumn("tombstone", F.col("event_id") % 10 == 3)
    b1.write.mode("append").parquet(land)
    stream_schema = (
        "event_id LONG, user_id LONG, event_type STRING, "
        "tombstone BOOLEAN"
    )

    def drain() -> None:
        stream = spark.readStream.schema(stream_schema).parquet(land)
        stream_into_snapshot(
            stream, table, ckpt, key="event_id", app_id="q247",
            merge_when_kwargs=cdc_kwargs,
        )

    def replay(batch_df: DataFrame, batch_id: int) -> bool:
        g = _current_gen(spark, table)
        snapshot_merge_when(
            spark, table, batch_df, key="event_id",
            txn_app_id="q247", txn_version=batch_id, **cdc_kwargs,
        )
        return _current_gen(spark, table) == g

    drain()  # batch 0: seed; tombstones must NOT be resurrected
    noop0 = replay(b1, 0)
    # batch 1: a CDC increment — deletes, updates, inserts, and
    # unmatched tombstones that must stay no-ops
    b2 = ev.filter(F.col("event_id") % 4 == 0).select(
        "event_id",
        (F.col("user_id") + 1000).alias("user_id"),
        "event_type",
        (F.col("event_id") % 3 == 0).alias("tombstone"),
    )
    b2.write.mode("append").parquet(land)
    drain()  # same checkpoint: only the new files, as batch 1
    noop1 = replay(b2, 1)
    ok = bool(noop0 and noop1)
    return read_snapshot_table(spark, table).select(
        "event_id", "user_id", "event_type",
        F.lit(ok).alias("replay_was_noop"),
    ).localCheckpoint()


def q248_ledger_retention(spark: SparkSession, sf: str) -> DataFrame:
    """TXN-LEDGER RETENTION GATE (r10 verdict #1, new this round):
    ``snapshot_set_ledger_retention(n_generations)`` bounds the
    manifest's idempotent-writes ledger the way Delta's
    setTransactionRetentionDuration bounds setTransaction entries.
    One long-lived app and eight one-shot apps write under a
    3-generation horizon; the gate then proves, via proof bits riding
    the output: (a) the final ledger holds EXACTLY the apps whose
    last write is within the horizon — the five older one-shots are
    gone; (b) an EXPIRED app's re-delivery applies again (Delta's
    documented caveat — the generation pointer moves); (c) a FRESH
    app's re-delivery is still a no-op.  The data itself is
    closed-form (seed + eight insert rows; the expired replay
    re-inserts identical content), so the oracle replays it in SQL."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _current_gen,
        _read_manifest,
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_set_ledger_retention,
    )

    seed = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    ).filter(F.col("k") % 3 == 0)
    tbl = tempfile.mkdtemp(prefix="q248-retention-") + "/t"
    snapshot_set_ledger_retention(spark, tbl, 3)
    snapshot_merge_upsert(
        spark, tbl, seed, key="k", txn_app_id="keeper", txn_version=0,
    )

    def shot(i: int) -> DataFrame:
        return spark.createDataFrame(
            [(10_000_000 + i, i)], "k long, v long"
        )

    # gens 2..9: one one-shot app per commit
    for i in range(8):
        snapshot_merge_upsert(
            spark, tbl, shot(i), key="k",
            txn_app_id=f"one-shot-{i}", txn_version=0,
        )
    # gen 10: the long-lived app stays fresh (content-idempotent)
    snapshot_merge_upsert(
        spark, tbl, seed, key="k", txn_app_id="keeper", txn_version=1,
    )
    cur = _current_gen(spark, tbl)
    ledger = _read_manifest(spark, tbl, cur).get("txn") or {}
    # horizon 3 at gen 10 keeps txn_gen >= 7: one-shot-5/6/7 + keeper
    bounded = set(ledger) == {
        "keeper", "one-shot-5", "one-shot-6", "one-shot-7"
    }
    # (b) expired re-delivery: one-shot-0's entry is gone, so the
    # same (app, version) APPLIES AGAIN — the pointer moves (the
    # content is identical, so the data stays closed-form)
    g_expired = snapshot_merge_upsert(
        spark, tbl, shot(0), key="k",
        txn_app_id="one-shot-0", txn_version=0,
    )
    expired_reapplied = g_expired == cur + 1
    # (c) fresh re-delivery: still a no-op
    fresh_noop = snapshot_merge_upsert(
        spark, tbl, shot(7), key="k",
        txn_app_id="one-shot-7", txn_version=0,
    ) == g_expired
    return read_snapshot_table(spark, tbl).select(
        "k", "v",
        F.lit(bool(bounded)).alias("ledger_bounded"),
        F.lit(bool(expired_reapplied)).alias("expired_reapplied"),
        F.lit(bool(fresh_noop)).alias("fresh_redelivery_noop"),
    ).localCheckpoint()


def q249_convert_parquet(spark: SparkSession, sf: str) -> DataFrame:
    """CONVERT TO DELTA parity
    (``snapshot_table.snapshot_convert_from_parquet``, new this
    round): an existing plain-parquet directory becomes generation 1
    of a snapshot table in ONE metadata commit — zero bytes copied
    (the manifest references the directory absolutely, the shallow-
    clone mechanism).  The gate then proves the adopted table is
    first-class: a partitioned MERGE (updates + inserts) and a keyed
    DELETE land as local generations while the untouched partitions
    STILL reference the raw directory (the zero-copy proof bit), and
    time travel to generation 1 reads the raw data back bit-exactly
    (row-count bit).  Closed-form over orders; the oracle replays
    convert+merge+delete in SQL."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _read_manifest,
        read_snapshot_table,
        snapshot_convert_from_parquet,
        snapshot_delete_keys,
        snapshot_merge_upsert,
    )

    # bucket on (k div 2) % 4 so the even-key base still spans all
    # four partitions; updates (k%20==0) and inserts land in b0/b2
    # only, leaving b1/b3 as the zero-copy witnesses
    base = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.concat(
            F.lit("b"),
            F.expr("CAST((o_orderkey DIV 2) % 4 AS STRING)"),
        ).alias("b"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    ).filter(F.col("k") % 2 == 0)
    root = tempfile.mkdtemp(prefix="q249-convert-")
    raw, tbl = root + "/raw", root + "/t"
    base.write.partitionBy("b").parquet(raw)
    snapshot_convert_from_parquet(spark, raw, tbl, partition_cols=["b"])
    n_raw = base.count()
    # updates hit only b0/b2 ((k DIV 2) % 4 alternates 0 and 2 for
    # k%20==0); inserts land in b2.  Insert offset 100_000_000 is
    # above TPC-H's max o_orderkey at every SF this repo can see
    # (6M at sf1) — q231's idiom — so inserted keys never collide
    # with base keys and the gate stays SF-safe (r11 advisor).
    inc = base.filter(F.col("k") % 20 == 0).select(
        "k", "b", (F.col("v") + 7).alias("v")
    ).unionByName(
        base.filter(F.col("k") % 20 == 0).select(
            (F.col("k") + 100_000_000).alias("k"),
            F.lit("b2").alias("b"),
            F.col("k").cast("long").alias("v"),
        )
    )
    g2 = snapshot_merge_upsert(
        spark, tbl, inc, key="k", partition_cols=["b"]
    )
    parts = _read_manifest(spark, tbl, g2)["partitions"]
    zero_copy = parts.get("b=b1") == raw and parts.get("b=b3") == raw
    snapshot_delete_keys(
        spark, tbl, base.filter(F.col("k") % 28 == 0).select("k"),
        key="k", partition_cols=["b"],
    )
    tt_ok = read_snapshot_table(spark, tbl, at_gen=1).count() == n_raw
    return read_snapshot_table(spark, tbl).select(
        "k", "b", "v",
        F.lit(bool(zero_copy)).alias("untouched_partitions_zero_copy"),
        F.lit(bool(tt_ok)).alias("time_travel_to_raw_ok"),
    ).localCheckpoint()


def q250_convert_stats_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """DATA SKIPPING OVER AN ADOPTED CORPUS (r11 verdict #2, new this
    round): ``snapshot_convert_from_parquet(collect_stats=True)``
    builds the min/max sidecar for the EXTERNAL generation in ONE
    read-only, column-pruned scan — zero data movement — and the q170
    skipping assertion then holds over the converted table from DAY
    ONE: a selective range read decides its file list from commit
    metadata alone and provably skips files, while the manifest still
    references the raw directory absolutely (asserted inline — no
    OPTIMIZE localized anything).  At 100 TB this is the difference
    between adopting a corpus and full-scanning it until a rewrite.
    The exact predicate re-applies, so the oracle is a plain filter:
    hash equality proves pruning is a pure I/O optimization."""
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _read_manifest,
        snapshot_convert_from_parquet,
        snapshot_read_where,
    )

    orders = _t(spark, sf, "orders")
    rows = orders.select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).repartitionByRange(8, "cents")  # narrow per-file [min,max]
    root = tempfile.mkdtemp(prefix="q250-convert-skip-")
    raw, tbl = root + "/raw", root + "/t"
    rows.write.parquet(raw)
    snapshot_convert_from_parquet(
        spark, raw, tbl, collect_stats=True, stats_cols=["cents"]
    )
    # still an external (zero-copy) reference — nothing localized
    parts = _read_manifest(spark, tbl, 1)["partitions"]
    assert set(parts.values()) == {raw}, parts
    rep: dict = {}
    out = snapshot_read_where(
        spark, tbl, {"cents": (5_000_000, 7_500_000)}, report=rep
    )
    assert rep["files_skipped"] > 0 and rep["unpruned_gens"] == 0, (
        f"adopted-corpus data skipping did not engage: {rep}"
    )
    return out.select(
        "o_orderkey", "o_orderstatus", "cents"
    ).localCheckpoint()


def q251_durable_commit_clock(spark: SparkSession, sf: str) -> DataFrame:
    """TIMESTAMP AS OF on the DURABLE COMMIT CLOCK (r11 verdict #1,
    new this round): every ``_commit`` stamps ``committed_at_ms``
    INSIDE the manifest JSON (monotonic — clamped to predecessor+1 ms),
    and ``snapshot_gen_at_timestamp`` resolves from the stamp, not
    file mtimes.  The gate builds the q232 three-version history,
    reads each version's stamp, then SIMULATES AN RSYNC/DR RESTORE by
    rewriting every manifest's mtime to one bogus ancient instant —
    under the old mtime clock all three resolutions would collapse to
    "before the table"; under the stamped clock each version's own
    timestamp still resolves to exactly that version (asserted
    inline), and the AS-OF-TIMESTAMP reads summarize identically to
    AS OF VERSION.  Oracle: the q232 closed form — proving the two
    time-travel halves agree through a filesystem-level move."""
    import json as _json
    import os
    import tempfile

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_delete_keys,
        snapshot_gen_at_timestamp,
        snapshot_merge_upsert,
    )

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("bucket"),
    )
    base = tempfile.mkdtemp(prefix="q251-clock-")
    snap = f"{base}/snap"
    snapshot_merge_upsert(
        spark, snap, ev, key="event_id", partition_cols=["bucket"]
    )
    snapshot_merge_upsert(
        spark, snap,
        ev.filter("event_id % 3 = 0").withColumn(
            "cents", F.col("cents") * 2
        ),
        key="event_id", partition_cols=["bucket"],
    )
    snapshot_delete_keys(
        spark, snap,
        ev.filter("event_id % 6 = 1").select("event_id"),
        key="event_id", partition_cols=["bucket"],
    )
    mdir = os.path.join(snap, "_manifests")
    stamps = {}
    for g in (1, 2, 3):
        with open(os.path.join(mdir, f"{g:08d}.json")) as fh:
            stamps[g] = int(_json.load(fh)["committed_at_ms"])
    assert stamps[1] < stamps[2] < stamps[3], stamps  # monotonic
    # simulated rsync: every manifest mtime -> one bogus instant
    for name in os.listdir(mdir):
        os.utime(os.path.join(mdir, name), (1_000.0, 1_000.0))
    rows = []
    for g in (1, 2, 3):
        assert snapshot_gen_at_timestamp(spark, snap, stamps[g]) == g
        t = read_snapshot_table(spark, snap, at_ts_ms=stamps[g]).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents_sum"),
        ).first()
        rows.append((g, int(t["n"]), int(t["cents_sum"])))
    return spark.createDataFrame(
        rows, "version long, n_rows long, cents_sum long"
    )


#: The first 50 keys of ``queries()`` — the driver's correctness
#: window.  scripts/check_oracle.py asserts list(queries())[:50] ==
#: DRIVER_WINDOW (and that the registry/oracle counts match QUERIES.md)
#: on every gate run.
DRIVER_WINDOW = [
    "q01_pricing_summary",
    "q02_watermark_agg",
    "q03_freshness_join",
    "q04_purge_anti_join",
    "q05_regional_revenue",
    "q06_run_summary_counters",
    "q10_chunk_fixed",
    "q15_exact_dedup",
    "q16_ngram_jaccard",
    "q17_simhash",
    "q18_minhash_lsh",
    "q19_knn_top1",
    "q24_tumbling_window",
    "q38_cost_rollup",
    "q60_merge_upsert",
    "q110_web_admission",
    "q144_giant_doc_parts",
    "q217_describe_detail",
    "q231_snapshot_history",
    "q109_snapshot_diff",
    "q168_cdf_view_maintenance",
    "q200_cdf_rollup_live",
    "q204_cdc_conditional_merge",
    "q216_streaming_cdf_rollup",
    "q64_knn_topk",
    "q70_kmv_sketch",
    "q76_decontaminate",
    "q88_count_min",
    "q100_histogram_quantiles",
    "q113_kmv_set_algebra",
    "q129_join_size_sketch",
    "q139_media_fingerprint_neardup",
    "q140_salted_join",
    "q143_blocklist_lifecycle",
    "q145_streaming_web_corpus",
    "q146_split_leakage",
    "q147_sidecar_dedup",
    "q148_ivfpq_index_exact",
    "q31_media_features",
    "q44_iso_parse",
    "q55_path_keys",
    "q56_byte_truncate",
    "q59_run_history",
    "q65_guid_validation",
    "q63_dedup_clusters",
    "q67_neardup_verified",
    "q91_span_dedup",
    "q102_incremental_dedup",
    "q39_markdown_rows",
    "q54_sheet_mode",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate records only the
    # FIRST 50 entries, pinned by the DRIVER_WINDOW constant above and
    # asserted by scripts/check_oracle.py (duplicate-free against the
    # source).  The window rotates each round: 17 family anchors stay
    # fixed — ingest/freshness/purge (q01-q06), chunking (q10), dedup
    # (q15-q18), exact-ANN (q19), streaming (q24), ops (q38/q60), web
    # admission (q110), giant-doc equivalence (q144).  This round
    # (r13, optimization 2/2) the 33 non-anchor slots are: the SEVEN
    # re-exposures the r12 verdict prescribed (q217/q231 DESCRIBE
    # plane + q109/q168/q200/q204/q216 CDF/merge families — rotated
    # out while snapshot_table.py changed underneath them in the r12
    # build tail) and TWENTY-SIX longest-unseen oracle-backed ids:
    # all four r3-vintage (q64 q70 q76 q88), all sixteen r4-vintage
    # (q100 q113 q129 q139 q140 q143 q145 q146 q147 q148 q31 q44 q55
    # q56 q59 q65), and six r5 picks chosen from the families this
    # round's optimizations touch — dedup/banding (q63 q67 q91 q102)
    # and the chunk kernel (q39 q54).  Rotated out (each green in
    # CORRECTNESS_r12; optimization commits touching their paths keep
    # their family representatives in-window): q250 q251 q249 q248
    # q246 q247 q245 q232 q176 q170 q225 q197 q220 q151 q219 q223
    # q23 q26 q45 q48 q49 q07 q08 q09 q12 q14 q22 q34 q35 q36 q37
    # q40 q58.  The 7 rows-only-by-policy ids (q20 q47 q50 q51 q52
    # q53 q79) cannot enter (test_window_is_oracle_backed).
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_watermark_agg": q02_watermark_agg,
        "q03_freshness_join": q03_freshness_join,
        "q04_purge_anti_join": q04_purge_anti_join,
        "q05_regional_revenue": q05_regional_revenue,
        "q06_run_summary_counters": q06_run_summary_counters,
        "q10_chunk_fixed": q10_chunk_fixed,
        "q15_exact_dedup": q15_exact_dedup,
        "q16_ngram_jaccard": q16_ngram_jaccard,
        "q17_simhash": q17_simhash,
        "q18_minhash_lsh": q18_minhash_lsh,
        "q19_knn_top1": q19_knn_top1,
        "q24_tumbling_window": q24_tumbling_window,
        "q38_cost_rollup": q38_cost_rollup,
        "q60_merge_upsert": q60_merge_upsert,
        "q110_web_admission": q110_web_admission,
        "q144_giant_doc_parts": q144_giant_doc_parts,
        "q217_describe_detail": q217_describe_detail,
        "q231_snapshot_history": q231_snapshot_history,
        "q109_snapshot_diff": q109_snapshot_diff,
        "q168_cdf_view_maintenance": q168_cdf_view_maintenance,
        "q200_cdf_rollup_live": q200_cdf_rollup_live,
        "q204_cdc_conditional_merge": q204_cdc_conditional_merge,
        "q216_streaming_cdf_rollup": q216_streaming_cdf_rollup,
        "q64_knn_topk": q64_knn_topk,
        "q70_kmv_sketch": q70_kmv_sketch,
        "q76_decontaminate": q76_decontaminate,
        "q88_count_min": q88_count_min,
        "q100_histogram_quantiles": q100_histogram_quantiles,
        "q113_kmv_set_algebra": q113_kmv_set_algebra,
        "q129_join_size_sketch": q129_join_size_sketch,
        "q139_media_fingerprint_neardup": q139_media_fingerprint_neardup,
        "q140_salted_join": q140_salted_join,
        "q143_blocklist_lifecycle": q143_blocklist_lifecycle,
        "q145_streaming_web_corpus": q145_streaming_web_corpus,
        "q146_split_leakage": q146_split_leakage,
        "q147_sidecar_dedup": q147_sidecar_dedup,
        "q148_ivfpq_index_exact": q148_ivfpq_index_exact,
        "q31_media_features": q31_media_features,
        "q44_iso_parse": q44_iso_parse,
        "q55_path_keys": q55_path_keys,
        "q56_byte_truncate": q56_byte_truncate,
        "q59_run_history": q59_run_history,
        "q65_guid_validation": q65_guid_validation,
        "q63_dedup_clusters": q63_dedup_clusters,
        "q67_neardup_verified": q67_neardup_verified,
        "q91_span_dedup": q91_span_dedup,
        "q102_incremental_dedup": q102_incremental_dedup,
        "q39_markdown_rows": q39_markdown_rows,
        "q54_sheet_mode": q54_sheet_mode,
        "q250_convert_stats_skipping": q250_convert_stats_skipping,
        "q251_durable_commit_clock": q251_durable_commit_clock,
        "q249_convert_parquet": q249_convert_parquet,
        "q248_ledger_retention": q248_ledger_retention,
        "q246_idempotent_replay_matrix": q246_idempotent_replay_matrix,
        "q247_stream_cdc_tombstones": q247_stream_cdc_tombstones,
        "q245_stream_exactly_once_snapshot": q245_stream_exactly_once_snapshot,
        "q232_time_travel_versions": q232_time_travel_versions,
        "q176_snapshot_restore": q176_snapshot_restore,
        "q170_snapshot_data_skipping": q170_snapshot_data_skipping,
        "q225_snapshot_update_where": q225_snapshot_update_where,
        "q197_snapshot_clone": q197_snapshot_clone,
        "q220_clone_survives_vacuum": q220_clone_survives_vacuum,
        "q151_snapshot_merge": q151_snapshot_merge,
        "q219_concurrent_writers": q219_concurrent_writers,
        "q223_overlap_merge_race": q223_overlap_merge_race,
        "q23_fingerprint": q23_fingerprint,
        "q26_json_extract": q26_json_extract,
        "q45_fields_to_text": q45_fields_to_text,
        "q48_base64": q48_base64,
        "q49_rolling_fingerprint": q49_rolling_fingerprint,
        "q07_group_counts": q07_group_counts,
        "q08_distinct_cap": q08_distinct_cap,
        "q09_distinct_tokens": q09_distinct_tokens,
        "q12_running_offset": q12_running_offset,
        "q14_sort_paginate": q14_sort_paginate,
        "q22_language_id": q22_language_id,
        "q34_enrichment_join": q34_enrichment_join,
        "q35_sessionize": q35_sessionize,
        "q36_polygon_area": q36_polygon_area,
        "q37_blocklist": q37_blocklist,
        "q40_admin_search": q40_admin_search,
        "q58_stale_runs": q58_stale_runs,
        "q226_generated_columns": q226_generated_columns,
        "q224_schema_evolution_merge": q224_schema_evolution_merge,
        "q233_constraint_enforcement": q233_constraint_enforcement,
        "q234_merge_by_source": q234_merge_by_source,
        "q235_identity_column": q235_identity_column,
        "q236_stream_static_enrich": q236_stream_static_enrich,
        "q237_overwrite_where": q237_overwrite_where,
        "q243_dynamic_partition_overwrite": q243_dynamic_partition_overwrite,
        "q244_lakehouse_composition": q244_lakehouse_composition,
        "q173_partition_compaction": q173_partition_compaction,
        "q174_deletion_vectors": q174_deletion_vectors,
        "q218_force_reprocess_backfill": q218_force_reprocess_backfill,
        "q238_quality_report": q238_quality_report,
        "q239_quality_quarantine": q239_quality_quarantine,
        "q240_rename_column": q240_rename_column,
        "q241_nested_types_sink": q241_nested_types_sink,
        "q242_ingest_expectations": q242_ingest_expectations,
        "q93_bpe_merges": q93_bpe_merges,
        "q107_bpe_segment": q107_bpe_segment,
        "q199_k_anonymity": q199_k_anonymity,
        "q221_boilerplate_strip": q221_boilerplate_strip,
        "q222_card_scrub_luhn": q222_card_scrub_luhn,
        "q227_nation_year_profit": q227_nation_year_profit,
        "q228_contingency_expected": q228_contingency_expected,
        "q229_sentence_dedup_global": q229_sentence_dedup_global,
        "q230_pps_sample": q230_pps_sample,
        "q96_cluster_keeper": q96_cluster_keeper,
        "q98_quality_percentile_gate": q98_quality_percentile_gate,
        "q103_epoch_mixture": q103_epoch_mixture,
        "q104_incremental_rollup": q104_incremental_rollup,
        "q106_url_canonical": q106_url_canonical,
        "q112_table_stats": q112_table_stats,
        "q122_temporal_lookup": q122_temporal_lookup,
        "q123_grouped_correlation": q123_grouped_correlation,
        "q124_grouped_mode": q124_grouped_mode,
        "q126_winsorize": q126_winsorize,
        "q132_mad_outliers": q132_mad_outliers,
        "q133_strip_accents": q133_strip_accents,
        "q137_dwell_times": q137_dwell_times,
        "q138_embedding_dim_stats": q138_embedding_dim_stats,
        "q179_waiting_suppliers": q179_waiting_suppliers,
        "q180_small_quantity_revenue": q180_small_quantity_revenue,
        "q181_idle_rich_customers": q181_idle_rich_customers,
        "q189_order_priority_check": q189_order_priority_check,
        "q190_promo_revenue": q190_promo_revenue,
        "q191_late_shipment_priority": q191_late_shipment_priority,
        "q192_large_orders": q192_large_orders,
        "q193_bracket_revenue": q193_bracket_revenue,
        "q194_volume_shipping": q194_volume_shipping,
        "q195_market_share": q195_market_share,
        "q196_banded_discount_revenue": q196_banded_discount_revenue,
        "q198_freshness_rank": q198_freshness_rank,
        "q201_revenue_rollup_cube": q201_revenue_rollup_cube,
        "q202_metric_unpivot": q202_metric_unpivot,
        "q203_value_deciles": q203_value_deciles,
        "q205_dynamic_partition_pruning": q205_dynamic_partition_pruning,
        "q206_unconverted_impressions": q206_unconverted_impressions,
        "q207_scoring_profile": q207_scoring_profile,
        "q208_rfm_segments": q208_rfm_segments,
        "q209_last_touch_attribution": q209_last_touch_attribution,
        "q210_grouped_median_exact": q210_grouped_median_exact,
        "q211_pareto_frontier": q211_pareto_frontier,
        "q212_line_dedup": q212_line_dedup,
        "q213_vocab_roundtrip": q213_vocab_roundtrip,
        "q214_autocomplete_two_terms": q214_autocomplete_two_terms,
        "q215_top_supplier": q215_top_supplier,
        "q101_corpus_health": q101_corpus_health,
        "q120_collocations": q120_collocations,
        "q128_acl_visibility": q128_acl_visibility,
        "q11_window_numbering": q11_window_numbering,
        "q13_log_retention": q13_log_retention,
        "q20_ann_lsh": q20_ann_lsh,
        "q21_quality_scores": q21_quality_scores,
        "q29_chunk_keys_long": q29_chunk_keys_long,
        "q41_acl_parse": q41_acl_parse,
        "q43_windowed_counts": q43_windowed_counts,
        "q46_embedding_neardup": q46_embedding_neardup,
        "q47_ivf_ann": q47_ivf_ann,
        "q50_doc_analysis_pages": q50_doc_analysis_pages,
        "q51_transcription_chunks": q51_transcription_chunks,
        "q52_multimodal_chunks": q52_multimodal_chunks,
        "q53_mixed_corpus": q53_mixed_corpus,
        "q57_token_stats": q57_token_stats,
        "q61_first_seen": q61_first_seen,
        "q62_salted_agg": q62_salted_agg,
        "q66_tfidf_terms": q66_tfidf_terms,
        "q68_quality_filter": q68_quality_filter,
        "q69_source_cap": q69_source_cap,
        "q71_asof_join": q71_asof_join,
        "q72_time_rollup": q72_time_rollup,
        "q73_hash_sample": q73_hash_sample,
        "q74_pii_scrub": q74_pii_scrub,
        "q75_curation_funnel": q75_curation_funnel,
        "q77_repetition": q77_repetition,
        "q78_pack_sequences": q78_pack_sequences,
        "q79_semdedup": q79_semdedup,
        "q80_stream_dedup": q80_stream_dedup,
        "q81_dup_spans": q81_dup_spans,
        "q82_corpus_freq": q82_corpus_freq,
        "q83_group_profile": q83_group_profile,
        "q84_session_window": q84_session_window,
        "q85_mixture": q85_mixture,
        "q86_centroid_outliers": q86_centroid_outliers,
        "q87_range_join": q87_range_join,
        "q89_inverted_index": q89_inverted_index,
        "q90_bloom_semijoin": q90_bloom_semijoin,
        "q92_sync_actions": q92_sync_actions,
        "q94_shard_assignment": q94_shard_assignment,
        "q95_hamming_neardup": q95_hamming_neardup,
        "q97_interval_join": q97_interval_join,
        "q99_rolling_hour_counts": q99_rolling_hour_counts,
        "q105_nfc_normalize": q105_nfc_normalize,
        "q108_pagerank": q108_pagerank,
        "q111_vocab_encode": q111_vocab_encode,
        "q114_token_blocks": q114_token_blocks,
        "q115_shipping_priority": q115_shipping_priority,
        "q116_returned_revenue": q116_returned_revenue,
        "q117_order_count_histogram": q117_order_count_histogram,
        "q118_scd2_intervals": q118_scd2_intervals,
        "q119_event_pivot": q119_event_pivot,
        "q121_triangle_count": q121_triangle_count,
        "q125_fuzzy_linkage": q125_fuzzy_linkage,
        "q127_gap_fill": q127_gap_fill,
        "q130_funnel": q130_funnel,
        "q131_retention_cohorts": q131_retention_cohorts,
        "q134_revenue_share": q134_revenue_share,
        "q135_cumulative_distinct": q135_cumulative_distinct,
        "q136_latest_per_key": q136_latest_per_key,
        "q141_dedup_planner": q141_dedup_planner,
        "q142_read_access": q142_read_access,
        "q149_zorder_key": q149_zorder_key,
        "q150_cumulative_domain_cap": q150_cumulative_domain_cap,
        "q152_bucketed_join": q152_bucketed_join,
        "q153_lm_quality_buckets": q153_lm_quality_buckets,
        "q154_char_coverage": q154_char_coverage,
        "q155_bm25_topk": q155_bm25_topk,
        "q156_hybrid_rrf": q156_hybrid_rrf,
        "q157_text_index_lifecycle": q157_text_index_lifecycle,
        "q158_search_highlights": q158_search_highlights,
        "q159_phrase_search": q159_phrase_search,
        "q160_suggest_terms": q160_suggest_terms,
        "q161_span_rollup": q161_span_rollup,
        "q162_char_collision": q162_char_collision,
        "q163_fuzzy_search": q163_fuzzy_search,
        "q164_facet_counts": q164_facet_counts,
        "q165_multifield_bm25": q165_multifield_bm25,
        "q167_filtered_vector_search": q167_filtered_vector_search,
        "q169_spell_suggest": q169_spell_suggest,
        "q172_retrieval_eval": q172_retrieval_eval,
        "q175_random_projection": q175_random_projection,
        "q177_sketch_rerank": q177_sketch_rerank,
        "q178_more_like_this": q178_more_like_this,
        "q182_filtered_search": q182_filtered_search,
        "q183_filtered_hybrid": q183_filtered_hybrid,
        "q184_semantic_rerank": q184_semantic_rerank,
        "q185_cohort_retention": q185_cohort_retention,
        "q186_stickiness": q186_stickiness,
        "q187_event_transitions": q187_event_transitions,
        "q188_rag_end_to_end": q188_rag_end_to_end,
        "q166_snapshot_changes": q166_snapshot_changes,
        "q171_snapshot_point_lookup": q171_snapshot_point_lookup,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_HEXNIB = "strpos('0123456789abcdef', substr({h}, {pos}, 1)) - 1"


def _byte_expr(h: str, byte_index: int) -> str:
    """byte value at 0-based ``byte_index`` of a hex digest string."""
    hi = _HEXNIB.format(h=h, pos=2 * byte_index + 1)
    lo = _HEXNIB.format(h=h, pos=2 * byte_index + 2)
    return f"(({hi}) * 16 + ({lo}))"


_SANITIZE = (
    "regexp_replace(regexp_replace(regexp_replace({x}, '[^A-Za-z0-9_=-]+', '-', 'g'),"
    " '-{{2,}}', '-', 'g'), '(^-+)|(-+$)', '', 'g')"
)


def _chunk_key_sql(base: str, cid: str) -> str:
    s = _SANITIZE.format(x=base)
    return (
        f"(CASE WHEN length({s}) > 128 THEN substr({s}, 1, 128) || '-' || "
        f"substr(sha256({s}), 1, 8) ELSE {s} END) || '-c' || printf('%05d', {cid})"
    )


_TOKS = (
    "SELECT doc_id, s.i AS pos, l[s.i + 1] AS token FROM "
    "(SELECT doc_id, string_split_regex(text, '\\s+') AS l FROM documents) d, "
    "unnest(range(0, len(d.l))) AS s(i)"
)

_SHINGLES = (
    f"WITH toks AS ({_TOKS}), ne AS (SELECT * FROM toks WHERE token != '') "
    "SELECT DISTINCT a.doc_id, a.token || ' ' || b.token || ' ' || c.token AS shingle "
    "FROM ne a JOIN ne b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 "
    "JOIN ne c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2"
)


def _pagerank_sql(iters: int = 5) -> str:
    """Unrolled quantized-PageRank oracle: r0..r{iters} CTEs with the
    exact integer-div arithmetic of pagerank_quantized."""
    teleport = "((1000000000000 * 1500) // 10000) // (SELECT cnt FROM nst)"
    ctes = [
        """
        nst AS (SELECT max(doc_id) + 1 AS nn, count(*) AS cnt FROM documents),
        ids AS (SELECT doc_id FROM documents),
        raw_edges AS (
          SELECT doc_id AS src, (doc_id * 7 + 3) % (SELECT nn FROM nst) AS dst
          FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 13 + 5) % (SELECT nn FROM nst)
          FROM documents),
        edges AS (
          SELECT src, dst FROM raw_edges
          WHERE dst IN (SELECT doc_id FROM ids)),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        r0 AS (
          SELECT doc_id, 1000000000000 // (SELECT cnt FROM nst) AS r
          FROM ids)
        """
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
        r{i} AS (
          SELECT i.doc_id,
            {teleport}
            + (8500 * COALESCE(s.contrib, 0)) // 10000 AS r
          FROM ids i LEFT JOIN (
            SELECT e.dst AS doc_id, SUM(r.r // d.outdeg) AS contrib
            FROM edges e
            JOIN r{i - 1} r ON r.doc_id = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s ON s.doc_id = i.doc_id)
        """
        )
        # each CTE references only the previous one — the unrolled chain
        # mirrors the Spark loop exactly
    # CAST: DuckDB promotes the SUM-derived ``r`` to HUGEINT, which a
    # pandas-based canonicalizer coerces to float64 (hash-mismatch vs
    # Spark's int64).  Values stay well under 2^63 — rank_q <= 1e12.
    return (
        "WITH " + ",".join(ctes)
        + f" SELECT doc_id, CAST(r AS BIGINT) AS rank_q FROM r{iters}"
    )


def _bpe_vocab_ctes(iters: int) -> list:
    """Unrolled BPE training CTEs (shared by the q93/q107 oracles):
    v0 = the word-frequency table with each word's symbol sequence as
    a chr(31)-separated, chr(31)-SENTINELLED string (the corpus is
    lowercase a-z + space, asserted at generation time by the charset
    of the synthetic tables, so chr(31) can never collide with a
    symbol).  Each iteration i: pair counts from adjacent tokens,
    argmax with the same (count DESC, left, right) tie-break as
    bpe_train, then the merge applied as replace() of the SENTINELLED
    pattern '|l|r|' -> '|lr|'.  One replace() is left-to-right
    non-overlapping but consumes the trailing separator, so a match
    immediately following a replacement is skipped for that pass; the
    skipped pair's neighbours are then merged tokens (which can never
    re-match: merged = left||right differs from both), so ONE more
    pass reaches the fold's fixpoint — three passes are applied for
    margin.  The fixpoint equals operators/bpe._merge_expr's fold:
    both merge exactly the greedy left-to-right disjoint occurrences.
    CTEs are MATERIALIZED: v{i-1} is referenced twice per step and
    DuckDB would otherwise inline the chain exponentially."""
    ctes = [r"""
        bpe_words AS (
          SELECT w AS word, count(*) AS freq FROM (
            SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
            FROM documents) WHERE w <> '' GROUP BY 1),
        v0 AS MATERIALIZED (
          SELECT word, freq,
                 chr(31) || array_to_string(string_split(word, ''),
                 chr(31)) || chr(31) AS s
          FROM bpe_words)"""]
    for i in range(1, iters + 1):
        pat = f"(SELECT chr(31) || lft || chr(31) || rgt || chr(31) FROM m{i})"
        rep = f"(SELECT chr(31) || lft || rgt || chr(31) FROM m{i})"
        body = "s"
        for _ in range(3):
            body = f"replace({body}, {pat}, {rep})"
        ctes.append(f"""
        p{i} AS (
          SELECT l[j] AS lft, l[j+1] AS rgt, SUM(freq) AS n_pair
          FROM (SELECT freq, string_split(trim(s, chr(31)), chr(31)) AS l
                FROM v{i - 1}),
               UNNEST(range(1, len(l))) AS u(j)
          GROUP BY 1, 2),
        m{i} AS (
          SELECT lft, rgt, CAST(n_pair AS BIGINT) AS n_pair FROM p{i}
          WHERE n_pair >= 2
          ORDER BY n_pair DESC, lft, rgt LIMIT 1),
        v{i} AS MATERIALIZED (
          SELECT word, freq,
            CASE WHEN (SELECT count(*) FROM m{i}) = 0 THEN s
                 ELSE {body} END AS s
          FROM v{i - 1})""")
    return ctes


def _bpe_merges_sql(iters: int = 16) -> str:
    """q93 oracle: the learned merge table, one UNION ALL leg per
    unrolled iteration (an empty m{i} contributes no row, and
    emptiness is monotone — once the best pair drops below
    min_pair_count the vocab stops changing — so ranks are dense
    exactly like bpe_train's early-stop)."""
    ctes = _bpe_vocab_ctes(iters)
    sel = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS INTEGER) AS rank, lft AS "left", '
        f'rgt AS "right", lft || rgt AS token, n_pair FROM m{i}'
        for i in range(1, iters + 1))
    return "WITH " + ",".join(ctes) + " " + sel


def _bpe_segment_sql(iters: int = 8) -> str:
    """q107 oracle: train the same {iters} merges, then read each
    word's SEGMENTATION straight off the final vocab state — applying
    the merge list in rank order to a word's character split is
    exactly the training fold, so v{iters}.s IS the encoded word.
    Per-doc token sequences reassemble in word-position order."""
    ctes = _bpe_vocab_ctes(iters)
    ctes.append(rf"""
        docw AS (
          SELECT doc_id, j AS pos, l[j] AS word
          FROM (SELECT doc_id,
                       string_split_regex(lower(text), '\s+') AS l
                FROM documents),
               UNNEST(range(1, len(l) + 1)) AS u(j)
          WHERE l[j] <> ''),
        seg AS (
          SELECT d.doc_id, d.pos,
                 string_split(trim(v.s, chr(31)), chr(31)) AS toks
          FROM docw d JOIN v{iters} v USING (word)),
        bpe_agg AS (
          SELECT doc_id, flatten(list(toks ORDER BY pos)) AS tokens
          FROM seg GROUP BY doc_id)""")
    return ("WITH " + ",".join(ctes) +
            " SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens, "
            "array_to_string(tokens[1:20], '|') AS head_tokens"
            " FROM bpe_agg")


#: 8-bit 2-column Morton interleave, x at even bit positions, y at odd
#: — mirrors operators/layout.zorder_value's bit placement (bit b of
#: column i lands at b * n_cols + i) in portable integer SQL
_ZORDER_TERMS = " | ".join(
    f"(((x >> {b}) & 1) << {2 * b}) | (((y >> {b}) & 1) << {2 * b + 1})"
    for b in range(8)
)


def oracle_sql() -> dict[str, str]:
    qdot = (
        "SELECT vec_id, list_transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q FROM embeddings"
    )
    # universal-hash minhash ('sha256uh', operators/dedup.uh_a/uh_b):
    # ONE sha256 fingerprint per shingle, k affine transforms mod
    # 2^31-1 give the permutation-mins; band keys pack base-P.  Every
    # step is integer arithmetic — identical in any engine with sha256.
    from gpt_rag_ingestion_spark.operators.dedup import UH_PRIME, uh_a, uh_b

    minhash_pairs = f"""
            WITH sh AS ({_SHINGLES}),
            dg AS (
              SELECT doc_id,
                CAST('0x' || substr(sha256(shingle), 1, 8) AS BIGINT) AS x
              FROM sh),
            sig AS (
              SELECT doc_id,
                {", ".join(
                    f"min(({uh_a(i)} * x + {uh_b(i)}) % {UH_PRIME}) AS mh_{i}"
                    for i in range(16))}
              FROM dg GROUP BY doc_id),
            bands AS (
              {" UNION ALL ".join(
                  f"SELECT doc_id, {b} AS band, "
                  f"mh_{2 * b} * {UH_PRIME} + mh_{2 * b + 1} AS band_hash "
                  f"FROM sig"
                  for b in range(8))})
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                        AND a.doc_id < b.doc_id
        """
    stop_en = "['the','and','of','to','a','in','is','that','it','for']"
    stop_es = "['el','la','de','que','y','en','un','es','no','por']"
    stop_fr = "['le','la','de','et','un','est','que','pour','dans','les']"
    stop_de = "['der','die','das','und','ist','ein','zu','mit','von','den']"
    lang_score = (
        "len(list_filter(string_split_regex(lower(text), '\\s+'), "
        "t -> t != '' AND list_contains({words}, t)))"
    )

    def _cm_bucket(j: int) -> str:
        h = f"md5('cm{j}:' || token)"
        return (
            f"(({_byte_expr(h, 0)} * 16777216 + {_byte_expr(h, 1)} * 65536"
            f" + {_byte_expr(h, 2)} * 256 + {_byte_expr(h, 3)}) % 256)"
        )

    cm_votes = " UNION ALL ".join(
        f"SELECT {j} AS j, {_cm_bucket(j)} AS bucket FROM ne" for j in range(4)
    )
    cm_probes = " UNION ALL ".join(
        f"SELECT token, true_count, {j} AS j, {_cm_bucket(j)} AS bucket FROM tc"
        for j in range(4)
    )
    def _cms_votes(table: str, key: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {j} AS j, "
            f"CAST('0x' || substr(md5('cm{j}:' || CAST({key} AS VARCHAR)),"
            f" 1, 8) AS BIGINT) % 256 AS bucket FROM {table}"
            for j in range(4)
        )

    cms_join_sql = f"""
        WITH ca AS (
          SELECT j, bucket, COUNT(*) AS ca
          FROM ({_cms_votes("orders", "o_orderkey")}) GROUP BY j, bucket),
        cb AS (
          SELECT j, bucket, COUNT(*) AS cb
          FROM ({_cms_votes("lineitem", "l_orderkey")}) GROUP BY j, bucket),
        pj AS (
          SELECT ca.j, SUM(ca.ca * cb.cb) AS ip
          FROM ca JOIN cb USING (j, bucket) GROUP BY ca.j),
        est AS (SELECT CAST(min(ip) AS BIGINT) AS est_rows FROM pj),
        ex AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS exact_rows
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
        SELECT est_rows, exact_rows FROM est, ex
    """
    return {
        "q129_join_size_sketch": cms_join_sql,
        "q01_pricing_summary": """
            WITH s AS (
              SELECT l_returnflag, l_linestatus,
                CAST(round(l_quantity) AS BIGINT) AS qty_l,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS ext_c,
                CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
                CAST(round(l_tax * 100) AS BIGINT) AS tax_c
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
            SELECT l_returnflag, l_linestatus,
              CAST(CAST(SUM(qty_l) AS BIGINT) AS DOUBLE) AS sum_qty,
              CAST(CAST(SUM(ext_c) AS BIGINT) AS DOUBLE) / 100.0 AS sum_base_price,
              CAST(CAST(SUM(ext_c * (100 - disc_c)) AS BIGINT) AS DOUBLE) / 10000.0
                AS sum_disc_price,
              CAST(CAST(SUM(ext_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT) AS DOUBLE)
                / 1000000.0 AS sum_charge,
              COUNT(*) AS count_order,
              round(CAST(CAST(SUM(qty_l) AS BIGINT) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
              round(CAST(CAST(SUM(ext_c) AS BIGINT) AS DOUBLE) / 100.0 / COUNT(*), 6)
                AS avg_price
            FROM s
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_watermark_agg": """
            SELECT user_id, max(ts) AS watermark_ts FROM events GROUP BY user_id
        """,
        "q03_freshness_join": """
            WITH state AS (
              SELECT user_id, max(ts) AS watermark_ts FROM events
              WHERE event_id % 2 = 0 GROUP BY user_id
            )
            SELECT e.event_id, e.user_id, e.ts
            FROM events e LEFT JOIN state s USING (user_id)
            WHERE e.event_id % 2 = 1
              AND (s.watermark_ts IS NULL
                   OR epoch_us(e.ts) - epoch_us(s.watermark_ts) > 1000000)
        """,
        "q04_purge_anti_join": """
            SELECT c.c_custkey, c.c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "q05_regional_revenue": """
            SELECT r.r_name,
              CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
              COUNT(DISTINCT o.o_orderkey) AS n_orders
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        """,
        "q06_run_summary_counters": """
            SELECT COUNT(*) AS n_orders,
              CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
              CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
              CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM orders
        """,
        "q07_group_counts": """
            SELECT event_type, COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "q08_distinct_cap": """
            SELECT user_id,
              array_to_string(list_sort(list_distinct(list(event_type)))[1:3], ',')
                AS types_capped
            FROM events GROUP BY user_id
        """,
        "q09_distinct_tokens": f"""
            WITH toks AS ({_TOKS})
            SELECT token, COUNT(*) AS n_occurrences
            FROM toks WHERE token != '' GROUP BY token
        """,
        "q10_chunk_fixed": f"""
            SELECT d.doc_id, CAST(s.i AS INT) AS chunk_id,
              {_chunk_key_sql("'doc-' || CAST(d.doc_id AS VARCHAR)", "s.i")} AS id,
              substr(d.text, CAST(s.i AS INT) * 160 + 1, 200) AS content,
              length(substr(d.text, CAST(s.i AS INT) * 160 + 1, 200)) AS chunk_len
            FROM documents d,
              unnest(range(0, greatest((length(d.text) - 1) // 160, 0) + 1)) AS s(i)
            WHERE length(substr(d.text, CAST(s.i AS INT) * 160 + 1, 200)) >= 1
        """,
        "q11_window_numbering": """
            SELECT o_orderkey, o_custkey,
              row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS rn
            FROM orders
        """,
        "q12_running_offset": """
            SELECT doc_id, source,
              CAST(coalesce(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                AS char_offset
            FROM documents
        """,
        "q13_log_retention": """
            SELECT event_id, user_id, rn FROM (
              SELECT event_id, user_id,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) t
            WHERE rn > 5
        """,
        "q14_sort_paginate": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 50 OFFSET 100
        """,
        "q15_exact_dedup": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY md5(text)
        """,
        "q16_ngram_jaccard": f"""
            WITH sh AS ({_SHINGLES}),
            sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT i.id_a, i.id_b, i.n_inter,
                   sa.n_shingles AS n_a, sb.n_shingles AS n_b,
                   round(CAST(i.n_inter AS DOUBLE)
                         / (sa.n_shingles + sb.n_shingles - i.n_inter), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE round(CAST(i.n_inter AS DOUBLE)
                        / (sa.n_shingles + sb.n_shingles - i.n_inter), 6) >= 0.1
        """,
        "q17_simhash": f"""
            WITH toks AS ({_TOKS}),
            h AS (SELECT doc_id, md5(token) AS h FROM toks WHERE token != ''),
            bitsrc AS (
              SELECT doc_id, h, s.i AS bit,
                ({_HEXNIB.format(h='h', pos="(s.i // 4) + 1")}) AS nibble
              FROM h, unnest(range(0, 16)) AS s(i)
            ),
            votes AS (
              SELECT doc_id, bit,
                SUM(CASE WHEN ((nibble >> (bit % 4)) & 1) = 1 THEN 1 ELSE -1 END) AS v
              FROM bitsrc GROUP BY doc_id, bit
            )
            SELECT doc_id,
              CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                   AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        """,
        "q18_minhash_lsh": minhash_pairs,
        "q19_knn_top1": f"""
            WITH q AS ({qdot}),
            pairs AS (
              SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
                CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
              FROM q a, q b WHERE a.vec_id != b.vec_id
            )
            SELECT vec_id, nn_id, dot FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dot DESC, nn_id ASC) AS rn FROM pairs) t
            WHERE rn = 1
        """,
        "q21_quality_scores": """
            WITH t AS (
              SELECT doc_id, length(text) AS n_chars_c,
                len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
                  AS n_tokens,
                length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))
                  AS n_punct,
                len(list_filter(string_split_regex(lower(text), '\\s+'),
                  x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x)))
                  AS n_stopwords
              FROM documents)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              CAST(n_punct AS BIGINT) AS n_punct,
              CAST(n_stopwords AS BIGINT) AS n_stopwords,
              round(CAST(n_stopwords AS DOUBLE) / greatest(n_tokens, 1), 6)
                AS stopword_ratio,
              round(CAST(n_chars_c AS DOUBLE) / greatest(n_tokens, 1), 6)
                AS avg_token_len
            FROM t
        """,
        "q22_language_id": f"""
            WITH s AS (
              SELECT doc_id,
                {lang_score.format(words=stop_de)} AS s_de,
                {lang_score.format(words=stop_en)} AS s_en,
                {lang_score.format(words=stop_es)} AS s_es,
                {lang_score.format(words=stop_fr)} AS s_fr
              FROM documents)
            SELECT doc_id,
              CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                   WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                   WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                   WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                   ELSE 'fr' END AS pred_lang
            FROM s
        """,
        "q23_fingerprint": """
            SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "q24_tumbling_window": """
            SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events GROUP BY date_trunc('hour', ts)
        """,
        "q26_json_extract": """
            SELECT event_type,
              CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
            FROM events GROUP BY event_type
        """,
        "q29_chunk_keys_long": f"""
            SELECT doc_id,
              {_chunk_key_sql(
                  "'docs!!' || repeat(source, 30) || '/' || CAST(doc_id AS VARCHAR)",
                  "doc_id % 7")} AS id
            FROM documents
        """,
        "q31_media_features": f"""
            WITH h AS (SELECT CAST(doc_id AS VARCHAR) AS media_id, sha256(text) AS hx,
                              octet_length(encode(text)) AS nb FROM documents)
            SELECT media_id, 'image' AS modality,
              CAST(64 + {_byte_expr('hx', 0)} AS INT) AS width,
              CAST(64 + {_byte_expr('hx', 1)} AS INT) AS height,
              CAST(1 + ({_byte_expr('hx', 2)}) % 8 AS INT) AS n_frames,
              hx AS payload_sha256,
              CAST(nb AS BIGINT) AS payload_bytes
            FROM h
        """,
        "q36_polygon_area": """
            WITH q AS (
              SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS p
              FROM embeddings),
            terms AS (
              SELECT vec_id,
                q.p[(s.i * 2 + 1)] * q.p[(((s.i + 1) % (len(q.p) // 2)) * 2 + 2)]
                - q.p[(((s.i + 1) % (len(q.p) // 2)) * 2 + 1)] * q.p[(s.i * 2 + 2)]
                  AS t
              FROM q, unnest(range(0, len(q.p) // 2)) AS s(i))
            SELECT vec_id, CAST(abs(SUM(t)) AS BIGINT) AS area2x
            FROM terms GROUP BY vec_id
        """,
        "q37_blocklist": """
            WITH att AS (
              SELECT user_id AS file_key, ts AS attempt_ts,
                CASE WHEN event_type = 'purchase' THEN 'success'
                     ELSE 'failed' END AS status
              FROM events WHERE event_type IN ('purchase', 'error')),
            ok AS (
              SELECT file_key, max(attempt_ts) AS last_ok FROM att
              WHERE status = 'success' GROUP BY file_key)
            SELECT a.file_key, COUNT(*) AS consecutive_failures, TRUE AS blocked
            FROM att a LEFT JOIN ok USING (file_key)
            WHERE a.status = 'failed'
              AND (ok.last_ok IS NULL OR a.attempt_ts > ok.last_ok)
            GROUP BY a.file_key HAVING COUNT(*) >= 3
        """,
        "q38_cost_rollup": """
            WITH usage AS (
              SELECT l_orderkey,
                CAST(COUNT(*) AS INT) AS pages_analyzed,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) * 100 AS DOUBLE)
                  AS embedding_tokens
              FROM lineitem GROUP BY l_orderkey)
            SELECT l_orderkey, pages_analyzed, embedding_tokens,
              -- decimal-domain cost: double 4dp rounding diverges
              -- between engines at boundary rows (sf0.1 sweep)
              CAST(round(CAST(pages_analyzed AS DECIMAL(20,0))
                           * CAST(0.01 AS DECIMAL(10,6))
                         + CAST(embedding_tokens AS DECIMAL(20,4))
                           * CAST(0.00000013 AS DECIMAL(12,8)), 4)
                   AS DOUBLE) AS estimated_cost_usd
            FROM usage
        """,
        "q39_markdown_rows": """
            SELECT p_partkey,
              '| p_name | p_brand | p_type |' || chr(10) ||
              '| --- | --- | --- |' || chr(10) ||
              '| ' || p_name || ' | ' || p_brand || ' | ' || p_type || ' |'
                AS content,
              'file=parts.csv' || chr(10) || 'sheet=Sheet1' || chr(10) ||
              'row=' || CAST(p_partkey AS VARCHAR) || chr(10) ||
              'cols=p_name|p_brand|p_type' || chr(10) ||
              'vals=' || p_name || '|' || p_brand || '|' || p_type
                AS embed_text
            FROM part
        """,
        "q40_admin_search": """
            SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
            WHERE contains(
              lower(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus
                    || '|' || o_orderpriority), 'urgent')
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """,
        "q41_acl_parse": """
            SELECT c_custkey,
              'u' || CAST(c_custkey AS VARCHAR) || ',g'
                  || CAST(c_nationkey AS VARCHAR) AS acl_ids
            FROM customer
        """,
        "q43_windowed_counts": """
            SELECT date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                   COUNT(*) AS n_events
            FROM events GROUP BY date_trunc('hour', ts)
        """,
        "q46_embedding_neardup": """
            WITH q AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
              FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS qdot
            FROM q a, q b
            WHERE a.vec_id < b.vec_id
              AND CAST(list_dot_product(a.qv, b.qv) AS BIGINT) >= 450000
        """,
        "q49_rolling_fingerprint": (
            lambda powers: f"""
            WITH pw AS (SELECT [{', '.join(str(p) for p in powers)}] AS arr),
            toks AS (
              SELECT d.doc_id, s.i AS pos, d.l[s.i + 1] AS token
              FROM (SELECT doc_id,
                      list_filter(string_split_regex(text, '\\s+'),
                                  x -> x != '') AS l
                    FROM documents) d,
                   unnest(range(0, least(len(d.l), 2048))) AS s(i)),
            terms AS (
              SELECT t.doc_id,
                ((( {_byte_expr('md5(t.token)', 0)} * 16777216
                  + {_byte_expr('md5(t.token)', 1)} * 65536
                  + {_byte_expr('md5(t.token)', 2)} * 256
                  + {_byte_expr('md5(t.token)', 3)} ) % 2147483647)
                 * pw.arr[t.pos + 1]) % 2147483647 AS term
              FROM toks t, pw)
            SELECT doc_id, CAST(SUM(term) % 2147483647 AS BIGINT) AS rolling_fp
            FROM terms GROUP BY doc_id
        """
        )(
            [
                pow(1_000_003, i, (1 << 31) - 1)
                for i in range(2049)
            ]
        ),
        "q48_base64": """
            SELECT doc_id, to_base64(encode(text)) AS payload_b64,
                   decode(from_base64(to_base64(encode(text)))) = text
                     AS roundtrip_ok
            FROM documents
        """,
        "q44_iso_parse": """
            SELECT o_orderkey,
              CASE WHEN o_orderkey % 10 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
                   ELSE strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S'),
                                 '%Y-%m-%dT%H:%M:%S')
              END AS parsed_ts
            FROM orders
        """,
        "q45_fields_to_text": """
            SELECT event_id,
              'event_type: ' || event_type || chr(10) ||
              'k: ' || CAST(CAST(props->>'$.k' AS BIGINT) AS VARCHAR) || chr(10) ||
              'user: ' || CAST(user_id AS VARCHAR) AS body_text
            FROM events
        """,
        "q34_enrichment_join": """
            WITH per_cust AS (
              SELECT o_custkey, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent
              FROM orders GROUP BY o_custkey)
            SELECT c.c_custkey, c.c_name,
              coalesce(p.n_orders, 0) AS n_orders,
              coalesce(p.total_spent, 0.0) AS total_spent
            FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
        """,
        "q54_sheet_mode": f"""
            WITH body AS (
              SELECT p_brand,
                string_agg(
                  '| ' || CAST(p_partkey AS VARCHAR) || ' | ' || p_name
                    || ' | ' || p_type || ' |' || chr(10) || '|  |',
                  chr(10) ORDER BY p_partkey) AS rows_md
              FROM part GROUP BY p_brand),
            c AS (
              SELECT {_SANITIZE.format(x="p_brand")} AS parent_id,
                CAST(0 AS INT) AS chunk_id, 'Sheet1' AS title,
                '|  |' || chr(10) || '| p_partkey | p_name | p_type |'
                  || chr(10) || '|  |' || chr(10) || rows_md AS content
              FROM body)
            SELECT parent_id, chunk_id,
              {_chunk_key_sql("parent_id", "chunk_id")} AS id, title,
              CASE WHEN length(content) > 32766
                   THEN substr(content, 1, 32766) ELSE content END AS content,
              CAST(length(CASE WHEN length(content) > 32766
                   THEN substr(content, 1, 32766) ELSE content END) AS INT)
                AS length
            FROM c
        """,
        "q35_sessionize": """
            WITH g AS (
              SELECT event_id, user_id, ts,
                lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS prev_us
              FROM events)
            SELECT event_id, user_id,
              CAST(SUM(CASE WHEN prev_us IS NULL
                        OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS session_seq
            FROM g
        """,
        "q55_path_keys": r"""
            WITH d AS (
              SELECT doc_id, source,
                'annualReport' || CAST(doc_id AS VARCHAR) || '_finalDraft.MD' AS fn
              FROM documents),
            p AS (SELECT *, '/corpus/' || source || '/' || fn AS path FROM d),
            t AS (SELECT *, regexp_extract(path, '([^/]+)$', 1) AS file_name FROM p),
            c AS (
              SELECT *,
                trim(regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(file_name, '\.[A-Za-z0-9]+$', ''),
                  '[_-]+', ' ', 'g'), '([a-z])([A-Z])', '\1 \2', 'g'),
                  ' {2,}', ' ', 'g')) AS collapsed
              FROM t)
            SELECT doc_id, path, file_name,
              CASE WHEN contains(file_name, '.')
                   THEN lower(string_split(file_name, '.')[-1]) ELSE '' END AS ext,
              array_to_string(list_transform(string_split(collapsed, ' '),
                w -> upper(w[1]) || lower(w[2:])), ' ') AS title,
              '/' || source || '/' || fn AS pkey
            FROM c
        """,
        "q56_byte_truncate": """
            WITH c AS (SELECT doc_id, repeat(text, 70) AS content FROM documents),
            t AS (
              SELECT doc_id,
                CASE WHEN length(content) > 32766
                     THEN substr(content, 1, 32766) ELSE content END AS trunc
              FROM c)
            SELECT doc_id, CAST(length(trunc) AS BIGINT) AS trunc_len,
              md5(trunc) AS trunc_md5
            FROM t
        """,
        "q57_token_stats": r"""
            SELECT doc_id,
              CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
                AS token_count,
              array_to_string(regexp_extract_all(text, '\w+|[^\w\s]')[1:32], ' ')
                AS head_tokens
            FROM documents
        """,
        "q58_stale_runs": """
            SELECT event_id AS run_id, ts AS started_at,
              'interrupted' AS status
            FROM events
            WHERE event_id % 7 = 0
              AND ts < TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 48 HOUR
        """,
        "q59_run_history": """
            SELECT user_id % 50 AS file_key,
              string_agg(strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' || event_type,
                         ',' ORDER BY ts DESC, event_type DESC) AS history
            FROM events GROUP BY user_id % 50
        """,
        "q60_merge_upsert": """
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
            WHERE o_orderkey % 10 != 0
            UNION ALL
            SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice FROM orders
            WHERE o_orderkey % 10 = 0
        """,
        "q61_first_seen": """
            SELECT 'u' || CAST(user_id AS VARCHAR) AS key,
              'u' || CAST(user_id AS VARCHAR) AS first_value,
              COUNT(*) - 1 AS n_duplicates_dropped
            FROM events GROUP BY user_id
        """,
        "q62_salted_agg": """
            SELECT l_returnflag, COUNT(*) AS n_items,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
              MAX(l_quantity) AS max_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "q63_dedup_clusters": f"""
            WITH RECURSIVE pairs AS ({minhash_pairs}),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
            lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
            alldocs AS (
              SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
            sizes AS (
              SELECT cluster_id, COUNT(*) AS cluster_size
              FROM alldocs GROUP BY cluster_id)
            SELECT a.doc_id, a.cluster_id, s.cluster_size,
              a.doc_id = a.cluster_id AS is_canonical
            FROM alldocs a JOIN sizes s ON a.cluster_id = s.cluster_id
        """,
        "q64_knn_topk": f"""
            WITH q AS ({qdot}),
            pairs AS (
              SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
                CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
              FROM q a, q b WHERE a.vec_id != b.vec_id)
            SELECT vec_id, CAST(rn AS INT) AS rank, nn_id, dot FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dot DESC, nn_id ASC) AS rn FROM pairs) t
            WHERE rn <= 3
        """,
        "q66_tfidf_terms": f"""
            WITH toks AS ({_TOKS}),
            ne AS (SELECT doc_id, token FROM toks WHERE token != ''),
            tf AS (
              SELECT doc_id, token, COUNT(*) AS tf
              FROM ne GROUP BY doc_id, token),
            dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
            scored AS (
              SELECT t.doc_id, t.token, t.tf, d.df,
                (t.tf * 1000000) // d.df AS score_q
              FROM tf t JOIN dfreq d ON t.token = d.token)
            SELECT doc_id, CAST(rn AS INT) AS rank, token, tf, df, score_q
            FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score_q DESC, tf DESC, token ASC) AS rn
              FROM scored) s
            WHERE rn <= 3
        """,
        "q67_neardup_verified": f"""
            WITH cand AS ({minhash_pairs}),
            cdocs AS (
              SELECT id_a AS doc_id FROM cand
              UNION SELECT id_b FROM cand),
            sh0 AS ({_SHINGLES}),
            sh AS (SELECT * FROM sh0 WHERE doc_id IN (SELECT doc_id FROM cdocs)),
            sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT i.id_a, i.id_b, i.n_inter,
                   sa.n_shingles AS n_a, sb.n_shingles AS n_b,
                   round(CAST(i.n_inter AS DOUBLE)
                         / (sa.n_shingles + sb.n_shingles - i.n_inter), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE round(CAST(i.n_inter AS DOUBLE)
                        / (sa.n_shingles + sb.n_shingles - i.n_inter), 6) >= 0.05
              AND EXISTS (SELECT 1 FROM cand c
                          WHERE c.id_a = i.id_a AND c.id_b = i.id_b)
        """,
        "q68_quality_filter": f"""
            WITH w AS (
              SELECT doc_id, text,
                list_filter(string_split_regex(text, '\\s+'), x -> x != '')
                  AS words
              FROM documents),
            s AS (
              SELECT doc_id,
                CAST(len(words) AS BIGINT) AS n_words,
                CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0)
                     AS BIGINT) AS sum_len,
                CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                     AS BIGINT) AS n_symbols,
                CAST(length(text) AS BIGINT) AS n_chars,
                ({lang_score.format(words=stop_en)}) > 0 AS has_stopword
              FROM w),
            q AS (
              SELECT doc_id, n_words,
                CASE WHEN n_words > 0 THEN (sum_len * 1000) // n_words
                     ELSE 0 END AS mean_word_len_q,
                CASE WHEN n_chars > 0 THEN (n_symbols * 1000000) // n_chars
                     ELSE 0 END AS symbol_ratio_q,
                has_stopword
              FROM s),
            r AS (
              SELECT *,
                CASE WHEN n_words < 5 THEN 'too_few_words'
                     WHEN n_words > 10000 THEN 'too_many_words'
                     WHEN mean_word_len_q < 3000 THEN 'short_words'
                     WHEN mean_word_len_q > 10000 THEN 'long_words'
                     WHEN symbol_ratio_q > 100000 THEN 'symbol_heavy'
                     WHEN NOT has_stopword THEN 'no_stopwords'
                     ELSE 'ok' END AS reason
              FROM q)
            SELECT doc_id, n_words, mean_word_len_q, symbol_ratio_q,
                   has_stopword, reason, reason = 'ok' AS keep
            FROM r
        """,
        "q70_kmv_sketch": """
            WITH toks AS (
              SELECT source, t.token
              FROM documents, unnest(string_split_regex(text, '\\s+')) AS t(token)
              WHERE t.token != ''),
            h AS (
              SELECT DISTINCT source,
                CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
              FROM toks),
            r AS (
              SELECT source, h,
                row_number() OVER (PARTITION BY source ORDER BY h) AS rn
              FROM h),
            g AS (
              SELECT source,
                max(CASE WHEN rn <= 64 THEN h END) AS kth_hash,
                COUNT(*) AS exact_distinct
              FROM r GROUP BY source)
            SELECT source, kth_hash,
              CAST(CASE WHEN exact_distinct <= 64 THEN exact_distinct
                   ELSE (63 * 4294967296) // (kth_hash + 1) END AS BIGINT)
                AS est_distinct,
              exact_distinct
            FROM g
        """,
        "q71_asof_join": """
            WITH ev AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
              FROM events),
            clicks AS (
              SELECT event_id, user_id, ts_us FROM ev
              WHERE event_type = 'click'),
            errs AS (
              SELECT user_id, ts_us,
                     max_by(event_id, event_id) AS err_event_id,
                     max_by(value, event_id) AS err_value
              FROM ev WHERE event_type = 'error'
              GROUP BY user_id, ts_us)
            SELECT c.event_id, c.user_id, c.ts_us,
                   e.ts_us AS err_ts_us, e.err_event_id, e.err_value
            FROM clicks c
            ASOF LEFT JOIN errs e
              ON c.user_id = e.user_id AND c.ts_us >= e.ts_us
        """,
        "q72_time_rollup": """
            WITH ev AS (
              SELECT event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
                     value
              FROM events)
            SELECT event_type, day, hour,
                   CAST(GROUPING(event_type, day, hour) AS INT) AS lvl,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM ev
            GROUP BY GROUPING SETS ((event_type, day, hour),
                                    (event_type, day), (event_type))
        """,
        "q73_hash_sample": """
            WITH d AS (
              SELECT doc_id, source,
                CAST('0x' || substr(md5('mix-v1' || CAST(doc_id AS VARCHAR)),
                     1, 8) AS BIGINT) AS mix_bucket,
                CAST('0x' || substr(md5('split-v1' || CAST(doc_id AS VARCHAR)),
                     1, 8) AS BIGINT) AS sb
              FROM documents),
            s AS (
              SELECT * FROM d
              WHERE mix_bucket < CASE source
                WHEN 'src0' THEN 4294967296
                WHEN 'src1' THEN 1073741824
                WHEN 'src2' THEN 1073741824
                ELSE 2147483648 END)
            SELECT doc_id, source, mix_bucket,
              CASE WHEN sb < 429496729 THEN 'test'
                   WHEN sb < 3865470566 THEN 'train'
                   ELSE 'valid' END AS split
            FROM s
        """,
        "q74_pii_scrub": r"""
            WITH d AS (
              SELECT doc_id,
                'contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                || repeat(' +1-555-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                          CAST(doc_id % 3 AS INT))
                || ' see https://' || source || '.example.com/d/'
                || CAST(doc_id AS VARCHAR) || ' ' || text AS t
              FROM documents),
            s AS (
              SELECT doc_id, t,
                CAST(len(regexp_extract_all(t,
                  'https?://[A-Za-z0-9./_-]+')) AS INT) AS n_url,
                CAST(len(regexp_extract_all(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
                  AS n_email,
                CAST(len(regexp_extract_all(t,
                  '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phone,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(t, 'https?://[A-Za-z0-9./_-]+',
                                   '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g'),
                  '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')
                  AS scrubbed
              FROM d)
            SELECT doc_id, n_url, n_email, n_phone,
                   md5(scrubbed) AS scrubbed_md5,
                   CAST(length(scrubbed) AS INT) AS scrubbed_len
            FROM s
        """,
        "q75_curation_funnel": f"""
            WITH w AS (
              SELECT doc_id, source, text,
                list_filter(string_split_regex(text, '\\s+'), x -> x != '')
                  AS words
              FROM documents),
            s AS (
              SELECT doc_id, source, text,
                CAST(len(words) AS BIGINT) AS n_words,
                CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0)
                     AS BIGINT) AS sum_len,
                CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                     AS BIGINT) AS n_symbols,
                CAST(length(text) AS BIGINT) AS n_chars,
                {lang_score.format(words=stop_de)} AS s_de,
                {lang_score.format(words=stop_en)} AS s_en,
                {lang_score.format(words=stop_es)} AS s_es,
                {lang_score.format(words=stop_fr)} AS s_fr
              FROM w),
            q AS (
              SELECT doc_id, source, text, s_de, s_en, s_es, s_fr, n_words,
                CASE WHEN n_words > 0 THEN (sum_len * 1000) // n_words
                     ELSE 0 END AS mean_word_len_q,
                CASE WHEN n_chars > 0 THEN (n_symbols * 1000000) // n_chars
                     ELSE 0 END AS symbol_ratio_q
              FROM s),
            l AS (
              SELECT doc_id, source, text,
                CASE WHEN n_words < 5 THEN 'too_few_words'
                     WHEN n_words > 10000 THEN 'too_many_words'
                     WHEN mean_word_len_q < 3000 THEN 'short_words'
                     WHEN mean_word_len_q > 10000 THEN 'long_words'
                     WHEN symbol_ratio_q > 100000 THEN 'symbol_heavy'
                     WHEN s_en = 0 THEN 'no_stopwords'
                     ELSE 'ok' END AS reason,
                CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                     WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                     WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                     WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                     ELSE 'fr' END AS pred_lang
              FROM q),
            f AS (
              SELECT doc_id, source, pred_lang, reason,
                reason = 'ok' AS keep,
                (reason = 'ok' AND pred_lang = 'en') AS survivor,
                md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                  AS digest
              FROM l),
            d AS (
              SELECT *,
                min(CASE WHEN survivor THEN doc_id END)
                  OVER (PARTITION BY digest) AS canon_id
              FROM f),
            e AS (
              SELECT *, (survivor AND doc_id = canon_id) AS canonical FROM d),
            r AS (
              SELECT *,
                count(CASE WHEN canonical THEN 1 END) OVER (
                  PARTITION BY source
                  ORDER BY md5('cur-v1' || CAST(doc_id AS VARCHAR)), doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cap_rank
              FROM e),
            z AS (
              SELECT doc_id, source, pred_lang,
                CASE WHEN NOT keep THEN 'quality_' || reason
                     WHEN pred_lang != 'en' THEN 'language'
                     WHEN NOT canonical THEN 'duplicate'
                     WHEN cap_rank > 15 THEN 'cap'
                     ELSE 'kept' END AS stage
              FROM r)
            SELECT doc_id, source, pred_lang, stage, stage = 'kept' AS kept
            FROM z
        """,
        "q69_source_cap": """
            SELECT doc_id, source, CAST(rn AS INT) AS sample_rank FROM (
              SELECT doc_id, source,
                row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents) t
            WHERE rn <= 10
        """,
        "q65_guid_validation": """
            WITH g AS (
              SELECT doc_id, md5(text) AS h FROM documents),
            v AS (
              SELECT doc_id,
                substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' ||
                substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-' ||
                substr(h, 21, 12) AS canon, h
              FROM g)
            SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN canon
                   WHEN doc_id % 3 = 1 THEN upper(canon)
                   ELSE 'g-' || h END AS guid,
              regexp_matches(
                CASE WHEN doc_id % 3 = 0 THEN canon
                     WHEN doc_id % 3 = 1 THEN upper(canon)
                     ELSE 'g-' || h END,
                '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-'
                || '[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$') AS valid
            FROM v
        """,
        # Spark joins on xxhash64(shingle) (8-byte keys); the oracle
        # joins on shingle text — counts agree absent 64-bit collisions
        "q76_decontaminate": """
            WITH w AS (
              SELECT doc_id,
                list_filter(string_split_regex(text, '\\s+'), t -> t != '')
                  AS toks
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                array_to_string(toks[s.i:s.i+7], ' ') AS shingle
              FROM w, unnest(range(1, len(toks) - 6)) AS s(i)),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
            corp AS (SELECT * FROM sh WHERE doc_id % 97 != 0),
            sizes AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
              FROM corp GROUP BY doc_id),
            hits AS (
              SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
              FROM corp c JOIN bench b USING (shingle) GROUP BY c.doc_id)
            SELECT s.doc_id, s.n_shingles,
              coalesce(h.n_overlap, 0) AS n_overlap,
              coalesce(h.n_overlap, 0) >= 1 AS contaminated
            FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
        """,
        "q77_repetition": """
            WITH w AS (
              SELECT doc_id,
                list_filter(string_split_regex(text, '\\s+'), t -> t != '')
                  AS toks
              FROM documents),
            g2 AS (
              SELECT doc_id, array_to_string(toks[s.i:s.i+1], ' ') AS gram
              FROM w, unnest(range(1, len(toks))) AS s(i)),
            c2 AS (
              SELECT doc_id, max(n) AS top2 FROM (
                SELECT doc_id, gram, COUNT(*) AS n
                FROM g2 GROUP BY doc_id, gram) GROUP BY doc_id),
            g3 AS (
              SELECT doc_id, array_to_string(toks[s.i:s.i+2], ' ') AS gram
              FROM w, unnest(range(1, len(toks) - 1)) AS s(i)),
            c3 AS (
              SELECT doc_id, max(n) AS top3 FROM (
                SELECT doc_id, gram, COUNT(*) AS n
                FROM g3 GROUP BY doc_id, gram) GROUP BY doc_id)
            SELECT w.doc_id,
              CAST(len(toks) AS BIGINT) AS n_words,
              CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_words,
              CAST(coalesce(c2.top2, 0) AS BIGINT) AS top2_count,
              CAST(coalesce(c3.top3, 0) AS BIGINT) AS top3_count,
              ((coalesce(c2.top2, 0) >= 2
                AND coalesce(c2.top2, 0) * 10 > len(toks))
               OR (coalesce(c3.top3, 0) >= 2
                   AND coalesce(c3.top3, 0) * 15 > len(toks))
               OR (len(toks) - len(list_distinct(toks))) * 2 > len(toks))
                AS repetitive
            FROM w
            LEFT JOIN c2 ON w.doc_id = c2.doc_id
            LEFT JOIN c3 ON w.doc_id = c3.doc_id
        """,
        "q78_pack_sequences": """
            WITH t AS (
              SELECT doc_id, source,
                CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                     x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT *, SUM(n_tokens) OVER (
                PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM t),
            b AS (
              SELECT doc_id, source, n_tokens,
                CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_id
              FROM c)
            SELECT doc_id, source, n_tokens, bin_id,
              CAST(SUM(n_tokens) OVER (PARTITION BY source, bin_id)
                   AS BIGINT) AS bin_tokens,
              CAST(COUNT(*) OVER (PARTITION BY source, bin_id)
                   AS BIGINT) AS bin_docs
            FROM b
        """,
        # the watermark covers the whole AvailableNow batch, so the
        # streaming dedup's append output is exactly the distinct key set
        "q80_stream_dedup": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        # Spark counts occurrences of xxhash64(gram); the oracle counts
        # gram text — identical absent 64-bit collisions
        "q81_dup_spans": """
            WITH pos AS (
              SELECT doc_id, substr(text, s.i, 50) AS gram
              FROM documents, unnest(range(1, len(text) - 48)) AS s(i)
              WHERE len(text) >= 50),
            occ AS (
              SELECT gram FROM pos GROUP BY gram HAVING COUNT(*) >= 2),
            per_doc AS (
              SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_positions
              FROM pos p JOIN occ USING (gram) GROUP BY p.doc_id)
            SELECT d.doc_id,
              CAST(greatest(len(d.text) - 49, 0) AS BIGINT) AS n_positions,
              coalesce(pd.n_dup_positions, 0) AS n_dup_positions,
              coalesce(pd.n_dup_positions, 0) * 5
                > greatest(len(d.text) - 49, 0) AS dup_heavy
            FROM documents d LEFT JOIN per_doc pd ON d.doc_id = pd.doc_id
        """,
        "q82_corpus_freq": """
            WITH toks AS (
              SELECT doc_id,
                unnest(list_filter(string_split_regex(text, '\\s+'),
                                   t -> t != '')) AS token
              FROM documents),
            freq AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ
              FROM toks GROUP BY token),
            per_doc AS (
              SELECT t.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN f.n_occ < 3 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_rare,
                CAST(SUM(f.n_occ) AS BIGINT) AS sum_freq
              FROM toks t JOIN freq f USING (token) GROUP BY t.doc_id)
            SELECT d.doc_id,
              coalesce(p.n_tokens, 0) AS n_tokens,
              coalesce(p.n_rare, 0) AS n_rare,
              coalesce(p.sum_freq, 0) AS sum_freq,
              CASE WHEN coalesce(p.n_tokens, 0) > 0
                   THEN CAST((p.sum_freq * 1000) // p.n_tokens AS BIGINT)
                   ELSE 0 END AS mean_freq_q
            FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """,
        "q83_group_profile": """
            WITH r AS (
              SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v,
                row_number() OVER (PARTITION BY source
                                   ORDER BY n_chars, doc_id) AS rn,
                COUNT(*) OVER (PARTITION BY source) AS cnt
              FROM documents),
            m AS (SELECT source, v AS median_v FROM r
                  WHERE rn = (cnt + 1) // 2),
            p AS (SELECT source, v AS p90_v FROM r
                  WHERE rn = (cnt * 9 + 9) // 10),
            s AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(min(n_chars) AS BIGINT) AS min_v,
                CAST(max(n_chars) AS BIGINT) AS max_v,
                CAST(SUM(n_chars) AS BIGINT) AS sum_v
              FROM documents GROUP BY source)
            SELECT s.source, s.n, s.min_v, s.max_v, s.sum_v,
                   m.median_v, p.p90_v
            FROM s JOIN m USING (source) JOIN p USING (source)
        """,
        # relational islands formulation of 30-min gap-merged sessions:
        # a session breaks when the gap to the previous event > 30 min
        "q84_session_window": """
            WITH d AS (
              SELECT user_id, ts, value,
                lag(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
              FROM events),
            m AS (
              SELECT user_id, ts, value,
                CASE WHEN prev IS NULL
                          OR epoch_us(ts) - epoch_us(prev) > 1800000000
                     THEN 1 ELSE 0 END AS brk
              FROM d),
            s AS (
              SELECT user_id, ts, value,
                SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM m)
            SELECT user_id,
              min(ts) AS session_start,
              max(ts) AS session_last,
              COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                AS session_value
            FROM s GROUP BY user_id, sid
        """,
        "q85_mixture": """
            WITH t AS (
              SELECT doc_id, source,
                CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                     x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT *, CAST(SUM(n_tokens) OVER (
                PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens
              FROM t),
            g AS (
              SELECT *, CASE source
                WHEN 'src0' THEN 2000 WHEN 'src1' THEN 1000
                WHEN 'src2' THEN 500 WHEN 'src3' THEN 250
                ELSE -1 END AS tgt
              FROM c)
            SELECT doc_id, source, n_tokens, cum_tokens,
              (cum_tokens - n_tokens) < tgt AS taken
            FROM g WHERE tgt >= 0
        """,
        "q86_centroid_outliers": """
            WITH q AS (
              SELECT vec_id, label, s.i AS pos,
                CAST(round(CAST(embedding[s.i + 1] AS DOUBLE) * 1000)
                     AS BIGINT) AS qv
              FROM embeddings, unnest(range(0, len(embedding))) AS s(i)),
            sums AS (
              SELECT label, pos, CAST(SUM(qv) AS BIGINT) AS sv
              FROM q GROUP BY label, pos),
            scored AS (
              SELECT q.vec_id, q.label,
                CAST(SUM(q.qv * s.sv) AS BIGINT) AS dot_sum_q
              FROM q JOIN sums s ON q.label = s.label AND q.pos = s.pos
              GROUP BY q.vec_id, q.label)
            SELECT vec_id, label, dot_sum_q,
              CAST(row_number() OVER (PARTITION BY label
                ORDER BY dot_sum_q ASC, vec_id ASC) AS INT) AS outlier_rank
            FROM scored
        """,
        "q87_range_join": """
            WITH iv AS (
              SELECT event_id AS interval_id, ts AS start_ts,
                ts + INTERVAL 2 HOUR AS end_ts
              FROM events WHERE event_id % 1000 = 0)
            SELECT iv.interval_id, iv.start_ts,
              COUNT(*) AS n_events,
              CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE)
                AS sum_value
            FROM events e JOIN iv
              ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
            GROUP BY iv.interval_id, iv.start_ts
        """,
        "q88_count_min": f"""
            WITH t0 AS ({_TOKS}),
            ne AS (SELECT token FROM t0 WHERE token != ''),
            votes AS ({cm_votes}),
            counters AS (
              SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cell
              FROM votes GROUP BY j, bucket),
            tc AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
              FROM ne GROUP BY token),
            probes AS ({cm_probes}),
            est AS (
              SELECT p.token, p.true_count,
                CAST(MIN(c.cell) AS BIGINT) AS cms_count
              FROM probes p JOIN counters c USING (j, bucket)
              GROUP BY p.token, p.true_count)
            SELECT * FROM (
              SELECT CAST(row_number() OVER (
                  ORDER BY true_count DESC, token ASC) AS INT) AS rank,
                token, true_count, cms_count
              FROM est) r
            WHERE rank <= 20
        """,
        "q89_inverted_index": f"""
            WITH t0 AS ({_TOKS}),
            ne AS (SELECT doc_id AS doc, pos, token FROM t0
                   WHERE token != ''),
            stats AS (
              SELECT token,
                CAST(COUNT(DISTINCT doc) AS BIGINT) AS df,
                CAST(COUNT(*) AS BIGINT) AS n_occurrences
              FROM ne GROUP BY token),
            r AS (
              SELECT token, doc, pos,
                row_number() OVER (PARTITION BY token
                                   ORDER BY doc, pos) AS rn
              FROM ne),
            prefix AS (
              SELECT token,
                string_agg(CAST(doc AS VARCHAR) || ':' ||
                           CAST(pos AS VARCHAR), ','
                           ORDER BY doc, pos) AS postings
              FROM r WHERE rn <= 10 GROUP BY token)
            SELECT s.token, s.df, s.n_occurrences, p.postings
            FROM stats s JOIN prefix p USING (token)
        """,
        "q90_bloom_semijoin": """
            SELECT l_suppkey,
              CAST(COUNT(*) AS BIGINT) AS n_items,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                AS sum_price
            FROM lineitem
            WHERE l_suppkey IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal > 9000)
            GROUP BY l_suppkey
        """,
        "q91_span_dedup": """
            WITH segs AS (
              SELECT d.doc_id, CAST(s.i AS INT) AS pos,
                substr(d.text, CAST(s.i AS INT) * 40 + 1, 40) AS seg
              FROM documents d,
                unnest(range(0, greatest((length(d.text) - 1) // 40, 0) + 1))
                  AS s(i)
              WHERE length(substr(d.text, CAST(s.i AS INT) * 40 + 1, 40)) >= 1
            ),
            counts AS (SELECT seg, COUNT(*) AS n FROM segs GROUP BY seg),
            kept AS (
              SELECT g.doc_id, g.pos, g.seg
              FROM segs g JOIN counts c USING (seg) WHERE c.n < 2),
            agg AS (
              SELECT doc_id, string_agg(seg, '' ORDER BY pos) AS cleaned_text
              FROM kept GROUP BY doc_id)
            SELECT d.doc_id,
              CAST(length(d.text) AS BIGINT) AS n_chars_before,
              coalesce(a.cleaned_text, '') AS cleaned_text,
              CAST(length(coalesce(a.cleaned_text, '')) AS BIGINT)
                AS n_chars_after
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "q95_hamming_neardup": f"""
            WITH toks AS ({_TOKS}),
            h AS (SELECT doc_id, md5(token) AS h FROM toks WHERE token != ''),
            bitsrc AS (
              SELECT doc_id, h, s.i AS bit,
                ({_HEXNIB.format(h='h', pos="(s.i // 4) + 1")}) AS nibble
              FROM h, unnest(range(0, 16)) AS s(i)
            ),
            votes AS (
              SELECT doc_id, bit,
                SUM(CASE WHEN ((nibble >> (bit % 4)) & 1) = 1 THEN 1 ELSE -1 END) AS v
              FROM bitsrc GROUP BY doc_id, bit
            ),
            sims AS (
              SELECT doc_id,
                CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                     AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id
            ),
            bands AS (
              SELECT doc_id, simhash, s.b AS b,
                (simhash >> (CAST(s.b AS INT) * 4)) & 15 AS bv
              FROM sims, unnest(range(0, 4)) AS s(b)
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.simhash AS sa, b.simhash AS sb
              FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
                AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
              CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        """,
        "q96_cluster_keeper": f"""
            WITH RECURSIVE pairs AS ({minhash_pairs}),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
            lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
            alldocs AS (
              SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
                     d.n_chars
              FROM documents d LEFT JOIN lab l ON d.doc_id = l.id)
            SELECT doc_id, cluster_id, n_chars,
              first_value(doc_id) OVER (PARTITION BY cluster_id
                ORDER BY n_chars DESC, doc_id ASC) AS keeper_id,
              doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
                ORDER BY n_chars DESC, doc_id ASC) AS is_keeper
            FROM alldocs
        """,
        "q97_interval_join": """
            SELECT c.user_id,
              i.event_id AS impression_id, c.event_id AS click_id,
              i.ts AS imp_ts, c.ts AS click_ts
            FROM events i JOIN events c
              ON i.user_id = c.user_id
             AND i.event_type = 'view' AND c.event_type = 'click'
             AND i.ts <= c.ts
             AND c.ts <= i.ts + INTERVAL 240 MINUTE
        """,
        "q98_quality_percentile_gate": """
            WITH scored AS (
              SELECT doc_id, source,
                CAST(n_chars * 1000 // greatest(
                  len(string_split_regex(trim(text), '\\s+')), 1)
                  AS BIGINT) AS quality_q
              FROM documents)
            SELECT doc_id, source, quality_q,
              cume_dist() OVER (PARTITION BY source
                ORDER BY quality_q DESC, doc_id ASC) <= 0.7 AS kept
            FROM scored
        """,
        "q99_rolling_hour_counts": """
            SELECT event_id, user_id,
              CAST(COUNT(*) OVER (PARTITION BY user_id
                ORDER BY epoch_us(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS events_last_hour
            FROM events
        """,
        "q100_histogram_quantiles": """
            WITH b AS (
              SELECT event_type,
                least(127, greatest(0,
                  CAST(floor(value / 500.0 * 128) AS INT))) AS bin
              FROM events),
            counts AS (
              SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
            cum AS (
              SELECT event_type, bin, c,
                SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                SUM(c) OVER (PARTITION BY event_type) AS n
              FROM counts),
            hit AS (
              SELECT event_type, pm, min(bin) AS bin, max(n) AS n
              FROM cum, (VALUES (500), (950)) AS t(pm)
              WHERE cum >= (n * pm + 999) // 1000
              GROUP BY event_type, pm)
            SELECT event_type, CAST(pm AS INT) AS q_permille,
              0.0 + bin * 500.0 / 128 AS est_value,
              CAST(n AS BIGINT) AS n
            FROM hit
        """,
        "q101_corpus_health": """
            WITH flagged AS (
              SELECT doc_id, source, n_chars,
                row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) > 1 AS is_dup
              FROM documents),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY source
                          ORDER BY n_chars, doc_id) AS rn,
                COUNT(*) OVER (PARTITION BY source) AS n_src
              FROM flagged)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                AS n_exact_dups,
              CAST(round(SUM(CAST(n_chars AS DECIMAL(18,4))) / COUNT(*), 2)
                AS DOUBLE) AS mean_chars,
              MAX(CASE WHEN rn = (n_src + 1) // 2 THEN n_chars END)
                AS median_chars
            FROM ranked GROUP BY source
        """,
        "q92_sync_actions": """
            WITH wm AS (
              SELECT user_id, max(ts) AS watermark_ts FROM events
              WHERE event_id % 2 = 0 GROUP BY user_id),
            src AS (
              SELECT user_id, max(ts) AS src_ts FROM events
              WHERE event_id % 2 = 1 GROUP BY user_id)
            SELECT user_id,
              CASE WHEN w.watermark_ts IS NULL THEN 'index'
                   WHEN s.src_ts IS NULL THEN 'purge'
                   WHEN epoch_us(s.src_ts) - epoch_us(w.watermark_ts)
                        > 1000000 THEN 'reindex'
                   ELSE 'skip' END AS action,
              s.src_ts, w.watermark_ts
            FROM src s FULL OUTER JOIN wm w USING (user_id)
        """,
        "q93_bpe_merges": _bpe_merges_sql(16),
        "q94_shard_assignment": """
            SELECT doc_id, n_chars,
              CAST((SUM(n_chars) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_chars) // 50000 AS BIGINT) AS shard_id
            FROM documents
        """,
        "q102_incremental_dedup": """
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
            incr AS (
              SELECT d.doc_id, s.text
              FROM (SELECT doc_id,
                      CASE WHEN doc_id % 9 = 0 THEN doc_id + 1
                           WHEN doc_id % 9 = 6 THEN doc_id - 3
                           ELSE doc_id END AS src_id
                    FROM documents WHERE doc_id % 3 = 0) d
              JOIN documents s ON s.doc_id = d.src_id),
            bmin AS (SELECT md5(text) AS digest, min(doc_id) AS dup_of_base
                     FROM base GROUP BY 1),
            idig AS (SELECT doc_id, md5(text) AS digest FROM incr),
            imin AS (SELECT digest, min(doc_id) AS batch_min
                     FROM idig GROUP BY 1),
            staged AS (
              SELECT i.doc_id, b.dup_of_base, m.batch_min
              FROM idig i LEFT JOIN bmin b ON i.digest = b.digest
              JOIN imin m ON i.digest = m.digest),
            i_toks AS (
              SELECT doc_id, s.i AS pos, l[s.i + 1] AS token FROM
              (SELECT doc_id, string_split_regex(text, '\\s+') AS l
               FROM incr) d, unnest(range(0, len(d.l))) AS s(i)),
            i_ne AS (SELECT * FROM i_toks WHERE token != ''),
            i_sh AS (
              SELECT DISTINCT a.doc_id,
                a.token || ' ' || b.token || ' ' || c.token AS shingle
              FROM i_ne a
              JOIN i_ne b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              JOIN i_ne c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
            b_toks AS (
              SELECT doc_id, s.i AS pos, l[s.i + 1] AS token FROM
              (SELECT doc_id, string_split_regex(text, '\\s+') AS l
               FROM base) d, unnest(range(0, len(d.l))) AS s(i)),
            b_ne AS (SELECT * FROM b_toks WHERE token != ''),
            b_sh AS (
              SELECT DISTINCT a.doc_id,
                a.token || ' ' || b.token || ' ' || c.token AS shingle
              FROM b_ne a
              JOIN b_ne b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              JOIN b_ne c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
            isz AS (SELECT doc_id, COUNT(*) AS n FROM i_sh GROUP BY 1),
            bsz AS (SELECT doc_id, COUNT(*) AS n FROM b_sh GROUP BY 1),
            inter AS (
              SELECT i.doc_id AS iid, b.doc_id AS bid, COUNT(*) AS ni
              FROM i_sh i JOIN b_sh b ON i.shingle = b.shingle
              GROUP BY 1, 2),
            near AS (
              SELECT iid AS doc_id, min(bid) AS near_of
              FROM inter
              JOIN isz ON isz.doc_id = inter.iid
              JOIN bsz ON bsz.doc_id = inter.bid
              WHERE round(CAST(ni AS DOUBLE) / (isz.n + bsz.n - ni), 6)
                    >= 0.1
              GROUP BY 1)
            SELECT s.doc_id,
              CASE WHEN s.dup_of_base IS NOT NULL THEN 'exact_dup_base'
                   WHEN s.batch_min < s.doc_id THEN 'exact_dup_batch'
                   WHEN n.near_of IS NOT NULL THEN 'near_dup_base'
                   ELSE 'new' END AS decision,
              CASE WHEN s.dup_of_base IS NOT NULL THEN s.dup_of_base
                   WHEN s.batch_min < s.doc_id THEN s.batch_min
                   ELSE n.near_of END AS dup_of
            FROM staged s LEFT JOIN near n ON n.doc_id = s.doc_id
        """,
        "q103_epoch_mixture": """
            WITH d AS (
              SELECT doc_id, source,
                12500 + 5000 * (CAST('0x' || substr(md5(source), 1, 2)
                                     AS BIGINT) % 3) AS wq,
                CAST('0x' || substr(md5('epoch-v1'
                     || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS bucket
              FROM documents),
            c AS (
              SELECT doc_id, source,
                wq // 10000
                + CASE WHEN (bucket * 10000) // 4294967296 < wq % 10000
                       THEN 1 ELSE 0 END AS copies
              FROM d)
            SELECT doc_id, source,
              unnest(generate_series(1, copies)) AS copy_idx
            FROM c WHERE copies >= 1
        """,
        "q104_incremental_rollup": """
            WITH r AS (
              SELECT o_orderkey, o_orderstatus,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            merged AS (
              SELECT o_orderstatus, cents FROM r WHERE o_orderkey % 10 != 0
              UNION ALL
              SELECT 'U' AS o_orderstatus, cents + 1 AS cents
              FROM r WHERE o_orderkey % 10 = 0)
            SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(cents) AS BIGINT) AS cents
            FROM merged GROUP BY o_orderstatus
        """,
        "q105_nfc_normalize": """
            WITH d AS (
              SELECT doc_id,
                substr(text, 1, 60) || ' cafe' || chr(769)
                  || ' e' || chr(769) || 'tude' AS raw
              FROM documents)
            SELECT doc_id,
              CAST(length(raw) AS BIGINT) AS len_raw,
              CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
              md5(nfc_normalize(raw)) AS nfc_md5
            FROM d
        """,
        "q106_url_canonical": """
            WITH d AS (
              SELECT doc_id,
                'HTTPS://WWW.Site' || CAST(doc_id % 20 AS VARCHAR)
                || '.Example.COM:443/Path/' || CAST(doc_id AS VARCHAR)
                || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                || '&utm_campaign=news#frag' AS url
              FROM documents),
            p AS (
              SELECT doc_id,
                regexp_replace(
                  lower(regexp_extract(url,
                    '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
                  ':(443|80)$', '') AS head,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(url,
                            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''),
                          '#.*$', ''),
                        '(utm_[a-z]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g'),
                      '&{2,}', '&', 'g'),
                    '\\?&', '?'),
                  '[?&]+$', '') AS rest,
                regexp_replace(
                  regexp_replace(
                    lower(regexp_extract(url,
                      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
                    ':[0-9]+$', ''),
                  '^www\\.', '') AS host
              FROM d)
            SELECT doc_id, head || rest AS canonical, host,
              regexp_extract(host, '([a-z0-9-]+\\.[a-z0-9-]+)$', 1) AS domain
            FROM p
        """,
        "q107_bpe_segment": _bpe_segment_sql(8),
        "q108_pagerank": _pagerank_sql(5),
        "q109_snapshot_diff": """
            WITH r AS (
              SELECT o_orderkey, o_orderstatus,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            newt AS (
              SELECT o_orderkey,
                CASE WHEN o_orderkey % 7 = 0 THEN 'U'
                     ELSE o_orderstatus END AS o_orderstatus,
                CASE WHEN o_orderkey % 7 = 0 THEN cents + 5
                     ELSE cents END AS cents
              FROM r WHERE o_orderkey % 13 != 0
              UNION ALL
              SELECT o_orderkey + 100000000, 'N', cents
              FROM r WHERE o_orderkey % 11 = 0),
            o AS (
              SELECT o_orderkey,
                md5(coalesce(CAST(o_orderstatus AS VARCHAR), chr(0))
                    || chr(1) || coalesce(CAST(cents AS VARCHAR), chr(0)))
                  AS old_digest
              FROM r),
            n AS (
              SELECT o_orderkey,
                md5(coalesce(CAST(o_orderstatus AS VARCHAR), chr(0))
                    || chr(1) || coalesce(CAST(cents AS VARCHAR), chr(0)))
                  AS new_digest
              FROM newt)
            SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
              CASE WHEN o.old_digest IS NULL THEN 'added'
                   WHEN n.new_digest IS NULL THEN 'removed'
                   WHEN o.old_digest != n.new_digest THEN 'changed'
                   ELSE 'unchanged' END AS change,
              o.old_digest, n.new_digest
            FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
            WHERE NOT (o.old_digest IS NOT NULL AND n.new_digest IS NOT NULL
                       AND o.old_digest = n.new_digest)
        """,
        "q110_web_admission": """
            WITH d AS (
              SELECT doc_id, n_chars,
                'd' || CAST(doc_id % 15 AS VARCHAR) || '.org' AS domain
              FROM documents),
            b AS (SELECT * FROM (VALUES ('d0.org'), ('d7.org')) AS t(domain)),
            s AS (
              SELECT doc_id,
                row_number() OVER (PARTITION BY domain
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM d
              WHERE domain NOT IN (SELECT domain FROM b)
                AND n_chars >= 200)
            SELECT d.doc_id, d.domain,
              CASE WHEN d.domain IN (SELECT domain FROM b)
                     THEN 'blocked_domain'
                   WHEN d.n_chars < 200 THEN 'low_quality'
                   WHEN s.rn <= 8 THEN 'keep'
                   ELSE 'over_cap' END AS disposition
            FROM d LEFT JOIN s ON s.doc_id = d.doc_id
        """,
        "q111_vocab_encode": """
            WITH toks AS (
              SELECT doc_id, s.i AS pos, lower(l[s.i + 1]) AS token FROM
              (SELECT doc_id, string_split_regex(text, '\\s+') AS l
               FROM documents) d, unnest(range(0, len(d.l))) AS s(i)),
            ne AS (SELECT * FROM toks WHERE token != ''),
            freqs AS (
              SELECT token, COUNT(*) AS freq FROM ne GROUP BY token
              HAVING COUNT(*) >= 3),
            vocab AS (
              SELECT token,
                row_number() OVER (ORDER BY freq DESC, token ASC)
                  AS token_id
              FROM freqs),
            mapped AS (
              SELECT ne.doc_id, ne.pos,
                COALESCE(v.token_id, 0) AS tid
              FROM ne LEFT JOIN vocab v ON v.token = ne.token)
            SELECT doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_oov,
              string_agg(CAST(tid AS VARCHAR), '|' ORDER BY pos)
                FILTER (WHERE pos < 20) AS head_ids
            FROM mapped GROUP BY doc_id
        """,
        "q112_table_stats": """
            SELECT 'o_orderkey' AS "column",
              CAST(COUNT(o_orderkey) AS BIGINT) AS n_nonnull,
              CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
              CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
              CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
              CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', CAST(COUNT(o_orderstatus) AS BIGINT),
              CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
              CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
              CAST(MIN(o_orderstatus) AS VARCHAR),
              CAST(MAX(o_orderstatus) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', CAST(COUNT(o_orderpriority) AS BIGINT),
              CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
              CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
              CAST(MIN(o_orderpriority) AS VARCHAR),
              CAST(MAX(o_orderpriority) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderdate', CAST(COUNT(o_orderdate) AS BIGINT),
              CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
              CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
              CAST(MIN(o_orderdate) AS VARCHAR),
              CAST(MAX(o_orderdate) AS VARCHAR)
            FROM orders
        """,
        "q113_kmv_set_algebra": """
            WITH toks AS (
              SELECT source, t.token
              FROM documents,
                unnest(string_split_regex(text, '\\s+')) AS t(token)
              WHERE t.token != ''),
            h AS (
              SELECT DISTINCT source,
                CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
              FROM toks),
            syn AS (
              SELECT source, h FROM (
                SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                FROM h) t WHERE rn <= 64),
            gs AS (SELECT DISTINCT source FROM syn),
            pairs AS (
              SELECT a.source AS g_a, b.source AS g_b
              FROM gs a JOIN gs b ON a.source < b.source),
            ph AS (
              SELECT p.g_a, p.g_b, s.h,
                max(CASE WHEN s.source = p.g_a THEN 1 ELSE 0 END) AS in_a,
                max(CASE WHEN s.source = p.g_b THEN 1 ELSE 0 END) AS in_b
              FROM pairs p
              JOIN syn s ON s.source = p.g_a OR s.source = p.g_b
              GROUP BY p.g_a, p.g_b, s.h),
            ranked AS (
              SELECT *,
                row_number() OVER (PARTITION BY g_a, g_b ORDER BY h) AS rn,
                COUNT(*) OVER (PARTITION BY g_a, g_b) AS n_all
              FROM ph),
            stats AS (
              SELECT g_a, g_b,
                max(CASE WHEN rn = 64 THEN h END) AS kth,
                max(n_all) AS n_all,
                SUM(CASE WHEN rn <= 64 AND in_a = 1 AND in_b = 1
                    THEN 1 ELSE 0 END) AS rho_num
              FROM ranked GROUP BY g_a, g_b),
            u AS (
              SELECT g_a AS source_a, g_b AS source_b,
                CAST(CASE WHEN n_all <= 64 THEN n_all
                     ELSE (63 * 4294967296) // (kth + 1) END AS BIGINT)
                  AS est_union,
                rho_num, n_all
              FROM stats)
            SELECT source_a, source_b, est_union,
              CAST((rho_num * est_union)
                   // LEAST(CAST(n_all AS BIGINT), 64) AS BIGINT)
                AS est_intersection
            FROM u
        """,
        "q114_token_blocks": """
            WITH c AS (
              SELECT doc_id, n_chars,
                SUM(n_chars) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum
              FROM documents WHERE n_chars > 0),
            s AS (SELECT doc_id, cum - n_chars AS st, cum AS en FROM c),
            b AS (
              SELECT doc_id, st, en,
                unnest(generate_series(CAST(st // 4096 AS BIGINT),
                                       CAST((en - 1) // 4096 AS BIGINT)))
                  AS block_id
              FROM s)
            SELECT block_id, doc_id,
              CAST(GREATEST(st, block_id * 4096) - st AS BIGINT)
                AS start_in_doc,
              CAST(LEAST(en, (block_id + 1) * 4096) - st AS BIGINT)
                AS end_in_doc
            FROM b
        """,
        "q115_shipping_priority": """
            WITH j AS (
              SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_mktsegment = 'BUILDING'
                AND o.o_orderdate < DATE '1995-03-15'
                AND l.l_shipdate > DATE '1995-03-15'
              GROUP BY 1, 2, 3)
            SELECT l_orderkey, o_orderdate, o_orderpriority, revenue,
              CAST(row_number() OVER (ORDER BY revenue DESC,
                   o_orderdate, l_orderkey) AS INT) AS rank
            FROM j ORDER BY rank LIMIT 10
        """,
        "q116_returned_revenue": """
            WITH j AS (
              SELECT c.c_custkey, c.c_name, n.n_name,
                CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              WHERE l.l_returnflag = 'R'
                AND o.o_orderdate >= DATE '1996-10-01'
                AND o.o_orderdate < DATE '1997-01-01'
              GROUP BY 1, 2, 3)
            SELECT c_custkey, c_name, n_name, revenue,
              CAST(row_number() OVER (ORDER BY revenue DESC, c_custkey)
                AS INT) AS rank
            FROM j ORDER BY rank LIMIT 20
        """,
        "q117_order_count_histogram": """
            WITH pc AS (
              SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
              FROM customer c
              LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                AND o.o_orderpriority != '1-URGENT'
              GROUP BY c.c_custkey)
            SELECT CAST(c_count AS BIGINT) AS c_count,
              CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM pc GROUP BY c_count
        """,
        "q118_scd2_intervals": """
            WITH o AS (
              SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev
              FROM events),
            c AS (
              SELECT * FROM o WHERE prev IS DISTINCT FROM event_type)
            SELECT user_id, event_type, ts AS valid_from,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS valid_to
            FROM c
        """,
        "q119_event_pivot": """
            SELECT user_id,
              CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
              CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error,
              CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
              CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
              CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view
            FROM events GROUP BY user_id
        """,
        "q120_collocations": """
            WITH arr AS (
              SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t != '') AS a
              FROM documents),
            toks AS (SELECT unnest(a) AS w FROM arr),
            uni AS (SELECT w, COUNT(*) AS f FROM toks GROUP BY w),
            tot AS (SELECT COUNT(*) AS n_total FROM toks),
            bi AS (
              SELECT a[s.i + 1] AS w, a[s.i + 2] AS w2, COUNT(*) AS f_ab
              FROM arr, unnest(range(0, len(a) - 1)) AS s(i)
              GROUP BY 1, 2 HAVING COUNT(*) >= 5),
            scored AS (
              SELECT bi.w AS word_a, bi.w2 AS word_b, f_ab,
                (f_ab * n_total * 10000) // (ua.f * ub.f) AS lift_q
              FROM bi
              JOIN uni ua ON ua.w = bi.w
              JOIN uni ub ON ub.w = bi.w2, tot)
            SELECT word_a, word_b, f_ab, lift_q,
              CAST(row_number() OVER (ORDER BY lift_q DESC, f_ab DESC,
                   word_a, word_b) AS INT) AS rank
            FROM scored ORDER BY rank LIMIT 20
        """,
        "q121_triangle_count": """
            WITH nst AS (SELECT max(doc_id) + 1 AS nn FROM documents),
            ids AS (SELECT doc_id FROM documents),
            raw AS (
              SELECT doc_id AS src,
                (doc_id * 7 + 3) % (SELECT nn FROM nst) AS dst
              FROM documents
              UNION ALL
              SELECT doc_id, (doc_id * 13 + 5) % (SELECT nn FROM nst)
              FROM documents),
            e AS (SELECT src, dst FROM raw
                  WHERE dst IN (SELECT doc_id FROM ids)),
            und AS (
              SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
              FROM e WHERE src != dst)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM und e1
            JOIN und e2 ON e1.v = e2.u
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
        """,
        "q122_temporal_lookup": """
            WITH ch AS (
              SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev
              FROM events WHERE event_id % 2 = 0),
            c AS (SELECT * FROM ch WHERE prev IS DISTINCT FROM event_type),
            iv AS (
              SELECT user_id, event_type AS state, ts AS valid_from,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS valid_to
              FROM c),
            f AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_id % 2 = 1)
            SELECT f.event_id, f.user_id, iv.state, iv.valid_from
            FROM f LEFT JOIN iv ON iv.user_id = f.user_id
              AND iv.valid_from <= f.ts
              AND (iv.valid_to IS NULL OR f.ts < iv.valid_to)
        """,
        "q123_grouped_correlation": """
            WITH q AS (
              SELECT l_returnflag,
                CAST(round(l_quantity * 100) AS BIGINT) AS x,
                CAST(round(l_extendedprice * 1) AS BIGINT) AS y
              FROM lineitem),
            s AS (
              SELECT l_returnflag,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(x) AS BIGINT) AS sx,
                CAST(SUM(y) AS BIGINT) AS sy,
                CAST(SUM(x * y) AS BIGINT) AS sxy,
                CAST(SUM(x * x) AS BIGINT) AS sxx,
                CAST(SUM(y * y) AS BIGINT) AS syy
              FROM q GROUP BY l_returnflag)
            SELECT l_returnflag, n,
              -- cross terms in HUGEINT: n*sxy overflows INT64 past
              -- ~600k dollar-scale rows (mirrors Spark's DECIMAL(38,0))
              round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                         AS DOUBLE)
                / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                             - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                   * sqrt(CAST(CAST(n AS HUGEINT) * syy
                               - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 6)
                AS corr
            FROM s
        """,
        "q124_grouped_mode": """
            WITH toks AS (
              SELECT source, t.token
              FROM documents,
                unnest(string_split_regex(lower(text), '\\s+')) AS t(token)
              WHERE t.token != ''),
            c AS (
              SELECT source, token, COUNT(*) AS cnt
              FROM toks GROUP BY source, token),
            r AS (
              SELECT source, token, cnt,
                row_number() OVER (PARTITION BY source
                  ORDER BY cnt DESC, token ASC) AS rn
              FROM c)
            SELECT source, token AS mode_value,
              CAST(cnt AS BIGINT) AS mode_count
            FROM r WHERE rn = 1
        """,
        "q125_fuzzy_linkage": """
            WITH clean AS (
              SELECT c_custkey AS clean_key, lower(c_name) AS t
              FROM customer),
            dirty AS (
              SELECT c_custkey + 1000000 AS dirty_key,
                lower(substr(c_name, 1, 2) || substr(c_name, 4, 1000)) AS t
              FROM customer),
            lb AS (
              SELECT clean_key, t AS t_l, substr(t, 1, 2) AS pfx,
                s.lb AS lb
              FROM clean,
                unnest(generate_series(CAST(length(t) - 2 AS BIGINT),
                                       CAST(length(t) + 2 AS BIGINT)))
                  AS s(lb)),
            rb AS (
              SELECT dirty_key, t AS t_r, substr(t, 1, 2) AS pfx,
                CAST(length(t) AS BIGINT) AS lb
              FROM dirty)
            SELECT DISTINCT clean_key, dirty_key,
              CAST(levenshtein(t_l, t_r) AS INT) AS distance
            FROM lb JOIN rb USING (pfx, lb)
            WHERE levenshtein(t_l, t_r) <= 2
        """,
        "q126_winsorize": """
            WITH r AS (
              SELECT event_id, event_type, value,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value, event_id) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events),
            b AS (
              SELECT event_type,
                max(CASE WHEN rn = (5 * n + 99) // 100 THEN value END)
                  AS p05,
                max(CASE WHEN rn = (95 * n + 99) // 100 THEN value END)
                  AS p95
              FROM r GROUP BY event_type)
            SELECT e.event_id, e.event_type,
              LEAST(GREATEST(e.value, b.p05), b.p95) AS value_clipped
            FROM events e JOIN b USING (event_type)
        """,
        "q127_gap_fill": """
            WITH bounds AS (
              SELECT date_trunc('hour', min(ts)) AS mn,
                     date_trunc('hour', max(ts)) AS mx
              FROM events),
            spine AS (
              SELECT unnest(generate_series(mn, mx, INTERVAL '1 hour'))
                AS hour_ts
              FROM bounds),
            c AS (
              SELECT date_trunc('hour', ts) AS hour_ts,
                CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1)
            SELECT s.hour_ts, COALESCE(c.n, 0) AS n_events
            FROM spine s LEFT JOIN c USING (hour_ts)
        """,
        "q130_funnel": """
            WITH s AS (
              SELECT *,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            r AS (
              SELECT *,
                SUM(new_sess) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_seq
              FROM s),
            a AS (
              SELECT user_id, session_seq,
                min(CASE WHEN event_type = 'view'
                    THEN epoch_us(ts) END) AS t_view,
                min(CASE WHEN event_type = 'click'
                    THEN epoch_us(ts) END) AS t_click,
                min(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END) AS t_buy
              FROM r GROUP BY user_id, session_seq)
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
              t_view IS NOT NULL AS s1_view,
              COALESCE(t_view IS NOT NULL AND t_click > t_view, false)
                AS s2_click,
              COALESCE(t_view IS NOT NULL AND t_click > t_view
                       AND t_buy > t_click, false) AS s3_purchase
            FROM a
        """,
        "q131_retention_cohorts": """
            WITH f AS (
              SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE)
                AS cohort_day
              FROM events GROUP BY user_id),
            j AS (
              SELECT e.user_id, f.cohort_day,
                date_diff('day', CAST(f.cohort_day AS DATE),
                          CAST(date_trunc('day', e.ts) AS DATE))
                  AS days_since
              FROM events e JOIN f USING (user_id))
            SELECT cohort_day, CAST(days_since AS INT) AS days_since,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
            FROM j GROUP BY cohort_day, days_since
        """,
        "q132_mad_outliers": """
            WITH d AS (
              SELECT event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS v
              FROM events),
            r1 AS (
              SELECT *,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY v, event_id) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM d),
            med AS (
              SELECT event_type,
                max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med
              FROM r1 GROUP BY event_type),
            dd AS (
              SELECT d.event_id, d.event_type, abs(d.v - m.med) AS ad
              FROM d JOIN med m USING (event_type)),
            r2 AS (
              SELECT *,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY ad, event_id) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM dd),
            mad AS (
              SELECT event_type,
                max(CASE WHEN rn = (n + 1) // 2 THEN ad END) AS mad
              FROM r2 GROUP BY event_type)
            SELECT dd.event_id, dd.event_type,
              dd.ad > 3 * mad.mad AS is_outlier
            FROM dd JOIN mad USING (event_type)
        """,
        "q133_strip_accents": """
            WITH d AS (
              SELECT doc_id,
                substr(text, 1, 40)
                  || ' caf' || chr(233) || ' na' || chr(239)
                  || 've fa' || chr(231) || 'ade Z' || chr(252) || 'rich'
                  AS raw
              FROM documents)
            SELECT doc_id, strip_accents(raw) AS stripped,
              strip_accents(raw) = raw AS unchanged
            FROM d
        """,
        "q134_revenue_share": """
            WITH pn AS (
              SELECT r.r_name, n.n_name,
                CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              GROUP BY r.r_name, n.n_name)
            SELECT r_name, n_name, cents,
              round(CAST(cents AS DOUBLE)
                / SUM(cents) OVER (PARTITION BY r_name), 6) AS share
            FROM pn
        """,
        "q135_cumulative_distinct": """
            WITH fd AS (
              SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE)
                AS day
              FROM events GROUP BY user_id),
            dn AS (
              SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
              FROM fd GROUP BY day)
            SELECT day, new_users,
              CAST(SUM(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
            FROM dn
        """,
        "q136_latest_per_key": """
            SELECT user_id, event_id AS last_event_id,
              event_type AS last_type, ts AS last_ts
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) t
            WHERE rn = 1
        """,
        "q137_dwell_times": """
            WITH g AS (
              SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
              FROM events)
            SELECT user_id,
              CAST(COUNT(*) AS BIGINT) AS n_gaps,
              CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS mean_gap_us,
              CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
            FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
        """,
        "q138_embedding_dim_stats": """
            WITH d AS (
              SELECT CAST(s.i AS INT) AS dim,
                CAST(round(CAST(e.embedding[s.i + 1] AS DOUBLE) * 1000)
                  AS BIGINT) AS v
              FROM embeddings e,
                unnest(range(0, len(e.embedding))) AS s(i))
            SELECT dim,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean_q,
              CAST((SUM(v * v) - (SUM(v) * SUM(v)) // COUNT(*))
                   // COUNT(*) AS BIGINT) AS var_q
            FROM d GROUP BY dim
        """,
        "q139_media_fingerprint_neardup": """
            WITH m AS (
              SELECT doc_id AS media_id,
                CAST('0x' || substr(md5(CAST(doc_id // 4 AS VARCHAR)),
                     1, 12) AS BIGINT) AS base
              FROM documents),
            fp AS (
              SELECT media_id,
                CASE media_id % 4
                  WHEN 0 THEN base
                  WHEN 1 THEN xor(base,
                    CAST(1 AS BIGINT) << CAST(media_id % 37 AS INT))
                  WHEN 2 THEN xor(xor(base,
                      CAST(1 AS BIGINT) << CAST(media_id % 29 AS INT)),
                    CAST(1 AS BIGINT) << CAST((media_id + 13) % 41 AS INT))
                  ELSE xor(base, 255) END AS fp
              FROM m),
            bands AS (
              SELECT media_id, fp, s.b AS b,
                (fp >> (CAST(s.b AS INT) * 8)) & 255 AS bv
              FROM fp, unnest(range(0, 6)) AS s(b)),
            cand AS (
              SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
                a.fp AS fa, b.fp AS fb
              FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
                AND a.media_id < b.media_id)
            SELECT id_a, id_b,
              CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(fa, fb)) <= 3
        """,
        "q140_salted_join": """
            WITH dim AS (
              SELECT * FROM (VALUES
                ('view', 1), ('click', 3), ('purchase', 10),
                ('signup', 5), ('error', 0)) AS t(event_type, weight))
            SELECT e.event_id, e.event_type, e.user_id,
              CAST(d.weight AS INT) AS weight
            FROM events e JOIN dim d USING (event_type)
        """,
        "q148_ivfpq_index_exact": """
            -- the exactness invariant: full probes + full refine must
            -- reproduce the brute-force quantized-dot top-3 for the
            -- query subset
            WITH q AS (SELECT vec_id, list_transform(embedding, x ->
                CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
                CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
              FROM q a, q b
              WHERE a.vec_id != b.vec_id AND a.vec_id < 40)
            SELECT vec_id, CAST(rn AS INT) AS rank, nn_id, dot FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dot DESC, nn_id ASC) AS rn FROM pairs) t
            WHERE rn <= 3
        """,
        "q147_sidecar_dedup": """
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
            incr AS (
              SELECT d.doc_id, s.text
              FROM (SELECT doc_id,
                      CASE WHEN doc_id % 9 = 0 THEN doc_id + 1
                           WHEN doc_id % 9 = 6 THEN doc_id - 3
                           ELSE doc_id END AS src_id
                    FROM documents WHERE doc_id % 3 = 0) d
              JOIN documents s ON s.doc_id = d.src_id),
            bmin AS (SELECT md5(text) AS digest, min(doc_id) AS dup_of_base
                     FROM base GROUP BY 1),
            idig AS (SELECT doc_id, md5(text) AS digest FROM incr),
            imin AS (SELECT digest, min(doc_id) AS batch_min
                     FROM idig GROUP BY 1),
            staged AS (
              SELECT i.doc_id, b.dup_of_base, m.batch_min
              FROM idig i LEFT JOIN bmin b ON i.digest = b.digest
              JOIN imin m ON i.digest = m.digest),
            i_toks AS (
              SELECT doc_id, s.i AS pos, l[s.i + 1] AS token FROM
              (SELECT doc_id, string_split_regex(text, '\\s+') AS l
               FROM incr) d, unnest(range(0, len(d.l))) AS s(i)),
            i_ne AS (SELECT * FROM i_toks WHERE token != ''),
            i_sh AS (
              SELECT DISTINCT a.doc_id,
                a.token || ' ' || b.token || ' ' || c.token AS shingle
              FROM i_ne a
              JOIN i_ne b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              JOIN i_ne c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
            b_toks AS (
              SELECT doc_id, s.i AS pos, l[s.i + 1] AS token FROM
              (SELECT doc_id, string_split_regex(text, '\\s+') AS l
               FROM base) d, unnest(range(0, len(d.l))) AS s(i)),
            b_ne AS (SELECT * FROM b_toks WHERE token != ''),
            b_sh AS (
              SELECT DISTINCT a.doc_id,
                a.token || ' ' || b.token || ' ' || c.token AS shingle
              FROM b_ne a
              JOIN b_ne b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              JOIN b_ne c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
            isz AS (SELECT doc_id, COUNT(*) AS n FROM i_sh GROUP BY 1),
            bsz AS (SELECT doc_id, COUNT(*) AS n FROM b_sh GROUP BY 1),
            inter AS (
              SELECT i.doc_id AS iid, b.doc_id AS bid, COUNT(*) AS ni
              FROM i_sh i JOIN b_sh b ON i.shingle = b.shingle
              GROUP BY 1, 2),
            near AS (
              SELECT iid AS doc_id, min(bid) AS near_of
              FROM inter
              JOIN isz ON isz.doc_id = inter.iid
              JOIN bsz ON bsz.doc_id = inter.bid
              WHERE round(CAST(ni AS DOUBLE) / (isz.n + bsz.n - ni), 6)
                    >= 0.1
              GROUP BY 1)
            SELECT s.doc_id,
              CASE WHEN s.dup_of_base IS NOT NULL THEN 'exact_dup_base'
                   WHEN s.batch_min < s.doc_id THEN 'exact_dup_batch'
                   WHEN n.near_of IS NOT NULL THEN 'near_dup_base'
                   ELSE 'new' END AS decision,
              CASE WHEN s.dup_of_base IS NOT NULL THEN s.dup_of_base
                   WHEN s.batch_min < s.doc_id THEN s.batch_min
                   ELSE n.near_of END AS dup_of
            FROM staged s LEFT JOIN near n ON n.doc_id = s.doc_id
        """,
        "q146_split_leakage": """
            WITH u AS (
              SELECT doc_id, source, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, 'mirror', text
              FROM documents WHERE doc_id % 7 = 0),
            s AS (
              SELECT doc_id, source, text,
                CASE WHEN CAST('0x' || substr(md5('split-lk' || source),
                       1, 8) AS BIGINT) < 858993459
                     THEN 'eval' ELSE 'train' END AS split
              FROM u),
            span AS (
              SELECT md5(text) AS dg,
                count(DISTINCT split) AS nsplits
              FROM s GROUP BY 1)
            SELECT doc_id, source, split,
              (nsplits > 1) AS leaked
            FROM s JOIN span ON span.dg = md5(s.text)
        """,
        "q145_streaming_web_corpus": """
            -- two-batch streaming lifecycle in closed form: batch 1
            -- (doc_id%3=1, raw text) funnels and dedups in-batch; its
            -- ADMITTED set is the corpus batch 2 (doc_id%3=2, with
            -- %9=2 copying doc_id-1 and %9=8 copying doc_id-3) dedups
            -- against, before its own in-batch digest pass
            WITH b1 AS (
              SELECT doc_id,
                'd' || CAST(doc_id % 15 AS VARCHAR) || '.org' AS domain,
                text
              FROM documents WHERE doc_id % 3 = 1),
            b2src AS (
              SELECT doc_id,
                CASE WHEN doc_id % 9 = 2 THEN doc_id - 1
                     WHEN doc_id % 9 = 8 THEN doc_id - 3
                     ELSE doc_id END AS src_id
              FROM documents WHERE doc_id % 3 = 2),
            b2 AS (
              SELECT d.doc_id,
                'd' || CAST(d.doc_id % 15 AS VARCHAR) || '.org' AS domain,
                s.text
              FROM b2src d JOIN documents s ON s.doc_id = d.src_id),
            f1 AS (
              SELECT *, (domain IN ('d4.org', 'd5.org')) AS blocked,
                (length(text) >= 200) AS q
              FROM b1),
            d1 AS (SELECT doc_id, md5(text) AS digest
                   FROM f1 WHERE NOT blocked AND q),
            m1 AS (SELECT digest, min(doc_id) AS mn FROM d1 GROUP BY 1),
            a1 AS (
              SELECT f1.doc_id, f1.domain,
                CASE WHEN blocked THEN 'blocked_domain'
                     WHEN NOT q THEN 'low_quality'
                     WHEN m1.mn < f1.doc_id THEN 'exact_dup_batch'
                     ELSE 'admitted' END AS disposition,
                CASE WHEN NOT blocked AND q AND m1.mn < f1.doc_id
                     THEN m1.mn END AS dup_of,
                0 AS batch_id
              FROM f1 LEFT JOIN d1 ON d1.doc_id = f1.doc_id
              LEFT JOIN m1 ON m1.digest = d1.digest),
            corpus1 AS (
              SELECT d1.doc_id, d1.digest
              FROM d1 JOIN m1 ON m1.digest = d1.digest
              WHERE m1.mn = d1.doc_id),
            f2 AS (
              SELECT *, (domain IN ('d4.org', 'd5.org')) AS blocked,
                (length(text) >= 200) AS q
              FROM b2),
            d2 AS (SELECT doc_id, md5(text) AS digest
                   FROM f2 WHERE NOT blocked AND q),
            bm AS (SELECT digest, min(doc_id) AS dup_base
                   FROM corpus1 GROUP BY 1),
            m2 AS (SELECT digest, min(doc_id) AS mn FROM d2 GROUP BY 1),
            a2 AS (
              SELECT f2.doc_id, f2.domain,
                CASE WHEN blocked THEN 'blocked_domain'
                     WHEN NOT q THEN 'low_quality'
                     WHEN bm.dup_base IS NOT NULL THEN 'exact_dup_base'
                     WHEN m2.mn < f2.doc_id THEN 'exact_dup_batch'
                     ELSE 'admitted' END AS disposition,
                CASE WHEN blocked OR NOT q THEN NULL
                     WHEN bm.dup_base IS NOT NULL THEN bm.dup_base
                     WHEN m2.mn < f2.doc_id THEN m2.mn END AS dup_of,
                1 AS batch_id
              FROM f2 LEFT JOIN d2 ON d2.doc_id = f2.doc_id
              LEFT JOIN bm ON bm.digest = d2.digest
              LEFT JOIN m2 ON m2.digest = d2.digest)
            SELECT * FROM a1 UNION ALL SELECT * FROM a2
        """,
        "q144_giant_doc_parts": """
            -- closed form of the part-split equivalence invariant: the
            -- Spark side computes the ACTUAL whole-vs-split comparison;
            -- any divergence in content, page attribution, id
            -- renumbering, or part count hash-mismatches here
            SELECT doc_id, 2 AS n_parts, true AS content_match,
              true AS pages_match, true AS ids_contiguous
            FROM documents
            WHERE len(string_split_regex(text, '\\s+')) >= 48
        """,
        "q143_blocklist_lifecycle": """
            WITH a AS (
              SELECT 'f' || CAST(user_id % 200 AS VARCHAR) AS file_key,
                ts AS attempt_ts,
                CASE WHEN event_type = 'error' THEN 'failed'
                     ELSE 'success' END AS status
              FROM events),
            ls AS (
              SELECT file_key,
                max(CASE WHEN status = 'success' THEN attempt_ts END)
                  AS last_ok
              FROM a GROUP BY file_key),
            fails AS (
              SELECT a.file_key, CAST(COUNT(*) AS BIGINT)
                  AS consecutive_failures
              FROM a JOIN ls USING (file_key)
              WHERE status = 'failed'
                AND (last_ok IS NULL OR attempt_ts > last_ok)
              GROUP BY a.file_key)
            -- the unblock marker (synthetic success at the file's max
            -- attempt_ts) zeroes every even file's consecutive count,
            -- so the post-unblock blocklist is the odd blocked files
            SELECT file_key, consecutive_failures
            FROM fails
            WHERE consecutive_failures >= 1
              AND CAST(substr(file_key, 2) AS INT) % 2 = 1
        """,
        "q142_read_access": """
            -- closed form of the ordered first-occurrence dedup over
            -- the synthetic grants: read grant ids, owner grant
            -- dropped, write grant empty for every third customer
            -- (null user_ids) else nation group (u-shared dedups);
            -- comma-joined to a scalar for the driver canonicalizer
            SELECT c_custkey,
              CASE WHEN c_custkey % 3 = 0
                   THEN 'u' || CAST(c_custkey % 50 AS VARCHAR) || ',u-shared'
                   ELSE 'u' || CAST(c_custkey % 50 AS VARCHAR) || ',u-shared,'
                        || 'g' || CAST(c_nationkey AS VARCHAR)
              END AS readers
            FROM customer
        """,
        "q141_dedup_planner": f"""
            WITH sh AS ({_SHINGLES}),
            freq AS (
              SELECT shingle, CAST(COUNT(*) AS BIGINT) AS c
              FROM sh GROUP BY shingle),
            syn AS (
              SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_shingles,
                CAST(COUNT(*) AS BIGINT) AS distinct_shingles,
                CAST(COALESCE(SUM(c * (c - 1)), 0) // 2 AS BIGINT) AS est_pairs,
                CAST(COALESCE(MAX(c), 0) AS BIGINT) AS hot_shingle_count
              FROM freq),
            nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
            SELECT n_docs, n_shingles, distinct_shingles, est_pairs,
              hot_shingle_count,
              CASE WHEN est_pairs <= n_docs * 64 THEN 'exact_pair_join'
                   ELSE 'lsh_candidates' END AS strategy
            FROM nd, syn
        """,
        "q128_acl_visibility": """
            WITH d AS (
              SELECT c_custkey,
                CASE WHEN c_custkey % 3 != 0
                     THEN 'u' || CAST(c_custkey % 50 AS VARCHAR) END AS uid,
                CASE WHEN c_custkey % 2 = 0
                     THEN 'g' || CAST(c_nationkey AS VARCHAR) END AS gid
              FROM customer)
            SELECT c_custkey,
              CASE WHEN uid = 'u7' THEN 'user'
                   WHEN gid IN ('g3', 'g11') THEN 'group'
                   WHEN uid IS NULL AND gid IS NULL THEN 'public'
              END AS reason
            FROM d
            WHERE uid = 'u7' OR gid IN ('g3', 'g11')
               OR (uid IS NULL AND gid IS NULL)
        """,
        "q149_zorder_key": f"""
            SELECT o_orderkey, x, y,
                   CAST({_ZORDER_TERMS} AS BIGINT) AS zkey
            FROM (SELECT o_orderkey,
                         o_custkey % 256 AS x,
                         o_orderkey % 256 AS y
                  FROM orders) t
        """,
        "q162_char_collision": """
            WITH ch AS (
              SELECT doc_id, c.ch
              FROM documents, unnest(string_split(text, '')) AS c(ch)
              WHERE c.ch != ''),
            per AS (
              SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
              FROM ch GROUP BY doc_id, ch),
            agg AS (
              SELECT doc_id,
                CAST(SUM(c) AS BIGINT) AS n_chars,
                CAST(SUM(c * (c - 1)) AS BIGINT) AS collisions
              FROM per GROUP BY doc_id)
            SELECT doc_id, n_chars, collisions,
              n_chars * (n_chars - 1) AS pairs,
              CASE WHEN n_chars >= 2 THEN
                round(CAST(collisions AS DOUBLE)
                      / (n_chars * (n_chars - 1)), 6)
              END AS collision_index
            FROM agg
        """,
        "q161_span_rollup": """
            WITH spans AS (
              SELECT 't' || CAST(o_custkey % 50 AS VARCHAR) AS trace_id,
                CAST(o_orderkey AS BIGINT) AS span_id,
                CASE WHEN o_orderkey % 4 = 0 THEN NULL
                     ELSE CAST(o_orderkey - o_orderkey % 4 AS BIGINT)
                END AS parent_id,
                'phase' || CAST(o_orderkey % 4 AS VARCHAR) AS name,
                CAST(floor(o_totalprice) AS BIGINT) AS dur_ms,
                o_orderkey % 13 != 0 AS ok
              FROM orders),
            kids AS (
              SELECT trace_id, parent_id AS span_id,
                SUM(dur_ms) AS child_ms
              FROM spans WHERE parent_id IS NOT NULL
              GROUP BY trace_id, parent_id),
            enriched AS (
              SELECT s.name, s.dur_ms, s.ok,
                GREATEST(CAST(0 AS BIGINT),
                  s.dur_ms - COALESCE(k.child_ms, 0)) AS self_ms
              FROM spans s
              LEFT JOIN kids k USING (trace_id, span_id))
            SELECT name, CAST(COUNT(*) AS BIGINT) AS n_calls,
              CAST(SUM(dur_ms) AS BIGINT) AS total_ms,
              CAST(SUM(self_ms) AS BIGINT) AS self_ms,
              CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
                AS n_failed
            FROM enriched GROUP BY name
        """,
        "q160_suggest_terms": """
            WITH toks AS (
              SELECT doc_id AS doc, t.token
              FROM documents,
                unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x != '')) AS t(token)),
            dfreq AS (
              SELECT token, CAST(COUNT(DISTINCT doc) AS BIGINT) AS df
              FROM toks GROUP BY token),
            pf(prefix) AS (VALUES ('s'), ('ta'), ('f'), ('c'), ('b')),
            cand AS (
              SELECT pf.prefix, d.token, d.df
              FROM dfreq d JOIN pf ON starts_with(d.token, pf.prefix)),
            ranked AS (
              SELECT prefix, token, df,
                row_number() OVER (PARTITION BY prefix
                  ORDER BY df DESC, token ASC) AS rank
              FROM cand)
            SELECT prefix, rank, token, df
            FROM ranked WHERE rank <= 5
        """,
        "q159_phrase_search": """
            WITH toks AS (
              SELECT doc_id AS doc, s.i - 1 AS pos, ws[s.i] AS token
              FROM (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x != '') AS ws
                    FROM documents) d,
                unnest(range(1, len(ws) + 1)) AS s(i)),
            ph(phrase_id, i, token, m) AS (VALUES
              ('p0', 0, 'table', 2), ('p0', 1, 'scan', 2),
              ('p1', 0, 'fast', 2), ('p1', 1, 'table', 2),
              ('p2', 0, 'the', 2), ('p2', 1, 'line', 2),
              ('p3', 0, 'value', 3), ('p3', 1, 'fast', 3),
              ('p3', 2, 'merge', 3),
              ('p4', 0, 'a', 2), ('p4', 1, 'a', 2)),
            cand AS (
              SELECT ph.phrase_id, t.doc, ph.m,
                t.pos - ph.i AS base, ph.i
              FROM toks t JOIN ph USING (token)),
            occ AS (
              SELECT phrase_id, doc, m, base,
                COUNT(DISTINCT i) AS hits
              FROM cand GROUP BY phrase_id, doc, m, base
              HAVING COUNT(DISTINCT i) = m),
            tf AS (
              SELECT phrase_id, doc,
                CAST(COUNT(*) AS BIGINT) AS phrase_tf
              FROM occ GROUP BY phrase_id, doc),
            ranked AS (
              SELECT phrase_id, doc, phrase_tf,
                row_number() OVER (PARTITION BY phrase_id
                  ORDER BY phrase_tf DESC, doc ASC) AS rank
              FROM tf)
            SELECT phrase_id, rank, doc, phrase_tf
            FROM ranked WHERE rank <= 10
        """,
        "q158_search_highlights": f"""
            WITH {_bm25_oracle_ctes()},
            ranked AS (
              SELECT query_id, doc, score_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS rank
              FROM scored),
            hits AS (SELECT query_id, doc, rank FROM ranked
                     WHERE rank <= 5),
            qterms AS (SELECT DISTINCT query_id, token FROM qs),
            hd AS (
              SELECT h.query_id, h.rank, h.doc, lower(d.text) AS t
              FROM hits h JOIN documents d ON d.doc_id = h.doc),
            pos AS (
              SELECT hd.query_id, hd.rank, hd.doc, hd.t,
                CAST(COALESCE(MIN(CASE WHEN strpos(hd.t, q.token) > 0
                        THEN strpos(hd.t, q.token) END), 1) AS BIGINT)
                  AS match_pos
              FROM hd JOIN qterms q USING (query_id)
              GROUP BY hd.query_id, hd.rank, hd.doc, hd.t)
            SELECT query_id, rank, doc, match_pos,
              substr(t, GREATEST(1, match_pos - 30), 60) AS snippet
            FROM pos
        """,
        "q157_text_index_lifecycle": f"""
            WITH {_bm25_oracle_ctes(
                "(SELECT doc_id, CASE WHEN doc_id % 7 = 0 "
                "THEN substr(text, 1, 199) ELSE text END AS text "
                "FROM documents "
                "WHERE doc_id % 11 != 0 OR doc_id % 7 = 0)"
            )},
            ranked AS (
              SELECT query_id, doc, score_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS rank
              FROM scored)
            SELECT query_id, rank, doc, score_q
            FROM ranked WHERE rank <= 10
        """,
        "q155_bm25_topk": f"""
            WITH {_bm25_oracle_ctes()},
            ranked AS (
              SELECT query_id, doc, score_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS rank
              FROM scored)
            SELECT query_id, rank, doc, score_q
            FROM ranked WHERE rank <= 10
        """,
        "q182_filtered_search": f"""
            WITH {_bm25_oracle_ctes()},
            allowed AS (SELECT doc_id AS doc FROM documents
                        WHERE lang = 'en'),
            fs AS (
              SELECT s.query_id, s.doc, s.score_q
              FROM scored s JOIN allowed a USING (doc)),
            ranked AS (
              SELECT query_id, doc, score_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS rank
              FROM fs)
            SELECT query_id, rank, doc, score_q
            FROM ranked WHERE rank <= 10
        """,
        "q187_event_transitions": """
            WITH seq AS (
              SELECT user_id, event_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS next_type
              FROM events),
            pairs AS (
              SELECT event_type AS from_type, next_type AS to_type,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM seq WHERE next_type IS NOT NULL
              GROUP BY 1, 2),
            totals AS (
              SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
              FROM pairs GROUP BY from_type)
            SELECT p.from_type, p.to_type, p.n, t.row_total,
                   CAST(p.n * 1000000 // t.row_total AS BIGINT) AS p_q
            FROM pairs p JOIN totals t USING (from_type)
        """,
        "q186_stickiness": """
            WITH ud AS (
              SELECT DISTINCT user_id,
                CAST(CAST(epoch(ts) AS BIGINT) // 86400 AS BIGINT) AS d
              FROM events),
            dau AS (
              SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
              FROM ud GROUP BY d),
            contrib AS (
              SELECT u.user_id, CAST(u.d + g.o AS BIGINT) AS d
              FROM ud u, (SELECT UNNEST(generate_series(0, 6)) AS o) g),
            wau AS (
              SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
              FROM contrib GROUP BY d)
            SELECT a.d AS day, a.dau, w.wau,
                   CAST(a.dau * 1000000 // w.wau AS BIGINT)
                     AS stickiness_q
            FROM dau a JOIN wau w USING (d)
        """,
        "q185_cohort_retention": """
            WITH uw AS (
              SELECT DISTINCT user_id,
                CAST(CAST(epoch(ts) AS BIGINT) // (86400 * 7) AS BIGINT)
                  AS wk
              FROM events),
            first AS (
              SELECT user_id, CAST(MIN(wk) AS BIGINT) AS cohort_wk
              FROM uw GROUP BY user_id),
            act AS (
              SELECT f.cohort_wk,
                     CAST(u.wk - f.cohort_wk AS BIGINT) AS week_offset,
                     CAST(COUNT(DISTINCT u.user_id) AS BIGINT)
                       AS n_active
              FROM uw u JOIN first f USING (user_id)
              GROUP BY 1, 2),
            sizes AS (
              SELECT cohort_wk,
                     CAST(COUNT(*) AS BIGINT) AS n_cohort
              FROM first GROUP BY cohort_wk)
            SELECT a.cohort_wk, a.week_offset, a.n_active, s.n_cohort,
                   CAST(a.n_active * 1000000 // s.n_cohort AS BIGINT)
                     AS retention_q
            FROM act a JOIN sizes s USING (cohort_wk)
        """,
        "q188_rag_end_to_end": f"""
            WITH {{_bm25_oracle_ctes(CHUNK_CORPUS)}},
            l1 AS (
              SELECT query_id, doc, score_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS l1rank
              FROM scored),
            sl AS (SELECT query_id, doc, l1rank FROM l1
                   WHERE l1rank <= 10),
            m AS (
              SELECT s.query_id, s.doc,
                     CAST(COUNT(*) AS BIGINT) AS nterms,
                     CAST(SUM(p.tf) AS BIGINT) AS ttf
              FROM sl s
              JOIN (SELECT DISTINCT query_id, token FROM qs) q
                ON q.query_id = s.query_id
              JOIN postings p ON p.token = q.token AND p.doc = s.doc
              GROUP BY s.query_id, s.doc),
            sem AS (
              SELECT s.query_id, s.doc, s.l1rank,
                CAST(COALESCE(m.nterms, 0) * 1000000
                     + LEAST(COALESCE(m.ttf, 0), 999999) AS BIGINT)
                  AS sem_q
              FROM sl s LEFT JOIN m
                ON m.query_id = s.query_id AND m.doc = s.doc),
            ranked AS (
              SELECT query_id, doc, sem_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY sem_q DESC, l1rank ASC, doc ASC) AS rank
              FROM sem)
            SELECT query_id, rank, doc, sem_q,
                   CAST(doc // 1000 AS BIGINT) AS doc_id,
                   CAST(doc % 1000 AS BIGINT) AS chunk_id
            FROM ranked WHERE rank <= 5
        """.replace("{_bm25_oracle_ctes(CHUNK_CORPUS)}",
                    _bm25_oracle_ctes('(SELECT d.doc_id * 1000 + CAST(s.i AS BIGINT) AS doc_id, substr(d.text, CAST(s.i AS INT) * 160 + 1, 200) AS text FROM documents d, unnest(range(0, greatest((length(d.text) - 1) // 160, 0) + 1)) AS s(i) WHERE length(substr(d.text, CAST(s.i AS INT) * 160 + 1, 200)) >= 1)')),
        "q184_semantic_rerank": f"""
            WITH {_bm25_oracle_ctes()},
            l1 AS (
              SELECT query_id, doc, score_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS l1rank
              FROM scored),
            sl AS (SELECT query_id, doc, l1rank FROM l1
                   WHERE l1rank <= 20),
            m AS (
              SELECT s.query_id, s.doc,
                     CAST(COUNT(*) AS BIGINT) AS nterms,
                     CAST(SUM(p.tf) AS BIGINT) AS ttf
              FROM sl s
              JOIN (SELECT DISTINCT query_id, token FROM qs) q
                ON q.query_id = s.query_id
              JOIN postings p ON p.token = q.token AND p.doc = s.doc
              GROUP BY s.query_id, s.doc),
            sem AS (
              SELECT s.query_id, s.doc, s.l1rank,
                CAST(COALESCE(m.nterms, 0) * 1000000
                     + LEAST(COALESCE(m.ttf, 0), 999999) AS BIGINT)
                  AS sem_q
              FROM sl s LEFT JOIN m
                ON m.query_id = s.query_id AND m.doc = s.doc),
            ranked AS (
              SELECT query_id, doc, sem_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY sem_q DESC, l1rank ASC, doc ASC) AS rank
              FROM sem)
            SELECT query_id, rank, doc, sem_q
            FROM ranked WHERE rank <= 10
        """,
        "q183_filtered_hybrid": f"""
            WITH {_bm25_oracle_ctes()},
            allowed AS (SELECT doc_id AS doc FROM documents
                        WHERE lang = 'en'),
            branked AS (
              SELECT s.query_id, s.doc,
                row_number() OVER (PARTITION BY s.query_id
                  ORDER BY s.score_q DESC, s.doc ASC) AS rank
              FROM scored s JOIN allowed a USING (doc)),
            btop AS (SELECT query_id, doc, rank FROM branked
                     WHERE rank <= 20),
            vq AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
              FROM embeddings),
            qv AS (
              SELECT 'q' || CAST(vec_id AS VARCHAR) AS query_id,
                     qv AS q_qv
              FROM vq WHERE vec_id < 8),
            vscore AS (
              SELECT q.query_id, d.vec_id AS doc,
                CAST(list_dot_product(q.q_qv, d.qv) AS BIGINT) AS qdot
              FROM qv q, vq d
              JOIN allowed a ON a.doc = d.vec_id),
            vrank AS (
              SELECT query_id, doc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY qdot DESC, doc ASC) AS rank
              FROM vscore),
            vtop AS (SELECT query_id, doc, rank FROM vrank
                     WHERE rank <= 20),
            contribs AS (
              SELECT query_id, doc, 1000000 // (60 + rank) AS c FROM btop
              UNION ALL
              SELECT query_id, doc, 1000000 // (60 + rank) FROM vtop),
            fused AS (
              SELECT query_id, doc, CAST(SUM(c) AS BIGINT) AS rrf_q
              FROM contribs GROUP BY query_id, doc),
            franked AS (
              SELECT query_id, doc, rrf_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_q DESC, doc ASC) AS rank
              FROM fused)
            SELECT query_id, rank, doc, rrf_q
            FROM franked WHERE rank <= 10
        """,
        "q156_hybrid_rrf": f"""
            WITH {_bm25_oracle_ctes()},
            branked AS (
              SELECT query_id, doc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS rank
              FROM scored),
            btop AS (SELECT query_id, doc, rank FROM branked
                     WHERE rank <= 20),
            vq AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
              FROM embeddings),
            qv AS (
              SELECT 'q' || CAST(vec_id AS VARCHAR) AS query_id,
                     qv AS q_qv
              FROM vq WHERE vec_id < 8),
            vscore AS (
              SELECT q.query_id, d.vec_id AS doc,
                CAST(list_dot_product(q.q_qv, d.qv) AS BIGINT) AS qdot
              FROM qv q, vq d),
            vrank AS (
              SELECT query_id, doc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY qdot DESC, doc ASC) AS rank
              FROM vscore),
            vtop AS (SELECT query_id, doc, rank FROM vrank
                     WHERE rank <= 20),
            contribs AS (
              SELECT query_id, doc, 1000000 // (60 + rank) AS c FROM btop
              UNION ALL
              SELECT query_id, doc, 1000000 // (60 + rank) FROM vtop),
            fused AS (
              SELECT query_id, doc, CAST(SUM(c) AS BIGINT) AS rrf_q
              FROM contribs GROUP BY query_id, doc),
            franked AS (
              SELECT query_id, doc, rrf_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_q DESC, doc ASC) AS rank
              FROM fused)
            SELECT query_id, rank, doc, rrf_q
            FROM franked WHERE rank <= 10
        """,
        "q154_char_coverage": """
            WITH ch AS (
              SELECT c.ch AS ch FROM documents,
                unnest(string_split(text, '')) AS c(ch)
              WHERE c.ch != ''),
            counts AS (
              SELECT ch, CAST(COUNT(*) AS BIGINT) AS n
              FROM ch GROUP BY ch),
            t AS (SELECT SUM(n) AS total FROM counts),
            ranked AS (
              SELECT ch, n,
                row_number() OVER (ORDER BY n DESC, ch ASC) AS rank,
                SUM(n) OVER (ORDER BY n DESC, ch ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
              FROM counts)
            SELECT ch, n, CAST(rank AS BIGINT) AS rank,
              (cum_n - n) * 10000 < t.total * 9995 AS in_vocab
            FROM ranked, t
        """,
        "q153_lm_quality_buckets": """
            WITH w AS (
              SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x != '')[1:128] AS ws
              FROM documents),
            bg AS (
              SELECT doc_id, ws[s.i] AS w1, ws[s.i + 1] AS w2
              FROM w, unnest(range(1, len(ws))) AS s(i)
              WHERE len(ws) >= 2),
            c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
                    FROM bg GROUP BY w1, w2),
            c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
                   FROM bg GROUP BY w1),
            v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1),
            scored AS (
              SELECT bg.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                SUM(COALESCE(c1.c1, 0) + v.v) AS num,
                SUM(COALESCE(c12.c12, 0) + 1) AS den
              FROM bg
              LEFT JOIN c12 USING (w1, w2)
              LEFT JOIN c1 USING (w1)
              CROSS JOIN v
              GROUP BY bg.doc_id),
            ranked AS (
              SELECT doc_id, n_bigrams,
                round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS score,
                row_number() OVER (
                  ORDER BY round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6),
                           doc_id) AS rn,
                COUNT(*) OVER () AS n
              FROM scored)
            SELECT doc_id, n_bigrams, score,
              ['head', 'middle', 'tail'][
                CAST(((rn - 1) * 3) // n AS INT) + 1] AS bucket
            FROM ranked
        """,
        "q152_bucketed_join": """
            SELECT o_orderpriority,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                AS revenue,
              COUNT(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "q151_snapshot_merge": """
            -- closed form of: merge(all) ; merge(%10 -> 'U') ;
            -- delete(%7) ; optimize ; vacuum
            SELECT o_orderkey,
              CASE WHEN o_orderkey % 10 = 0 THEN 'U'
                   ELSE o_orderstatus END AS o_orderstatus,
              o_totalprice,
              CAST(o_orderkey % 8 AS INT) AS bucket
            FROM orders
            WHERE o_orderkey % 7 != 0
        """,
        "q150_cumulative_domain_cap": """
            WITH d AS (
              SELECT doc_id, n_chars,
                'd' || CAST(doc_id % 15 AS VARCHAR) || '.org' AS domain,
                doc_id % 2 AS batch,
                (doc_id % 15 IN (0, 7)) AS is_blocked,
                (doc_id % 15 NOT IN (0, 7)) AND n_chars >= 200 AS ok
              FROM documents),
            r0 AS (
              SELECT doc_id,
                row_number() OVER (PARTITION BY domain
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
              FROM d WHERE batch = 0 AND ok),
            c0 AS (
              SELECT domain, COUNT(*) AS n
              FROM d WHERE batch = 0 AND ok GROUP BY domain),
            r1 AS (
              SELECT d.doc_id,
                row_number() OVER (PARTITION BY d.domain
                  ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
                + coalesce(c0.n, 0) AS rank
              FROM d LEFT JOIN c0 ON c0.domain = d.domain
              WHERE d.batch = 1 AND d.ok)
            SELECT d.doc_id, d.domain, d.batch,
              CASE WHEN d.is_blocked THEN 'blocked_domain'
                   WHEN d.n_chars < 200 THEN 'low_quality'
                   WHEN coalesce(r.rank, 0) <= 15 THEN 'keep'
                   ELSE 'over_cap' END AS disposition
            FROM d
            LEFT JOIN (SELECT * FROM r0 UNION ALL SELECT * FROM r1) r
                   ON r.doc_id = d.doc_id
        """,
        "q166_snapshot_changes": """
            -- diff(gen1, gen3) of: init ; merge(%10 -> 'U') ;
            -- delete(%7).  Updates carry the POST-image (gen3),
            -- deletes the PRE-image (gen1); %70 keys are deletes.
            SELECT o_orderkey, 'update' AS change_type,
                   CAST(o_orderkey % 8 AS INT) AS bucket,
                   'U' AS o_orderstatus, o_totalprice
            FROM orders
            WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 != 0
            UNION ALL
            SELECT o_orderkey, 'delete',
                   CAST(o_orderkey % 8 AS INT),
                   o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 7 = 0
        """,
        "q167_filtered_vector_search": """
            WITH v AS (
              SELECT vec_id, label, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
              FROM embeddings),
            qs AS (SELECT vec_id AS query_id, q AS qq
                   FROM v WHERE vec_id < 8),
            pres AS (
              SELECT s.query_id, d.vec_id AS corpus_id,
                CAST(list_dot_product(s.qq, d.q) AS BIGINT) AS dot_q
              FROM qs s JOIN v d
                ON d.label = 1 AND d.vec_id != s.query_id),
            prer AS (
              SELECT query_id, corpus_id, dot_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY dot_q DESC, corpus_id ASC) AS rank
              FROM pres),
            alls AS (
              SELECT s.query_id, d.vec_id AS corpus_id,
                CAST(list_dot_product(s.qq, d.q) AS BIGINT) AS dot_q
              FROM qs s JOIN v d ON d.vec_id != s.query_id),
            allr AS (
              SELECT query_id, corpus_id, dot_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY dot_q DESC, corpus_id ASC) AS rank
              FROM alls)
            SELECT 'pre' AS mode, query_id, rank, corpus_id, dot_q
            FROM prer WHERE rank <= 5
            UNION ALL
            SELECT 'post', query_id, rank, corpus_id, dot_q
            FROM allr WHERE rank <= 5
              AND corpus_id IN (SELECT vec_id FROM v WHERE label = 1)
        """,
        "q169_spell_suggest": r"""
            WITH toks AS (
              SELECT doc_id AS doc, t.token
              FROM documents,
                unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x != '')) AS t(token)),
            dfreq AS (
              SELECT token, CAST(COUNT(DISTINCT doc) AS BIGINT) AS df
              FROM toks GROUP BY token),
            terms(term) AS (VALUES ('tabl'), ('scann'), ('joln'),
                                   ('window'), ('zzzz')),
            cand AS (
              SELECT t.term, v.token, v.df,
                     CAST(levenshtein(t.term, v.token) AS INT) AS distance
              FROM terms t JOIN dfreq v
                ON levenshtein(t.term, v.token) <= 1),
            ranked AS (
              SELECT term, token, df, distance,
                row_number() OVER (PARTITION BY term
                  ORDER BY distance ASC, df DESC, token ASC) AS rank
              FROM cand)
            SELECT term, rank, token AS suggestion, distance, df
            FROM ranked WHERE rank <= 2
        """,
        "q172_retrieval_eval": _retrieval_eval_oracle(),
        "q175_random_projection": _rp_oracle(),
        "q177_sketch_rerank": _sketch_rerank_oracle(),
        "q181_idle_rich_customers": """
            WITH c AS (
              SELECT c_custkey, c_nationkey,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS cents
              FROM customer),
            pos AS (
              SELECT CAST(SUM(cents) AS BIGINT) AS s,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM c WHERE cents > 0),
            rich AS (
              SELECT c.* FROM c, pos
              WHERE c.cents * pos.n > pos.s
                AND NOT EXISTS (
                  SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'O'))
            SELECT n.n_name,
                   CAST(COUNT(*) AS BIGINT) AS numcust,
                   CAST(SUM(r.cents) AS BIGINT) AS totacctbal_cents
            FROM rich r JOIN nation n
              ON n.n_nationkey = r.c_nationkey
            GROUP BY n.n_name
        """,
        "q180_small_quantity_revenue": """
            WITH li AS (
              SELECT l_partkey,
                     CAST(round(l_quantity) AS BIGINT) AS qty,
                     CAST(round(l_extendedprice * 100) AS BIGINT)
                       AS cents
              FROM lineitem),
            p13 AS (SELECT p_partkey FROM part
                    WHERE p_brand = 'Brand#13'),
            prof AS (
              SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
                     CAST(COUNT(*) AS BIGINT) AS n_rows
              FROM li GROUP BY l_partkey),
            qual AS (
              SELECT li.cents FROM li
              JOIN p13 ON p13.p_partkey = li.l_partkey
              JOIN prof ON prof.l_partkey = li.l_partkey
              WHERE li.qty * prof.n_rows * 5 < prof.sum_qty)
            SELECT
              CAST(COALESCE(SUM(cents) // 7, 0) AS BIGINT)
                AS avg_yearly_cents,
              CAST(COUNT(*) AS BIGINT) AS n_lineitems
            FROM qual
        """,
        "q179_waiting_suppliers": """
            WITH lif AS (
              SELECT l.l_orderkey, l.l_suppkey,
                     l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                       AS is_late
              FROM lineitem l
              JOIN orders o ON o.o_orderkey = l.l_orderkey
              WHERE o.o_orderstatus = 'F'),
            late AS (SELECT l_orderkey, l_suppkey FROM lif
                     WHERE is_late),
            pa AS (SELECT l_orderkey,
                          COUNT(DISTINCT l_suppkey) AS n_supp
                   FROM lif GROUP BY l_orderkey),
            pl AS (SELECT l_orderkey,
                          COUNT(DISTINCT l_suppkey) AS n_late
                   FROM late GROUP BY l_orderkey),
            cand AS (
              SELECT l.l_suppkey FROM late l
              JOIN pa ON pa.l_orderkey = l.l_orderkey AND pa.n_supp >= 2
              JOIN pl ON pl.l_orderkey = l.l_orderkey AND pl.n_late = 1),
            agg AS (
              SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
              FROM cand c JOIN supplier s ON s.s_suppkey = c.l_suppkey
              GROUP BY s.s_name),
            top AS (
              SELECT s_name, numwait,
                row_number() OVER (ORDER BY numwait DESC, s_name ASC)
                  AS rank
              FROM agg)
            SELECT s_name, numwait, CAST(rank AS INT) AS rank
            FROM top WHERE rank <= 20
        """,
        "q178_more_like_this": _mlt_oracle(),
        "q176_snapshot_restore": """
            -- restore to generation 1: the pristine base relation
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(o_orderkey % 4 AS INT) AS bucket
            FROM orders
        """,
        "q174_deletion_vectors": """
            -- merge-on-read delete of %7 keys: the post-state is the
            -- plain filtered relation
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(o_orderkey % 4 AS INT) AS bucket
            FROM orders WHERE o_orderkey % 7 != 0
        """,
        "q173_partition_compaction": """
            -- compaction moves bytes, never rows: the final table is
            -- exactly the base relation
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(o_orderkey % 4 AS INT) AS bucket
            FROM orders
        """,
        "q170_snapshot_data_skipping": """
            -- the snapshot holds exactly the base rows (one init
            -- commit + an OPTIMIZE rewrite); the pruned range read
            -- must equal a plain filter
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE CAST(round(o_totalprice * 100) AS BIGINT)
                  BETWEEN 5000000 AND 7500000
        """,
        "q171_snapshot_point_lookup": """
            -- bloom-pruned IN over the 5 smallest order keys
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE o_orderkey IN (
              SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5)
        """,
        "q168_cdf_view_maintenance": """
            -- fresh recompute over the closed post-state of:
            -- init ; merge(%10 -> 'U', cents+1) ; delete(%7) —
            -- must equal the CDF-maintained rollup bit for bit
            WITH base AS (
              SELECT o_orderkey AS k, o_orderstatus AS s,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            post AS (
              SELECT CASE WHEN k % 10 = 0 THEN 'U' ELSE s END AS st,
                     cents + CASE WHEN k % 10 = 0 THEN 1 ELSE 0 END AS c
              FROM base WHERE k % 7 != 0)
            SELECT st AS o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(c) AS BIGINT) AS cents
            FROM post GROUP BY st
        """,
        "q163_fuzzy_search": f"""
            WITH {_fuzzy_bm25_ctes()},
            ranked AS (
              SELECT query_id, doc, score_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS rank
              FROM scored)
            SELECT query_id, rank, doc, score_q
            FROM ranked WHERE rank <= 10
        """,
        "q164_facet_counts": f"""
            WITH {_bm25_oracle_ctes()},
            ranked AS (
              SELECT query_id, doc,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS rank
              FROM scored),
            sel AS (SELECT query_id, doc FROM ranked WHERE rank <= 10)
            SELECT s.query_id, 'lang' AS facet,
                   CAST(d.lang AS VARCHAR) AS value,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM sel s JOIN documents d ON d.doc_id = s.doc
            GROUP BY s.query_id, d.lang
            UNION ALL
            SELECT s.query_id, 'source', CAST(d.source AS VARCHAR),
                   CAST(COUNT(*) AS BIGINT)
            FROM sel s JOIN documents d ON d.doc_id = s.doc
            GROUP BY s.query_id, d.source
        """,
        "q165_multifield_bm25": f"""
            WITH {_bm25_prefixed_ctes("t_", _TITLE_CORPUS_SQL)},
            {_bm25_prefixed_ctes("b_", "documents")},
            allp AS (
              SELECT query_id, doc, 3 * score_q AS ws FROM t_scored
              UNION ALL
              SELECT query_id, doc, 1 * score_q AS ws FROM b_scored),
            total AS (
              SELECT query_id, doc, CAST(SUM(ws) AS BIGINT) AS score_q
              FROM allp GROUP BY query_id, doc),
            ranked AS (
              SELECT query_id, doc, score_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_q DESC, doc ASC) AS rank
              FROM total)
            SELECT query_id, rank, doc, score_q
            FROM ranked WHERE rank <= 10
        """,
        "q189_order_priority_check": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-04-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """,
        "q190_promo_revenue": """
            WITH j AS (
              SELECT p.p_type,
                CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                AS rev_cc
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
                AND l.l_shipdate < TIMESTAMP '1997-10-01'),
            s AS (
              SELECT
                CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_cc
                         ELSE 0 END) AS BIGINT) AS promo_cc,
                CAST(SUM(rev_cc) AS BIGINT) AS total_cc
              FROM j)
            SELECT promo_cc, total_cc,
              CAST((100000 * promo_cc) // total_cc AS BIGINT)
                AS promo_permille
            FROM s
        """,
        "q191_late_shipment_priority": """
            SELECT
              CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
                   THEN 'late' ELSE 'ontime' END AS ship_bucket,
              CAST(SUM(CASE WHEN o.o_orderpriority IN
                ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                AS high_line_count,
              CAST(SUM(CASE WHEN o.o_orderpriority NOT IN
                ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                AS low_line_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
        """,
        "q192_large_orders": """
            WITH big AS (
              SELECT l_orderkey,
                CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                  AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 300)
            SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
              CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
              b.total_qty
            FROM orders o
            JOIN big b ON o.o_orderkey = b.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY b.total_qty DESC, o.o_orderkey ASC
            LIMIT 100
        """,
        "q193_bracket_revenue": """
            SELECT
              CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_cc,
              COUNT(*) AS n_lineitems
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE
              (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
               AND CAST(round(l.l_quantity) AS BIGINT) BETWEEN 1 AND 15)
              OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 5 AND 20
               AND CAST(round(l.l_quantity) AS BIGINT) BETWEEN 10 AND 25)
              OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 15 AND 40
               AND CAST(round(l.l_quantity) AS BIGINT) BETWEEN 20 AND 35)
        """,
        "q194_volume_shipping": """
            WITH j AS (
              SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                CAST(year(l.l_shipdate) AS INT) AS l_year,
                CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                AS rev_cc
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation ns ON s.s_nationkey = ns.n_nationkey
              JOIN nation nc ON c.c_nationkey = nc.n_nationkey
              WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
                AND l.l_shipdate < TIMESTAMP '1998-01-01')
            SELECT supp_nation, cust_nation, l_year,
              CAST(SUM(rev_cc) AS BIGINT) AS revenue_cc
            FROM j
            WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
               OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q195_market_share": """
            WITH j AS (
              SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                ns.n_name AS supp_nation,
                CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                AS rev_cc
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation na ON c.c_nationkey = na.n_nationkey
              JOIN region r ON na.n_regionkey = r.r_regionkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation ns ON s.s_nationkey = ns.n_nationkey
              WHERE r.r_name = 'ASIA'
                AND o.o_orderdate >= TIMESTAMP '1996-01-01'
                AND o.o_orderdate < TIMESTAMP '1998-01-01'),
            s AS (
              SELECT o_year,
                CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                         THEN rev_cc ELSE 0 END) AS BIGINT) AS nation_cc,
                CAST(SUM(rev_cc) AS BIGINT) AS total_cc
              FROM j GROUP BY o_year)
            SELECT o_year, nation_cc, total_cc,
              CAST((100000 * nation_cc) // total_cc AS BIGINT)
                AS share_permille
            FROM s
        """,
        "q196_banded_discount_revenue": """
            SELECT
              CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
                AS discount_cc,
              COUNT(*) AS n_lineitems
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q197_snapshot_clone": """
            WITH base AS (
              SELECT o_orderkey, o_orderstatus,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            src AS (
              SELECT o_orderkey,
                CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                     ELSE o_orderstatus END AS o_orderstatus,
                cents
              FROM base),
            cln AS (
              SELECT * FROM base WHERE o_orderkey % 3 <> 0)
            SELECT 'source' AS side, o_orderstatus,
              COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM src GROUP BY o_orderstatus
            UNION ALL
            SELECT 'clone', o_orderstatus,
              COUNT(*), CAST(SUM(cents) AS BIGINT)
            FROM cln GROUP BY o_orderstatus
        """,
        "q198_freshness_rank": f"""
            WITH {_bm25_oracle_ctes()},
            boosted AS (
              SELECT query_id, doc,
                CAST(score_q * (1000 +
                  (500 * greatest(0, 365 - (400 - doc % 400))) // 365)
                  AS BIGINT) AS boosted_q
              FROM scored),
            ranked AS (
              SELECT query_id, doc, boosted_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY boosted_q DESC, doc ASC) AS rank
              FROM boosted)
            SELECT query_id, rank, doc, boosted_q
            FROM ranked WHERE rank <= 10
        """,
        "q199_k_anonymity": """
            SELECT lang, source,
              CAST(n_chars // 500 AS BIGINT) AS len_band,
              COUNT(*) AS group_n,
              COUNT(*) >= 5 AS meets_k
            FROM documents
            GROUP BY lang, source, n_chars // 500
        """,
        "q200_cdf_rollup_live": """
            WITH ev AS (
              SELECT event_id, user_id,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            final AS (
              SELECT user_id,
                CASE WHEN user_id % 5 = 0 THEN cents * 2
                     ELSE cents END AS cents
              FROM ev WHERE user_id % 7 <> 0)
            SELECT user_id,
              COUNT(*) AS n_events,
              CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM final GROUP BY user_id
        """,
        "q201_revenue_rollup_cube": """
            SELECT r.r_name,
              CAST(year(o.o_orderdate) AS INT) AS o_year,
              COUNT(*) AS n_orders,
              CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents,
              CAST(GROUPING(r.r_name) * 2 + GROUPING(year(o.o_orderdate))
                AS BIGINT) AS gid
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY ROLLUP(r.r_name, year(o.o_orderdate))
        """,
        "q202_metric_unpivot": """
            WITH wide AS (
              SELECT user_id,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
              FROM events GROUP BY user_id)
            SELECT user_id, 'click' AS metric, click AS n FROM wide
            UNION ALL SELECT user_id, 'error', error FROM wide
            UNION ALL SELECT user_id, 'purchase', purchase FROM wide
            UNION ALL SELECT user_id, 'signup', signup FROM wide
            UNION ALL SELECT user_id, 'view', view FROM wide
        """,
        "q203_value_deciles": """
            WITH q AS (
              SELECT event_type, event_id,
                CAST(round(value * 100) AS BIGINT) AS cv
              FROM events),
            t AS (
              SELECT event_type, cv,
                CAST(ntile(10) OVER (PARTITION BY event_type
                  ORDER BY cv, event_id) AS BIGINT) AS decile
              FROM q)
            SELECT event_type, decile,
              COUNT(*) AS n, MIN(cv) AS min_cv, MAX(cv) AS max_cv
            FROM t GROUP BY event_type, decile
        """,
        "q204_cdc_conditional_merge": """
            WITH base AS (
              SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            surviving AS (
              SELECT o_orderkey,
                CASE WHEN o_orderkey % 4 = 0
                     THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT)
                END AS ver,
                CASE WHEN o_orderkey % 4 = 0 THEN cents + 7
                     ELSE cents END AS cents,
                false AS tomb
              FROM base WHERE o_orderkey % 6 <> 0),
            inserted AS (
              SELECT o_orderkey + 10000000 AS o_orderkey,
                CAST(1 AS BIGINT) AS ver,
                CAST(4200 AS BIGINT) AS cents, false AS tomb
              FROM base WHERE o_orderkey % 10 = 0)
            SELECT * FROM surviving
            UNION ALL SELECT * FROM inserted
        """,
        "q205_dynamic_partition_pruning": """
            WITH years AS (
              SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS y
              FROM orders
              WHERE o_orderpriority = '1-URGENT'
                AND o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01')
            SELECT l.l_returnflag, COUNT(*) AS n,
              CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents
            FROM lineitem l
            JOIN years y ON CAST(year(l.l_shipdate) AS INT) = y.y
            GROUP BY l.l_returnflag
        """,
        "q206_unconverted_impressions": """
            SELECT i.user_id,
              i.event_id AS impression_id,
              c.event_id AS click_id,
              epoch_us(i.ts) AS imp_us,
              epoch_us(c.ts) AS click_us
            FROM (SELECT * FROM events WHERE event_type = 'view') i
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON i.user_id = c.user_id
             AND i.ts <= c.ts
             AND c.ts <= i.ts + INTERVAL 10 MINUTE
        """,
        "q207_scoring_profile": f"""
            WITH {_bm25_oracle_ctes()},
            boosted AS (
              SELECT s.query_id, s.doc,
                CAST(s.score_q * (1000
                  + (300 * least(greatest(d.n_chars - 100, 0), 400)) // 400
                  + (400 * (
                      (CASE WHEN CAST(substring(s.query_id, 2) AS INT) % 2 = 0
                            THEN (d.lang = 'en')::INT + (d.source = 'src0')::INT
                            ELSE (d.lang = 'zh')::INT + (d.source = 'src1')::INT
                       END))) // 2
                ) AS BIGINT) AS boosted_q
              FROM scored s JOIN documents d ON d.doc_id = s.doc),
            ranked AS (
              SELECT query_id, doc, boosted_q,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY boosted_q DESC, doc ASC) AS rank
              FROM boosted)
            SELECT query_id, rank, doc, boosted_q
            FROM ranked WHERE rank <= 10
        """,
        "q208_rfm_segments": """
            WITH pc AS (
              SELECT o_custkey,
                CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                  (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
                  AS BIGINT) AS days_since,
                COUNT(*) AS n_orders,
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
              FROM orders GROUP BY o_custkey),
            q AS (
              SELECT *,
                CAST(6 - ntile(5) OVER (ORDER BY days_since ASC,
                  o_custkey ASC) AS BIGINT) AS r_q,
                CAST(6 - ntile(5) OVER (ORDER BY n_orders DESC,
                  o_custkey ASC) AS BIGINT) AS f_q,
                CAST(6 - ntile(5) OVER (ORDER BY cents DESC,
                  o_custkey ASC) AS BIGINT) AS m_q
              FROM pc)
            SELECT o_custkey, days_since, n_orders, cents, r_q, f_q,
              m_q,
              CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS segment
            FROM q
        """,
        "q209_last_touch_attribution": """
            WITH mixed AS (
              SELECT user_id, event_id, event_type, epoch_us(ts) AS us
              FROM events WHERE event_type IN ('click', 'purchase')),
            carried AS (
              SELECT *,
                last_value(CASE WHEN event_type = 'click'
                  THEN event_id END IGNORE NULLS) OVER w AS last_click,
                last_value(CASE WHEN event_type = 'click'
                  THEN us END IGNORE NULLS) OVER w AS last_click_us
              FROM mixed
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
            SELECT user_id, event_id AS purchase_id, us AS purchase_us,
              CASE WHEN last_click_us >= us - 604800000000
                   THEN last_click END AS click_id
            FROM carried WHERE event_type = 'purchase'
        """,
        "q210_grouped_median_exact": """
            WITH q AS (
              SELECT event_type, event_id,
                CAST(round(value * 100) AS BIGINT) AS cv
              FROM events),
            r AS (
              SELECT event_type, cv,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY cv, event_id) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM q)
            SELECT event_type, CAST(max(n) AS BIGINT) AS n,
              CAST(SUM(
                CASE WHEN rn = (n + 1) // 2 THEN cv ELSE 0 END
                + CASE WHEN rn = n // 2 + 1 AND n // 2 + 1 <> (n + 1) // 2
                       THEN cv ELSE 0 END
                + CASE WHEN rn = (n + 1) // 2 AND n // 2 + 1 = (n + 1) // 2
                       THEN cv ELSE 0 END) AS BIGINT) AS median_x2
            FROM r GROUP BY event_type
        """,
        "q211_pareto_frontier": """
            WITH pc AS (
              SELECT o_custkey,
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
              FROM orders GROUP BY o_custkey),
            t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM pc)
            SELECT o_custkey, cents,
              CAST((1000 * SUM(cents) OVER (ORDER BY cents DESC,
                o_custkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
                CURRENT ROW)) // (SELECT total FROM t) AS BIGINT)
                AS cum_permille,
              COALESCE(SUM(cents) OVER (ORDER BY cents DESC,
                o_custkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
                1 PRECEDING), 0) * 5 < (SELECT total FROM t) * 4
                AS in_top80
            FROM pc
        """,
        "q212_line_dedup": r"""
            WITH d AS (
              SELECT doc_id, string_split_regex(text, '\. ') AS l
              FROM documents),
            base AS (
              SELECT doc_id, list_append(l, l[1]) AS ls FROM d),
            lines AS (
              SELECT doc_id, s.i AS pos, ls[s.i + 1] AS line
              FROM base, unnest(range(0, len(ls))) AS s(i)),
            firsts AS (
              SELECT doc_id, line, MIN(pos) AS pos, COUNT(*) AS n
              FROM lines GROUP BY doc_id, line)
            SELECT doc_id,
              md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5,
              CAST(SUM(n) AS BIGINT) AS n_lines,
              CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_removed
            FROM firsts GROUP BY doc_id
        """,
        "q213_vocab_roundtrip": r"""
            WITH toks AS (
              SELECT doc_id, s.i AS pos, lower(l[s.i + 1]) AS token FROM
              (SELECT doc_id, string_split_regex(text, '\s+') AS l
               FROM documents) d, unnest(range(0, len(d.l))) AS s(i)),
            ne AS (SELECT * FROM toks WHERE token != ''),
            freqs AS (
              SELECT token, COUNT(*) AS freq FROM ne GROUP BY token
              HAVING COUNT(*) >= 3),
            vocab AS (
              SELECT token,
                row_number() OVER (ORDER BY freq DESC, token ASC)
                  AS token_id
              FROM freqs),
            mapped AS (
              SELECT ne.doc_id, ne.pos, ne.token,
                COALESCE(v.token_id, 0) AS tid
              FROM ne LEFT JOIN vocab v ON v.token = ne.token)
            SELECT doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_oov,
              md5(string_agg(
                CASE WHEN tid = 0 THEN '<unk>' ELSE token END,
                ' ' ORDER BY pos)) AS decoded_md5
            FROM mapped GROUP BY doc_id
        """,
        "q214_autocomplete_two_terms": r"""
            WITH toks AS (
              SELECT doc_id, s.i AS pos, lower(l[s.i + 1]) AS w1 FROM
              (SELECT doc_id, string_split_regex(text, '\s+') AS l
               FROM documents) d, unnest(range(0, len(d.l))) AS s(i)),
            ne AS (SELECT * FROM toks WHERE w1 != ''),
            seq AS (
              SELECT doc_id, w1,
                lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              FROM ne),
            bigrams AS (
              SELECT w1, w2, COUNT(*) AS n FROM seq
              WHERE w2 IS NOT NULL GROUP BY w1, w2),
            pfx AS (SELECT * FROM (VALUES ('sp'), ('ta'), ('que'),
              ('wi')) AS t(prefix)),
            cand AS (
              SELECT p.prefix, b.w1, b.w2, b.n,
                row_number() OVER (PARTITION BY p.prefix
                  ORDER BY b.n DESC, b.w1 ASC, b.w2 ASC) AS rank
              FROM bigrams b JOIN pfx p ON starts_with(b.w1, p.prefix))
            SELECT prefix, CAST(rank AS BIGINT) AS rank,
              w1 AS term_one, w2 AS term_two, CAST(n AS BIGINT) AS n
            FROM cand WHERE rank <= 5
        """,
        "q215_top_supplier": """
            WITH revenue AS (
              SELECT l_suppkey,
                CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS total_revenue_cc
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
              GROUP BY l_suppkey)
            SELECT s.s_suppkey, s.s_name, r.total_revenue_cc
            FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
            WHERE r.total_revenue_cc = (
              SELECT MAX(total_revenue_cc) FROM revenue)
        """,
        "q216_streaming_cdf_rollup": """
            -- q144-style self-verifying invariant: the Spark side
            -- full-outer compares the CDF-maintained rollup against a
            -- fresh recompute of the final chunks table; any IVM
            -- divergence (count or char sum, either side missing)
            -- flips rollup_ok and mismatches this closed form
            SELECT doc_id, (doc_id % 8 = 1) AS was_updated,
              true AS rollup_ok
            FROM documents WHERE doc_id % 4 IN (1, 2)
        """,
        "q217_describe_detail": """
            SELECT CAST(2 AS BIGINT) AS generation,
              CAST(1 AS BIGINT) AS n_gens,
              'bucket=0,bucket=1,bucket=2,bucket=3' AS partitions,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                 WHERE event_id % 10 = 3) AS dv_rows,
              'delete_dv' AS op,
              true AS stats_enabled, true AS has_constraints,
              true AS has_files, true AS has_bytes, true AS not_cloned,
              'event_id:bigint,user_id:bigint,cents:bigint,bucket:int'
                AS table_schema,
              'bucket' AS partition_columns
        """,
        "q218_force_reprocess_backfill": """
            -- q144-style self-verifying invariants: the Spark side
            -- compares the chunks table's per-document (count, id +
            -- content signature) across the four runs; a freshness
            -- regression, duplicate ids after backfill, or a
            -- non-idempotent replay flips a boolean and mismatches
            SELECT doc_id,
              true AS noop_without_force,
              true AS finer_after_force,
              true AS replay_idempotent
            FROM documents
            WHERE doc_id % 5 = 0 AND n_chars >= 300
        """,
        "q219_concurrent_writers": """
            -- the race's outcome is schedule-independent because the
            -- write sets are disjoint: buckets 0-1 doubled, 2-3 +5
            SELECT event_id, user_id,
              CASE WHEN event_id % 4 IN (0, 1)
                   THEN CAST(round(value * 100) AS BIGINT) * 2
                   ELSE CAST(round(value * 100) AS BIGINT) + 5 END
                AS cents,
              CAST(event_id % 4 AS INT) AS bucket
            FROM events
        """,
        "q220_clone_survives_vacuum": """
            -- the clone's branch point, stated from raw events: the
            -- source advanced (cents doubled) and vacuumed at
            -- keep_snapshots=1 AFTER the clone; only the clone-aware
            -- guard keeps these rows readable
            SELECT event_id, user_id,
              CAST(round(value * 100) AS BIGINT) AS cents,
              CAST(event_id % 3 AS INT) AS bucket,
              true AS vacuum_protected
            FROM events
        """,
        "q221_boilerplate_strip": """
            WITH planted AS (
              SELECT doc_id,
                '==========================================' || chr(10)
                || text || chr(10) || 'id '
                || lpad(CAST(doc_id AS VARCHAR), 30, '0')
                || ' 000 111 222 333' AS t
              FROM documents),
            split AS (
              SELECT doc_id, string_split(t, chr(10)) AS ls FROM planted),
            kept AS (
              SELECT doc_id, ls,
                list_filter(ls, x -> length(x) >= 30 AND
                  length(regexp_replace(x, '[^A-Za-z ]', '', 'g')) * 100
                    >= 55 * length(x)) AS ks
              FROM split)
            SELECT doc_id,
              CAST(len(ls) AS BIGINT) AS n_lines,
              CAST(len(ks) AS BIGINT) AS n_kept,
              CAST(length(array_to_string(ks, chr(10))) AS BIGINT)
                AS kept_len
            FROM kept
        """,
        "q222_card_scrub_luhn": """
            WITH planted AS (
              SELECT doc_id,
                text || ' pay ' || b15 || CAST(
                  CASE WHEN doc_id % 2 = 0 THEN (10 - s % 10) % 10
                       ELSE ((10 - s % 10) % 10 + 1) % 10 END AS VARCHAR)
                  AS t
              FROM (
                SELECT doc_id, text, b15,
                  list_sum(list_transform(range(2, 17), i ->
                    CASE WHEN i % 2 = 0 THEN
                      CASE WHEN CAST(substr(b15, 17 - i, 1) AS INT) * 2 > 9
                        THEN CAST(substr(b15, 17 - i, 1) AS INT) * 2 - 9
                        ELSE CAST(substr(b15, 17 - i, 1) AS INT) * 2 END
                    ELSE CAST(substr(b15, 17 - i, 1) AS INT) END)) AS s
                FROM (SELECT doc_id, text,
                        lpad(CAST(doc_id AS VARCHAR), 15, '4') AS b15
                      FROM documents))),
            scanned AS (
              -- candidates are MAXIMAL digit runs of length exactly
              -- 16 (digit-boundary semantics; RE2 has no lookaround,
              -- so run-length replicates the operator's form), and
              -- masking rebuilds the text from its run/separator
              -- decomposition
              SELECT doc_id, t,
                regexp_extract_all(t, '[0-9]+') AS runs,
                regexp_split_to_array(t, '[0-9]+') AS seps
              FROM planted),
            validated AS (
              SELECT doc_id, t, runs, seps,
                list_filter(runs, c -> length(c) = 16) AS cands,
                list_filter(list_filter(runs, c -> length(c) = 16), c ->
                  list_sum(list_transform(range(1, 17), i ->
                    CASE WHEN i % 2 = 0 THEN
                      CASE WHEN CAST(substr(c, 17 - i, 1) AS INT) * 2 > 9
                        THEN CAST(substr(c, 17 - i, 1) AS INT) * 2 - 9
                        ELSE CAST(substr(c, 17 - i, 1) AS INT) * 2 END
                    ELSE CAST(substr(c, 17 - i, 1) AS INT) END)) % 10 = 0
                ) AS valid
              FROM scanned)
            SELECT doc_id,
              CAST(len(cands) AS BIGINT) AS n_candidates,
              CAST(len(valid) AS BIGINT) AS n_valid,
              CAST(length(
                CASE WHEN len(runs) = 0 THEN seps[1]
                ELSE list_reduce(
                  list_prepend(seps[1],
                    list_transform(range(1, len(runs) + 1), i ->
                      (CASE WHEN list_contains(valid, runs[i])
                        THEN '<CARD>' ELSE runs[i] END) || seps[i + 1])),
                  (x, y) -> x || y) END) AS BIGINT)
                AS scrubbed_len
            FROM validated
        """,
        "q223_overlap_merge_race": """
            -- schedule-independent because the racing write sets are
            -- key-disjoint and increments derive from the source:
            -- event_id%3=0 doubled, %3=1 +5, %3=2 untouched
            SELECT event_id, user_id,
              CASE WHEN event_id % 3 = 0
                   THEN CAST(round(value * 100) AS BIGINT) * 2
                   WHEN event_id % 3 = 1
                   THEN CAST(round(value * 100) AS BIGINT) + 5
                   ELSE CAST(round(value * 100) AS BIGINT) END AS cents,
              CAST(event_id % 4 AS INT) AS bucket
            FROM events
        """,
        "q224_schema_evolution_merge": """
            SELECT event_id,
              CAST(round(value * 100) AS BIGINT)
                + CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS cents,
              CASE WHEN event_id % 5 = 0
                   THEN 's' || CAST(event_id % 3 AS VARCHAR)
                   ELSE '<null>' END AS src,
              'event_id:bigint,user_id:bigint,cents:bigint,bucket:int,src:string'
                AS table_schema
            FROM events
        """,
        "q225_snapshot_update_where": """
            -- UPDATE composition stated closed-form: cents bump first,
            -- then the partition-column move (rows matching both see
            -- both effects)
            SELECT event_id, user_id,
              CAST(round(value * 100) AS BIGINT)
                + CASE WHEN user_id % 7 = 0 THEN 1000 ELSE 0 END AS cents,
              CAST(CASE WHEN event_id % 11 = 0
                   THEN (event_id % 4 + 1) % 4
                   ELSE event_id % 4 END AS INT) AS bucket
            FROM events
        """,
        "q226_generated_columns": """
            -- generated columns recomputed from their declarations
            SELECT event_id,
              CAST(round(value * 100) AS BIGINT) AS cents,
              CAST(event_id % 4 AS INT) AS bucket,
              strftime(ts, '%Y-%m-%d') AS day
            FROM events
        """,
        "q227_nation_year_profit": """
            SELECT n_name AS nation,
              CAST(year(o_orderdate) AS INT) AS o_year,
              CAST(SUM(
                CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
              ) AS BIGINT) AS profit_cc
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            JOIN orders ON o_orderkey = l_orderkey
            WHERE p_name LIKE '%a%' AND p_size % 3 = 0
            GROUP BY n_name, CAST(year(o_orderdate) AS INT)
        """,
        "q228_contingency_expected": """
            WITH e AS (
              SELECT event_type,
                LEAST(CAST(floor(value / 25) AS INT), 3) AS band
              FROM events),
            obs AS (
              SELECT event_type, band, CAST(COUNT(*) AS BIGINT) AS obs
              FROM e GROUP BY event_type, band),
            r AS (
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS row_n
              FROM e GROUP BY event_type),
            c AS (
              SELECT band, CAST(COUNT(*) AS BIGINT) AS col_n
              FROM e GROUP BY band),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM e)
            SELECT event_type, band, obs,
              CAST((row_n * col_n * 10000) // nn AS BIGINT) AS expected_e4
            FROM obs JOIN r USING (event_type) JOIN c USING (band), n
        """,
        "q229_sentence_dedup_global": """
            WITH sent0 AS (
              SELECT doc_id,
                list_filter(
                  list_transform(
                    range(0,
                      CAST(floor((len(string_split(text, ' ')) - 1) / 8)
                        AS INT) + 1),
                    i -> array_to_string(
                      list_slice(string_split(text, ' '),
                                 i * 8 + 1, i * 8 + 8), ' ')),
                  s -> length(s) > 0) AS sents
              FROM documents),
            planted AS (
              SELECT doc_id,
                list_append(sents,
                  'shared boilerplate cohort '
                    || CAST(doc_id % 17 AS VARCHAR)) AS sents
              FROM sent0),
            ex AS (
              -- parallel unnests align positionally in DuckDB
              SELECT doc_id,
                unnest(sents) AS s,
                unnest(range(1, len(sents) + 1)) AS pos
              FROM planted),
            dd AS (
              SELECT doc_id, pos, s,
                row_number() OVER (
                  PARTITION BY s ORDER BY doc_id, pos) AS rn
              FROM ex)
            SELECT doc_id,
              md5(COALESCE(
                string_agg(CASE WHEN rn = 1 THEN s END, '. '
                           ORDER BY pos), '')) AS text_md5,
              CAST(COUNT(*) AS BIGINT) AS n_sentences,
              CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept
            FROM dd GROUP BY doc_id
        """,
        "q230_pps_sample": """
            -- pure-int64 systematic PPS: identical stride arithmetic,
            -- window prefix sum standing in for the distributed one
            WITH c AS (
              SELECT doc_id, n_chars,
                SUM(n_chars) OVER (ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS cum,
                SUM(n_chars) OVER () AS total
              FROM documents)
            SELECT doc_id, n_chars,
              CAST((cum * 120) // total
                - ((cum - n_chars) * 120) // total AS BIGINT) AS n_picks
            FROM c
            WHERE (cum * 120) // total > ((cum - n_chars) * 120) // total
        """,
        "q231_snapshot_history": """
            -- the commit ledger stated literally; merges never delete
            -- rows and the head is the restore of gen 2, so every row
            -- reports COUNT(events) at head
            SELECT CAST(t.gen AS BIGINT) AS gen, t.op, t.has_dv,
              t.is_current, n.c AS n_rows_at_head
            FROM (VALUES
              (1, 'merge',      false, false),
              (2, 'merge',      false, false),
              (3, 'merge_when', false, false),
              (4, 'delete_dv',  true,  false),
              (5, 'restore',    false, true)
            ) AS t(gen, op, has_dv, is_current),
            (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events) AS n
        """,
        "q232_time_travel_versions": """
            WITH e AS (
              SELECT event_id,
                CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            v1 AS (
              SELECT CAST(1 AS BIGINT) AS version,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(c) AS BIGINT) AS cents_sum
              FROM e),
            v2 AS (
              SELECT CAST(2 AS BIGINT),
                CAST(COUNT(*) AS BIGINT),
                CAST(SUM(CASE WHEN event_id % 3 = 0
                              THEN c * 2 ELSE c END) AS BIGINT)
              FROM e),
            v3 AS (
              SELECT CAST(3 AS BIGINT),
                CAST(COUNT(*) AS BIGINT),
                CAST(SUM(CASE WHEN event_id % 3 = 0
                              THEN c * 2 ELSE c END) AS BIGINT)
              FROM e WHERE event_id % 6 <> 1)
            SELECT * FROM v1
            UNION ALL SELECT * FROM v2
            UNION ALL SELECT * FROM v3
        """,
        "q233_constraint_enforcement": """
            -- head state after: clean load, REJECTED violating merge
            -- (atomic, nothing changed), DROP CONSTRAINT, same rows
            -- land (one generation advanced)
            SELECT event_id,
              CASE WHEN event_id % 10 = 0
                   THEN CAST(round(value * 100) AS BIGINT) - 10000000
                   ELSE CAST(round(value * 100) AS BIGINT) END AS cents,
              CAST(event_id % 4 AS INT) AS bucket,
              true AS violation_caught,
              true AS table_unchanged_after_reject,
              CAST(1 AS BIGINT) AS gens_advanced_after_drop
            FROM events
        """,
        # q234: the closed form of the five MERGE clauses — source rows
        # always win (matched update + insert), target-only rows inside
        # the scope delete on even cents / go stale on odd, and rows
        # outside the scope (bucket >= 6) are kept verbatim
        "q234_merge_by_source": """
            WITH o AS (
              SELECT o_orderkey AS k,
                     CAST(o_orderkey % 8 AS INTEGER) AS bucket,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders)
            SELECT k, bucket, v + 7 AS v, 'live' AS status
            FROM o WHERE k % 2 = 0
            UNION ALL
            SELECT k, bucket, v,
                   CASE WHEN bucket < 6 THEN 'stale' ELSE 'live' END AS status
            FROM o
            WHERE k % 3 != 2 AND k % 2 = 1
              AND NOT (bucket < 6 AND v % 2 = 0)
        """,
        # q235: replay both commits' identity numbering — batch 1 gets
        # 1000 + 3*(rank-1) in key order, matched keys keep it, new
        # batch-2 keys extend from the high-water mark in key order
        "q235_identity_column": """
            WITH o AS (
              SELECT o_orderkey AS k,
                     CAST(o_orderkey % 8 AS INTEGER) AS bucket,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders),
            b1 AS (
              SELECT k, bucket, v,
                     1000 + 3 * (ROW_NUMBER() OVER (ORDER BY k) - 1)
                       AS row_id
              FROM o WHERE k % 3 = 0),
            n2 AS (
              SELECT k, bucket, v + 5 AS v,
                     (SELECT max(row_id) FROM b1)
                       + 3 * ROW_NUMBER() OVER (ORDER BY k) AS row_id
              FROM o WHERE k % 4 = 0 AND k % 3 != 0)
            SELECT k, bucket,
                   CASE WHEN k % 4 = 0 THEN v + 5 ELSE v END AS v,
                   CAST(row_id AS BIGINT) AS row_id
            FROM b1
            UNION ALL
            SELECT k, bucket, v, CAST(row_id AS BIGINT) AS row_id FROM n2
        """,
        "q236_stream_static_enrich": """
            SELECT e.event_type, c.c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events e
            LEFT JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2
        """,
        # q237: delete-matching-then-insert — rows matching the
        # predicate survive only through the replacement set
        "q237_overwrite_where": """
            WITH o AS (
              SELECT o_orderkey AS k,
                     CAST(o_orderkey % 8 AS INTEGER) AS bucket,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders)
            SELECT k, bucket, v, 'old' AS status FROM o
            WHERE NOT (bucket < 3 AND v % 2 = 0)
            UNION ALL
            SELECT k, bucket, v, 'new' AS status FROM o
            WHERE bucket < 3 AND v % 2 = 0 AND k % 3 = 0
        """,
        # q238/q239: the corruption is deterministic, so every
        # violation count / violation set has a closed form
        "q238_quality_report": """
            WITH base AS (
              SELECT l_orderkey, l_linenumber,
                CASE WHEN l_orderkey % 97 = 0 THEN NULL
                     ELSE l_quantity END AS q,
                CASE WHEN l_orderkey % 103 = 0 THEN l_discount + 1
                     ELSE l_discount END AS d
              FROM lineitem),
            dirty AS (
              SELECT * FROM base
              UNION ALL
              SELECT * FROM base WHERE l_orderkey % 101 = 0),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM dirty)
            SELECT 'quantity_present' AS rule, 'row' AS kind,
              CAST((SELECT count(*) FROM dirty WHERE q IS NULL) AS BIGINT)
                AS n_violations,
              (SELECT n_rows FROM n) AS n_rows
            UNION ALL
            SELECT 'discount_in_band', 'row',
              CAST((SELECT count(*) FROM dirty
                    WHERE NOT (d BETWEEN 0 AND 0.1)) AS BIGINT),
              (SELECT n_rows FROM n)
            UNION ALL
            SELECT 'line_unique', 'unique',
              (SELECT n_rows FROM n)
                - CAST((SELECT count(*) FROM (
                     SELECT DISTINCT l_orderkey, l_linenumber FROM dirty))
                   AS BIGINT),
              (SELECT n_rows FROM n)
            UNION ALL
            SELECT 'order_exists', 'fk',
              CAST((SELECT count(*) FROM dirty
                    WHERE l_orderkey % 89 = 0) AS BIGINT),
              (SELECT n_rows FROM n)
        """,
        "q239_quality_quarantine": """
            WITH base AS (
              SELECT l_orderkey, l_linenumber,
                CASE WHEN l_orderkey % 97 = 0 THEN NULL
                     ELSE l_quantity END AS q,
                CASE WHEN l_orderkey % 103 = 0 THEN l_discount + 1
                     ELSE l_discount END AS d
              FROM lineitem),
            dirty AS (
              SELECT * FROM base
              UNION ALL
              SELECT * FROM base WHERE l_orderkey % 101 = 0)
            SELECT l_orderkey, l_linenumber,
              CASE
                WHEN q IS NULL AND NOT (d BETWEEN 0 AND 0.1)
                  THEN 'discount_in_band,quantity_present'
                WHEN q IS NULL THEN 'quantity_present'
                ELSE 'discount_in_band' END AS violated_rules
            FROM dirty
            WHERE q IS NULL OR NOT (d BETWEEN 0 AND 0.1)
        """,
        # q240: base rows under the renamed column, increment wins on
        # matched keys; the two proof bits are constants when the
        # rename really was one metadata-only commit
        "q240_rename_column": """
            SELECT o_orderkey AS k,
                   CAST(o_orderkey % 8 AS INTEGER) AS bucket,
                   CASE WHEN o_orderkey % 5 = 0
                        THEN CAST(round(o_totalprice * 100) AS BIGINT) + 11
                        ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                   END AS cents,
                   true AS rename_was_one_commit,
                   true AS rename_rewrote_zero_partitions
            FROM orders
        """,
        # q241: merge arbitration is row-wise, so the closed form is
        # base-with-updates minus DV-deleted keys, nested values
        # projected identically
        "q241_nested_types_sink": """
            SELECT event_id,
                   CASE WHEN event_id % 4 = 0 THEN user_id + 1000
                        ELSE user_id END AS meta_user_id,
                   event_type AS meta_event_type,
                   user_id % 10 AS tag0,
                   CAST(2 AS BIGINT) AS n_tags,
                   upper(md5(event_type)) AS bin_hex
            FROM events
            WHERE event_id % 9 != 0
        """,
        # q242: '_' never occurs in the corpus alphabet, so exactly
        # the planted docs quarantine (one single-chunk doc each)
        "q242_ingest_expectations": """
            SELECT 'doc' || CAST(doc_id AS VARCHAR) AS parent_id,
                   'bad_chunk' AS content,
                   'no_underscores' AS violated_rules,
                   true AS merged_excludes_quarantined
            FROM documents WHERE doc_id % 7 = 0
        """,
        # q243: buckets 2/5 survive only through the every-third-key
        # replacement (+3 cents); every other bucket is verbatim
        "q243_dynamic_partition_overwrite": """
            WITH o AS (
              SELECT o_orderkey AS k,
                     CAST(o_orderkey % 8 AS INTEGER) AS bucket,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders)
            SELECT k, bucket, v,
                   true AS untouched_buckets_kept_refs
            FROM o WHERE bucket NOT IN (2, 5)
            UNION ALL
            SELECT k, bucket, v + 3, true
            FROM o WHERE bucket IN (2, 5) AND k % 3 = 0
        """,
        # q244: the whole composition replays in closed form — keys
        # are unique so identity numbering is deterministic (batch-1
        # survivors rank in key order; batch-2 NEW keys extend from
        # the high-water), quarantine counts are the band-rule
        # complements, CDF inserts/updates are batch-2's key split
        "q244_lakehouse_composition": """
            WITH o AS (
              SELECT o_orderkey AS k,
                     CAST(o_orderkey % 8 AS INTEGER) AS bucket,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders),
            b1 AS (
              SELECT k, bucket, v,
                     CAST(ROW_NUMBER() OVER (ORDER BY k) AS BIGINT)
                       AS sid
              FROM o WHERE k % 3 = 0 AND v % 7 != 3),
            b2 AS (
              SELECT k, bucket, v + 5 AS cents FROM o
              WHERE k % 4 = 0 AND (v + 5) % 7 != 3),
            news AS (
              SELECT b2.k, b2.bucket, b2.cents,
                     (SELECT max(sid) FROM b1)
                       + CAST(ROW_NUMBER() OVER (ORDER BY b2.k)
                              AS BIGINT) AS sid
              FROM b2 WHERE b2.k NOT IN (SELECT k FROM b1)),
            kept AS (
              SELECT b1.k, b1.bucket, b2.cents, b1.sid
              FROM b1 JOIN b2 ON b1.k = b2.k),
            olds AS (
              SELECT k, bucket, v AS cents, sid FROM b1
              WHERE k NOT IN (SELECT k FROM b2)),
            fin AS (
              SELECT * FROM kept UNION ALL
              SELECT * FROM news UNION ALL
              SELECT * FROM olds),
            bits AS (
              SELECT
                CAST((SELECT count(*) FROM o
                      WHERE k % 3 = 0 AND v % 7 = 3) AS BIGINT)
                  AS n_quarantined_b1,
                CAST((SELECT count(*) FROM o
                      WHERE k % 4 = 0 AND (v + 5) % 7 = 3) AS BIGINT)
                  AS n_quarantined_b2,
                CAST((SELECT count(*) FROM news) AS BIGINT)
                  AS n_cdf_inserts,
                CAST((SELECT count(*) FROM kept) AS BIGINT)
                  AS n_cdf_updates,
                CAST(0 AS BIGINT) AS n_cdf_deletes)
            SELECT fin.k, fin.bucket, fin.cents, fin.sid,
                   bits.n_quarantined_b1, bits.n_quarantined_b2,
                   bits.n_cdf_inserts, bits.n_cdf_updates,
                   bits.n_cdf_deletes,
                   true AS rename_rewrote_zero_partitions
            FROM fin CROSS JOIN bits
        """,
        # q245: stream-static equivalence — the drained snapshot table
        # IS the events relation, and the no-double-apply proof bit is
        # true by the txn-ledger contract
        "q245_stream_exactly_once_snapshot": """
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   max(event_id) AS max_event_id,
                   true AS replay_was_noop
            FROM events
            GROUP BY user_id
        """,
        # q246: each write applied EXACTLY ONCE (re-deliveries are
        # no-ops by the txn-ledger contract, proven by the generation
        # pointer in the gate itself), so the oracle replays the op
        # sequence once in closed form: delete k%5, delete k%7 (DV),
        # update k%11, then buckets 3 and 5 replaced wholesale
        "q246_idempotent_replay_matrix": """
            WITH base AS (
              SELECT o_orderkey AS k,
                     CAST(o_orderkey % 8 AS INTEGER) AS bucket,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders WHERE o_orderkey % 3 = 0),
            s2 AS (
              SELECT * FROM base WHERE k % 5 != 0 AND k % 7 != 0),
            s3 AS (
              SELECT k, bucket,
                     CASE WHEN k % 11 = 0 THEN v + 1000 ELSE v END AS v
              FROM s2)
            SELECT k, bucket, v, true AS replay_was_noop
            FROM s3 WHERE bucket NOT IN (3, 5)
            UNION ALL
            SELECT k, bucket, v * 2 AS v, true FROM base WHERE bucket = 3
            UNION ALL
            SELECT k, bucket, v * 3 AS v, true FROM base WHERE bucket = 5
        """,
        # q247: two CDC batches replayed once each — batch 0 is events
        # minus its tombstones (event_id%10=3); batch 1 (event_id%4=0,
        # user_id shifted +1000, tombstone where event_id%3=0) deletes
        # matched tombstones, updates/inserts live rows, and drops
        # unmatched tombstones.  Replay no-ops are the ledger contract.
        "q247_stream_cdc_tombstones": """
            WITH b1 AS (
              SELECT event_id, user_id, event_type FROM events
              WHERE event_id % 10 != 3),
            b2 AS (
              SELECT event_id, user_id + 1000 AS user_id, event_type,
                     (event_id % 3 = 0) AS tomb
              FROM events WHERE event_id % 4 = 0)
            SELECT event_id, user_id, event_type,
                   true AS replay_was_noop
            FROM b1 WHERE event_id NOT IN (SELECT event_id FROM b2)
            UNION ALL
            SELECT event_id, user_id, event_type, true
            FROM b2 WHERE NOT tomb
        """,
        # q248: the data is seed + eight closed-form insert rows (the
        # expired replay re-inserts identical content, so it is
        # invisible to the data); the retention proof bits are true by
        # the gate's own generation-pointer assertions
        "q248_ledger_retention": """
            SELECT o_orderkey AS k,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                   true AS ledger_bounded,
                   true AS expired_reapplied,
                   true AS fresh_redelivery_noop
            FROM orders WHERE o_orderkey % 3 = 0
            UNION ALL
            SELECT 10000000 + i AS k, CAST(i AS BIGINT) AS v,
                   true, true, true
            FROM range(8) t(i)
        """,
        # q249: convert + merge + delete replayed once in closed form;
        # the zero-copy and time-travel proof bits are true by the
        # gate's own manifest/row-count assertions
        "q249_convert_parquet": """
            WITH base AS (
              SELECT o_orderkey AS k,
                     'b' || CAST((o_orderkey // 2) % 4 AS VARCHAR) AS b,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders WHERE o_orderkey % 2 = 0),
            merged AS (
              SELECT k, b,
                     CASE WHEN k % 20 = 0 THEN v + 7 ELSE v END AS v
              FROM base
              UNION ALL
              SELECT k + 100000000 AS k, 'b2' AS b, CAST(k AS BIGINT) AS v
              FROM base WHERE k % 20 = 0)
            SELECT k, b, v,
                   true AS untouched_partitions_zero_copy,
                   true AS time_travel_to_raw_ok
            FROM merged
            WHERE NOT (k % 28 = 0 AND k < 100000000)
        """,
        # q250: the pruned range read over the CONVERTED (external)
        # generation must equal a plain filter — same closed form as
        # q170; the skipping itself is asserted inside the gate
        "q250_convert_stats_skipping": """
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE CAST(round(o_totalprice * 100) AS BIGINT)
                  BETWEEN 5000000 AND 7500000
        """,
        # q251: AS OF TIMESTAMP (resolved from the stamped commit
        # clock, after a simulated rsync rewrote every mtime) must
        # summarize identically to AS OF VERSION — the q232 closed
        # form verbatim
        "q251_durable_commit_clock": """
            WITH e AS (
              SELECT event_id,
                CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            v1 AS (
              SELECT CAST(1 AS BIGINT) AS version,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(c) AS BIGINT) AS cents_sum
              FROM e),
            v2 AS (
              SELECT CAST(2 AS BIGINT),
                CAST(COUNT(*) AS BIGINT),
                CAST(SUM(CASE WHEN event_id % 3 = 0
                              THEN c * 2 ELSE c END) AS BIGINT)
              FROM e),
            v3 AS (
              SELECT CAST(3 AS BIGINT),
                CAST(COUNT(*) AS BIGINT),
                CAST(SUM(CASE WHEN event_id % 3 = 0
                              THEN c * 2 ELSE c END) AS BIGINT)
              FROM e WHERE event_id % 6 <> 1)
            SELECT * FROM v1
            UNION ALL SELECT * FROM v2
            UNION ALL SELECT * FROM v3
        """,
    }
