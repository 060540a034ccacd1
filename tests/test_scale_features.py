"""Scale-feature tests: salting equivalence, IVF ANN recall, bucketed
co-located joins (no-shuffle plan evidence), simhash rewrite parity."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators.similarity import ivf_ann, quantized_dot_top1
from gpt_rag_ingestion_spark.operators.skew import salted_aggregate, salted_join

SF = "/root/testdata/sf0.001"


def test_salted_aggregate_equivalence(spark):
    ev = spark.read.parquet(f"{SF}/orders.parquet")
    plain = {
        r["o_custkey"]: (r["n"], r["mx"])
        for r in ev.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"), F.max("o_totalprice").alias("mx"))
        .collect()
    }
    salted = {
        r["o_custkey"]: (r["n"], r["mx"])
        for r in salted_aggregate(
            ev, "o_custkey", {"n": "count", "mx": "max:o_totalprice"}
        ).collect()
    }
    assert salted == plain


def test_salted_join_equivalence(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_name"
    ).withColumnRenamed("c_custkey", "o_custkey")
    plain = {
        (r["o_orderkey"], r["c_name"])
        for r in orders.join(cust, "o_custkey").collect()
    }
    salted = {
        (r["o_orderkey"], r["c_name"])
        for r in salted_join(orders, cust, "o_custkey", salt_factor=4).collect()
    }
    assert salted == plain


def test_ivf_ann_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {r["vec_id"]: r["nn_id"] for r in quantized_dot_top1(emb).collect()}
    ann = ivf_ann(emb, emb, dim=64, n_centroids=8, n_probe=3, k=1)
    got = {r["query_id"]: r["corpus_id"] for r in ann.collect() if r["rank"] == 1}
    assert got
    recall = sum(1 for q, n in got.items() if exact.get(q) == n) / len(got)
    # probing 3/8 data-adaptive cells must recover a solid share of true NNs
    assert recall > 0.5


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketing both sides on the join key removes the shuffle — the
    co-located-join strategy for repeated large joins at 100 TB."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("orders_b")
    )
    (
        lineitem.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
    )
    # disable broadcast so the join strategy decision is about shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing co-located both sides
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_simhash_bits_match_reference_semantics(spark):
    """The single-pass simhash must equal the bit-exploded definition:
    bit j = sign of token votes by bit j of md5(token)."""
    import hashlib

    from gpt_rag_ingestion_spark.operators.dedup import simhash

    text = "alpha beta gamma alpha"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = simhash(df, bits=16).collect()[0]["simhash"]

    votes = [0] * 16
    for tok in text.split():
        h = hashlib.md5(tok.encode()).hexdigest()
        for bit in range(16):
            nib = int(h[bit // 4], 16)
            votes[bit] += 1 if (nib >> (bit % 4)) & 1 else -1
    expected = sum(1 << b for b in range(16) if votes[b] > 0)
    assert got == expected


def _brute_asof(left_rows, right_rows, tolerance=None, direction="backward"):
    """Reference as-of: nearest right row per (key, ts), ties by max id."""
    out = {}
    for lk, lts, lid in left_rows:
        best = None
        for rk, rts, rid, rv in right_rows:
            if rk != lk:
                continue
            ok = rts <= lts if direction == "backward" else rts >= lts
            if not ok:
                continue
            gap = abs(lts - rts)
            if tolerance is not None and gap > tolerance:
                continue
            # nearer wins; at equal ts distance the larger id wins
            if best is None or (gap, -rid) < (best[0], -best[1]):
                best = (gap, rid, rts, rv)
        out[lid] = None if best is None else (best[2], best[1], best[3])
    return out


def test_asof_join_matches_bruteforce(spark):
    from gpt_rag_ingestion_spark.operators.asof import asof_join

    import random

    rng = random.Random(7)
    left_rows = [
        (rng.randrange(4), rng.randrange(1000), i) for i in range(120)
    ]
    right_rows = [
        (rng.randrange(4), rng.randrange(1000), i, float(i) * 0.5)
        for i in range(80)
    ]
    left = spark.createDataFrame(left_rows, ["k", "ts", "lid"])
    right = spark.createDataFrame(right_rows, ["k", "ts", "rid", "v"])

    got = {
        r["lid"]: (
            None
            if r["asof_ts"] is None
            else (r["asof_ts"], r["asof_rid"], r["asof_v"])
        )
        for r in asof_join(
            left, right, on="k", ts_col="ts",
            payload_cols=["rid", "v"], tiebreak_col="rid",
        ).collect()
    }
    assert got == _brute_asof(left_rows, right_rows)

    got_fwd = {
        r["lid"]: (
            None
            if r["asof_ts"] is None
            else (r["asof_ts"], r["asof_rid"], r["asof_v"])
        )
        for r in asof_join(
            left, right, on="k", ts_col="ts",
            payload_cols=["rid", "v"], tiebreak_col="rid",
            direction="forward",
        ).collect()
    }
    assert got_fwd == _brute_asof(left_rows, right_rows, direction="forward")


def test_asof_join_tolerance_and_equal_ts(spark):
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 105, "b"), (2, 50, "c")], ["k", "ts", "lid"]
    )
    # two right rows share (k=1, ts=100): rid=9 must win the tie-break
    right = spark.createDataFrame(
        [(1, 100, 3, 0.3), (1, 100, 9, 0.9), (2, 10, 1, 0.1)],
        ["k", "ts", "rid", "v"],
    )
    rows = {
        r["lid"]: (r["asof_ts"], r["asof_rid"])
        for r in asof_join(
            left, right, on="k", ts_col="ts",
            payload_cols=["rid"], tiebreak_col="rid",
            tolerance=F.lit(20),
        ).collect()
    }
    assert rows["a"] == (100, 9)  # inclusive match + deterministic tie
    assert rows["b"] == (100, 9)  # within tolerance 5
    assert rows["c"] == (None, None)  # gap 40 > 20 → nulled out


def test_hash_sampling_properties(spark):
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.operators.sampling import (
        hash_sample, split_assign, stratified_hash_sample,
    )

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")

    # determinism + nesting: sample(0.1) is a subset of sample(0.5)
    s50 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.5, "s").collect()}
    s10 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.1, "s").collect()}
    assert s10 <= s50
    assert 0.05 < len(s10) / 2000 < 0.15 and 0.45 < len(s50) / 2000 < 0.55

    # shuffle-free: no Exchange in the plan
    plan = hash_sample(docs, "doc_id", 0.5, "s")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # splits: total function, disjoint, stable under re-partitioning
    tagged = split_assign(docs, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in tagged.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000 and set(counts) == {"train", "valid", "test"}
    assert counts["train"] > counts["valid"] and counts["train"] > counts["test"]
    re_tagged = split_assign(docs.repartition(13), "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1})
    assert {(r["doc_id"], r["split"]) for r in re_tagged.collect()} == {
        (r["doc_id"], r["split"]) for r in tagged.collect()
    }

    # stratified: rate 0 strata vanish, rate 1 strata survive whole
    df = docs.withColumn("src", (F.col("doc_id") % 2 == 0).cast("string"))
    out = stratified_hash_sample(df, "src", "doc_id", {"true": 1.0, "false": 0.0})
    rows = out.groupBy("src").count().collect()
    assert {(r["src"], r["count"]) for r in rows} == {("true", 1000)}


def test_pii_scrub_masks_and_counts(spark):
    from gpt_rag_ingestion_spark.operators.pii import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e.org, call +1-555-1234, "
                "see https://x.io/p_1 or http://y.z/q"),
            (2, "no pii here at all"),
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in scrub_pii(df, "text", "out").collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_url"]) == (2, 1, 2)
    assert rows[1]["out"] == (
        "mail <EMAIL> and <EMAIL>, call <PHONE>, see <URL> or <URL>"
    )
    assert (rows[2]["n_email"], rows[2]["n_phone"], rows[2]["n_url"]) == (0, 0, 0)
    assert rows[2]["out"] == "no pii here at all"

    # narrow plan: no Exchange, stays in codegen
    plan = scrub_pii(df, "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_curation_funnel_all_stages(spark):
    from gpt_rag_ingestion_spark.operators.curation import curation_funnel

    en = "the cat and the dog sat in a fine old house for tea"
    # passes the quality gate (mean word length ≥ 3, contains the
    # English stopword "a") but scores higher on Spanish stopwords
    es = ("vamos a la casa grande que esta cerca de la plaza mayor "
          "donde el perro ladra")
    docs = spark.createDataFrame(
        [
            (1, "s1", en),                      # canonical survivor
            (2, "s1", "  " + en + "  "),        # normalized dup of 1
            (3, "s1", es),                      # wrong language
            (4, "s1", "tiny"),                  # quality: too few words
            (5, "s1", en + " extra words here and there for the win"),
        ],
        ["doc_id", "source", "text"],
    )
    rows = {
        r["doc_id"]: r["stage"]
        for r in curation_funnel(docs, cap_per_source=1).collect()
    }
    assert rows[2] == "duplicate"
    assert rows[3] == "language"
    assert rows[4] == "quality_too_few_words"
    # exactly one of the two canonical survivors survives the cap of 1
    assert sorted([rows[1], rows[5]]) == ["cap", "kept"]


def test_repetition_features_signals(spark):
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        repetition_features,
    )

    docs = spark.createDataFrame(
        [
            # "a b" 2-gram appears 4x in 8 words -> 4*10 > 8 -> repetitive
            (1, "a b a b a b a b"),
            # all-distinct words, no repeated grams
            (2, "one two three four five six seven eight nine ten"),
            # duplicate-word mass: 6 of 8 words are 'x' (x appears 7x ->
            # 7-1=6 dups; 6*2 > 8) -> repetitive even without gram rule
            (3, "x q x r x x x x"),
            (4, ""),  # empty doc: all zeros, not repetitive
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert rows[1]["top2_count"] == 4
    assert rows[1]["repetitive"]
    assert rows[2]["n_words"] == rows[2]["n_distinct_words"] == 10
    assert rows[2]["top2_count"] == 1 and not rows[2]["repetitive"]
    assert rows[3]["repetitive"]
    assert rows[4]["n_words"] == 0 and not rows[4]["repetitive"]


def test_benchmark_contamination_broadcast_probe(spark):
    from gpt_rag_ingestion_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark's first 8-gram verbatim
            (1, "xx the quick brown fox jumps over the lazy dog yy"),
            # same words, different order: no shared 8-gram
            (2, "dog lazy the over jumps fox brown quick the today zz"),
            # too short for an 8-gram: dropped from the output entirely
            (3, "short doc"),
        ],
        ["doc_id", "text"],
    )
    out = benchmark_contamination(corpus, bench, n=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["contaminated"] and rows[1]["n_overlap"] >= 1
    assert not rows[2]["contaminated"] and rows[2]["n_overlap"] == 0
    # scale guard: the benchmark side must be broadcast, not shuffled
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_pack_sequences_contiguous_and_deterministic(spark):
    from gpt_rag_ingestion_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, "g", 30) for i in range(20)] + [(i, "h", 70) for i in range(20, 25)],
        ["doc_id", "source", "n_tok"],
    )
    out = pack_sequences(docs, "n_tok", budget=100, group_col="source").collect()
    rows = sorted(out, key=lambda r: (r["source"], r["bin_id"], r["doc_id"]))
    # bins never cross groups
    assert all(r["source"] in ("g", "h") for r in rows)
    # per-bin token totals: every doc's bin matches cum-before // budget,
    # so a bin's payload exceeds the budget by less than one document
    for r in rows:
        assert r["bin_tokens"] < 100 + r["n_tokens"] or r["bin_docs"] == 1
    # total mass is conserved within each group
    g_tokens = sum(r["n_tokens"] for r in rows if r["source"] == "g")
    assert g_tokens == 20 * 30
    # deterministic under input reordering
    out2 = pack_sequences(
        docs.orderBy(F.desc("doc_id")), "n_tok", budget=100, group_col="source"
    ).collect()
    assert {(r["doc_id"], r["bin_id"]) for r in out2} == {
        (r["doc_id"], r["bin_id"]) for r in out
    }


def test_corpus_frequency_score(spark):
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        corpus_frequency_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "common common common"),
            (2, "common rareword"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in corpus_frequency_score(docs, rare_threshold=2).collect()
    }
    # 'common' occurs 4x corpus-wide, 'rareword' once
    assert rows[1]["n_tokens"] == 3 and rows[1]["n_rare"] == 0
    assert rows[1]["sum_freq"] == 12  # 3 tokens x corpus count 4
    assert rows[2]["n_rare"] == 1 and rows[2]["sum_freq"] == 5
    assert rows[3]["n_tokens"] == 0 and rows[3]["mean_freq_q"] == 0


def test_group_profile_exact_quantiles(spark):
    from gpt_rag_ingestion_spark.operators.profiling import group_profile

    docs = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate([5, 1, 9, 3, 7])]  # sorted: 1 3 5 7 9
        + [(10, "h", 42)],
        ["doc_id", "source", "n_chars"],
    )
    rows = {r["source"]: r for r in group_profile(docs, "source", "n_chars").collect()}
    g = rows["g"]
    # lower median of 5 values = rank 3 = 5; p90 = ceil(4.5) = rank 5 = 9
    assert (g["n"], g["min_v"], g["max_v"], g["sum_v"]) == (5, 1, 9, 25)
    assert g["median_v"] == 5 and g["p90_v"] == 9
    h = rows["h"]  # singleton group: every stat is the value
    assert h["median_v"] == h["p90_v"] == h["min_v"] == 42


def test_partition_pruning_on_partitioned_chunks_table(spark, tmp_path):
    """The chunks table partitioned by source: a source-filtered read
    must prune partitions at planning time (PartitionFilters in the
    scan), so per-source queries touch 1/N of a 100 TB table."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "chunks_parted")
    docs.write.partitionBy("source").mode("overwrite").parquet(path)
    one_source = docs.select("source").first()["source"]
    q = spark.read.parquet(path).filter(F.col("source") == one_source)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "isnotnull(source" in plan
    # the pruned read returns exactly that source's rows
    assert q.count() == docs.filter(F.col("source") == one_source).count()


def test_mixture_take_budgets(spark):
    from gpt_rag_ingestion_spark.operators.packing import mixture_take

    docs = spark.createDataFrame(
        [(i, "a", 40) for i in range(10)] + [(i, "b", 40) for i in range(10, 20)],
        ["doc_id", "source", "n_tok"],
    )
    out = mixture_take(docs, "n_tok", {"a": 100}, group_col="source").collect()
    # source b has no target -> dropped entirely
    assert {r["source"] for r in out} == {"a"}
    taken = [r for r in out if r["taken"]]
    # 40+40 = 80 < 100, the third doc crosses (80 < 100 -> kept), the
    # fourth starts at 120 >= 100 -> cut: exactly 3 taken
    assert len(taken) == 3
    assert sum(r["n_tokens"] for r in taken) == 120
    # determinism: same take-set under input reordering
    out2 = mixture_take(
        docs.orderBy("n_tok", F.desc("doc_id")), "n_tok", {"a": 100},
        group_col="source",
    ).collect()
    assert {r["doc_id"] for r in out2 if r["taken"]} == {
        r["doc_id"] for r in taken
    }


def test_bucketed_range_join_exact_and_hash_join(spark):
    from gpt_rag_ingestion_spark.operators.rangejoin import bucketed_range_join

    ev = spark.createDataFrame(
        [(i, f"2024-01-01 {h:02d}:{m:02d}:00") for i, (h, m) in enumerate(
            [(0, 0), (0, 30), (1, 0), (1, 59), (2, 0), (5, 15)]
        )],
        ["event_id", "ts_s"],
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [(100, "2024-01-01 00:30:00", "2024-01-01 02:00:00")],
        ["interval_id", "s", "e"],
    ).select(
        "interval_id",
        F.col("s").cast("timestamp").alias("start_ts"),
        F.col("e").cast("timestamp").alias("end_ts"),
    )
    out = bucketed_range_join(ev, iv, bucket_seconds=3600)
    # half-open [00:30, 02:00): events at 00:30, 01:00, 01:59 — the
    # 02:00 event is excluded by the exclusive end
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2, 3]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan


def test_count_min_overestimates_only(spark):
    from gpt_rag_ingestion_spark.operators.sketches import count_min_frequencies

    docs = spark.createDataFrame(
        [(i, ("hot " * 50) + f"cold{i} rare{i % 7}") for i in range(20)],
        ["doc_id", "text"],
    )
    rows = count_min_frequencies(docs, depth=4, width=64, top_k=5).collect()
    by_tok = {r["token"]: r for r in rows}
    # CMS never underestimates, and the top heavy hitter is exact-ranked
    assert all(r["cms_count"] >= r["true_count"] for r in rows)
    assert rows and min(r["rank"] for r in rows) == 1
    assert by_tok["hot"]["rank"] == 1 and by_tok["hot"]["true_count"] == 1000


def test_inverted_index_postings(spark):
    from gpt_rag_ingestion_spark.operators.inverted_index import (
        build_inverted_index,
    )

    docs = spark.createDataFrame(
        [(1, "b a b"), (2, "a c"), (3, "a a a")],
        ["doc_id", "text"],
    )
    rows = {r["token"]: r for r in build_inverted_index(docs, max_postings=3).collect()}
    a = rows["a"]
    assert (a["df"], a["n_occurrences"]) == (3, 5)
    # capped at 3 postings, (doc, pos) order: doc1 pos1, doc2 pos0, doc3 pos0
    assert a["postings"] == "1:1,2:0,3:0"
    assert rows["b"]["postings"] == "1:0,1:2"
    assert rows["c"]["postings"] == "2:1"


def test_grouped_row_number_matches_grouped_window(spark):
    """grouped_row_number + exact_ntile must reproduce the plain
    partitioned window's row_number/count/ntile EXACTLY, on data that
    spans many shuffle partitions (single-partition runs co-locate
    everything and hide recomposition bugs) — including groups smaller
    than the bucket count and a NULL group key."""
    from pyspark.sql import Window

    from gpt_rag_ingestion_spark.operators.ranking import (
        exact_ntile,
        grouped_row_number,
    )

    df = (
        spark.range(0, 2000)
        .select(
            F.col("id"),
            F.when(F.col("id") < 1995, (F.col("id") % 4).cast("string"))
            .when(F.col("id") < 1999, F.lit("tiny"))
            .otherwise(F.lit(None))
            .alias("g"),
            (F.col("id") * 2654435761 % 500).alias("v"),
        )
        .repartition(16)
    )
    order = [F.asc("v"), F.asc("id")]
    got = {
        (r["id"], r["rn"], r["n"], r["t"])
        for r in grouped_row_number(
            df, ["g"], order, rank_col="rn", n_col="n",
            num_partitions=13,
        )
        .withColumn("t", exact_ntile("rn", "n", 10).cast("long"))
        .collect()
    }
    w = Window.partitionBy("g").orderBy(*order)
    want = {
        (r["id"], r["rn"], r["n"], r["t"])
        for r in df.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("g")).cast("long")
        )
        .withColumn("t", F.ntile(10).over(w).cast("long"))
        .collect()
    }
    assert got == want


def test_distributed_row_number_matches_global_window(spark):
    from pyspark.sql import Window

    from gpt_rag_ingestion_spark.operators.ranking import (
        distributed_row_number,
        global_top_k,
    )

    df = spark.range(0, 997).select(
        F.col("id"), (F.col("id") * 2654435761 % 1000).alias("key")
    )
    order = [F.desc("key"), F.asc("id")]
    got = {
        (r["id"], r["rn"])
        for r in distributed_row_number(df, order, num_partitions=7).collect()
    }
    want = {
        (r["id"], r["rn"])
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order)).cast("long")
        ).collect()
    }
    assert got == want

    topk = global_top_k(df, order, 10, rank_col="rank")
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    want_top = sorted(want, key=lambda t: t[1])[:10]
    assert [
        (r["id"], r["rank"]) for r in topk.orderBy("rank").collect()
    ] == want_top


def _bpe_python(word_freqs, num_merges, min_pair_count=2):
    """Sequential reference BPE (Sennrich et al. 2016 pseudocode)."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for rank in range(1, num_merges + 1):
        counts = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_pair_count:
            break
        merges.append((rank, a, b, a + b, n))
        new_vocab = {}
        for syms, f in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_sequential_reference(spark):
    from gpt_rag_ingestion_spark.operators.bpe import bpe_segment, bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [
        (r["rank"], r["left"], r["right"], r["token"], r["n_pair"])
        for r in bpe_train(docs, num_merges=8).orderBy("rank").collect()
    ]

    freqs = {}
    for t in texts:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    want = _bpe_python(freqs, 8)
    assert got == want

    toks = {
        r["doc_id"]: r["tokens"]
        for r in bpe_segment(
            docs, [(m[1], m[2]) for m in want]
        ).collect()
    }
    # "low" merges fully after 8 merges on this corpus; word order kept
    assert toks[0] == ["low"] * 5
    joined = "".join(toks[1])
    assert joined == "lowerlowernewestnewest"


def test_write_training_shards(spark, tmp_path):
    import glob

    from gpt_rag_ingestion_spark.operators.shards import (
        assign_shards,
        write_training_shards,
    )

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7 * 100 + 50).alias("n_tokens"),
    )
    target = 5_000
    out = str(tmp_path / "shards")
    n = write_training_shards(
        docs, out, "n_tokens", [F.asc("doc_id")], target
    )

    back = spark.read.parquet(out)
    assert back.count() == 200
    assert back.select("doc_id").distinct().count() == 200

    # each shard holds a contiguous doc_id range (global order kept)
    # and its token total stays within one max-document of the target
    sums = {
        r["shard_id"]: r
        for r in back.groupBy("shard_id")
        .agg(
            F.sum("n_tokens").alias("toks"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    }
    assert len(sums) == n >= 2
    max_doc = 650
    ordered = [sums[s] for s in sorted(sums)]
    for prev, nxt in zip(ordered, ordered[1:]):
        assert prev["hi"] < nxt["lo"]  # contiguous, ordered ranges
    for s in ordered[:-1]:
        assert s["toks"] > target - max_doc
    for s in ordered:
        assert s["toks"] <= target + max_doc
        assert s["cnt"] == s["hi"] - s["lo"] + 1
        # exactly one data file per shard directory
        files = glob.glob(f"{out}/shard_id={s['shard_id']}/*.parquet")
        assert len(files) == 1

    # assignment matches a driver-side sequential replay
    rows = sorted(
        (r["doc_id"], r["n_tokens"], r["shard_id"])
        for r in assign_shards(
            docs, "n_tokens", [F.asc("doc_id")], target
        ).collect()
    )
    cum = 0
    for doc_id, toks, shard in rows:
        assert shard == cum // target
        cum += toks


def test_training_corpus_job_end_to_end(spark, tmp_path):
    from gpt_rag_ingestion_spark.plans.training_corpus_job import (
        run_training_corpus_job,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "corpus")
    audit, n_shards = run_training_corpus_job(
        spark, docs, out, target_tokens_per_shard=2_000
    )
    counts = {r["stage"]: r["n_docs"] for r in audit.collect()}
    assert sum(counts.values()) == docs.count()  # every doc dispositioned
    assert counts.get("kept", 0) > 0 and n_shards >= 2

    back = spark.read.parquet(out)
    assert back.count() == counts["kept"]  # shards hold exactly the kept set
    assert set(back.columns) >= {"doc_id", "source", "text", "n_tokens", "shard_id"}
    # no dropped document leaks into the shards
    dropped = {
        r["doc_id"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    } - {r["doc_id"] for r in back.collect()}
    assert len(dropped) == docs.count() - counts["kept"]


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    from gpt_rag_ingestion_spark.operators.layout import (
        file_minmax_stats,
        files_scanned_for_range,
        zorder_write,
    )

    # two independent uniform dimensions — single-column sorting can
    # only localize one of them
    df = spark.range(0, 40_000).select(
        (F.col("id") * 2654435761 % 10_000).alias("x").cast("double"),
        (F.col("id") * 40503 % 10_000).alias("y").cast("double"),
    )
    n_files = 16

    naive = str(tmp_path / "naive")
    (
        df.repartitionByRange(n_files, F.col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(naive)
    )
    zpath = str(tmp_path / "zorder")
    zorder_write(df, zpath, ["x", "y"], num_files=n_files)

    # same data both ways
    assert spark.read.parquet(zpath).count() == 40_000

    cols = ["x", "y"]
    s_naive = file_minmax_stats(naive, cols)
    s_z = file_minmax_stats(zpath, cols)
    assert len(s_z) == n_files

    # a narrow range query on each dimension: count files touched
    q = (4_000.0, 4_999.0)
    naive_x = files_scanned_for_range(s_naive, "x", *q)
    naive_y = files_scanned_for_range(s_naive, "y", *q)
    z_x = files_scanned_for_range(s_z, "x", *q)
    z_y = files_scanned_for_range(s_z, "y", *q)

    # x-sorted layout: perfect on x, useless on y (reads every file)
    assert naive_x <= 3 and naive_y == len(s_naive)
    # z-order: prunes meaningfully on BOTH dimensions
    assert z_x < n_files * 3 // 4
    assert z_y < n_files * 3 // 4


def test_compact_table_reduces_files_keeps_data(spark, tmp_path):
    """The snapshot table's OPTIMIZE with a target file size folds a
    fragmented generation into right-sized files, rows unchanged."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
        snapshot_optimize,
    )
    from gpt_rag_ingestion_spark.operators.upsert import _list_parquet_files

    table = str(tmp_path / "chunks")
    snapshot_merge_upsert(
        spark, table,
        spark.range(0, 10_000).select(
            F.col("id"), (F.col("id") % 13).alias("v")
        ).repartition(40),
        key="id",
    )

    def live_files():
        return len(_list_parquet_files(spark, table))

    before_sum = read_snapshot_table(spark, table).agg(F.sum("v")).collect()[0][0]
    files_before = live_files()
    snapshot_optimize(spark, table, target_file_mb=10)
    files_after = live_files() - files_before
    assert files_before == 40
    assert files_after <= 2
    after = read_snapshot_table(spark, table)
    assert after.count() == 10_000
    assert after.agg(F.sum("v")).collect()[0][0] == before_sum


def test_maybe_compact_table_trigger_preserves_partitions(spark, tmp_path):
    """The table OPTIMIZE trigger: fires from the referenced-generation
    count only when fragmentation crosses the threshold, and a
    partitioned table keeps its partition layout (so the
    partition-pruned merge path still works afterwards)."""
    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    table = str(tmp_path / "corpus")
    for i in range(4):  # 4 merges, each into its own bucket -> 4 generations
        inc = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("parent_id"),
            F.lit(i).cast("long").alias("bucket"),
            (F.col("id") * 3).alias("v"),
        ).repartition(4)
        S.snapshot_merge_upsert(spark, table, inc, key="parent_id",
                                partition_cols=["bucket"])
    before = sorted(
        (r["parent_id"], r["bucket"], r["v"])
        for r in S.read_snapshot_table(spark, table).collect()
    )
    # under threshold: one manifest read, no rewrite
    out = S.snapshot_maybe_optimize(spark, table, max_generations=1000,
                                    partition_cols=["bucket"])
    assert out["optimized"] is False and out["generations"] == 4
    # over threshold: rewrite, partitions intact, rows identical
    out = S.snapshot_maybe_optimize(spark, table, max_generations=2,
                                    partition_cols=["bucket"])
    assert out["optimized"] is True and out["generations_before"] == 4
    refs = S._read_manifest(
        spark, table, S._current_gen(spark, table)
    )["partitions"]
    assert sorted(refs) == [f"bucket={i}" for i in range(4)]
    assert len(set(refs.values())) == 1
    after = sorted(
        (r["parent_id"], r["bucket"], r["v"])
        for r in S.read_snapshot_table(spark, table).collect()
    )
    assert after == before
    # and the partition-pruned merge still works on the compacted table
    S.snapshot_merge_upsert(
        spark, table,
        spark.createDataFrame([(0, 0, 999)], "parent_id long, bucket long, v long"),
        key="parent_id", partition_cols=["bucket"],
    )
    assert S.read_snapshot_table(spark, table).filter(
        "parent_id = 0"
    ).first()["v"] == 999


def test_compact_table_salts_hot_partition(spark, tmp_path):
    """Review finding (r4): the partitioned rewrite must not collapse a
    hot partition into ONE straggler task — per-partition salts sized
    from the target file size spread it over ~rows/rows_per_file write
    tasks, each writing one right-sized file, while a small partition
    stays at one file."""
    import glob
    import os

    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    table = str(tmp_path / "t")
    # bucket 0: 900k rows (~4 MB of parquet); bucket 1: 100 rows
    df = spark.range(900_100).selectExpr(
        "id AS parent_id",
        "CASE WHEN id < 900000 THEN 0 ELSE 1 END AS bucket",
        "repeat('x', 200) AS payload",
    )
    S.snapshot_merge_upsert(spark, table, df.repartition(20),
                            partition_cols=["bucket"])
    rows_before = S.read_snapshot_table(spark, table).count()
    first = S._read_manifest(spark, table, 1)["partitions"]["bucket=0"]

    # a 1 MB target: bucket 0 wants ~4 files
    hot_bytes = sum(
        os.path.getsize(p)
        for p in glob.glob(f"{table}/{first}/bucket=0/*.parquet")
    )
    assert hot_bytes > 2 * 1024 * 1024
    S.snapshot_optimize(
        spark, table, partition_cols=["bucket"], target_file_mb=1,
    )
    gen = S._read_manifest(
        spark, table, S._current_gen(spark, table)
    )["partitions"]["bucket=0"]
    hot_files = glob.glob(f"{table}/{gen}/bucket=0/*.parquet")
    cold_files = glob.glob(f"{table}/{gen}/bucket=1/*.parquet")
    assert len(hot_files) >= 2, "hot partition must split across files"
    # part-<task>-<uuid>.cNNN: distinct task ids = parallel writers
    hot_tasks = {os.path.basename(f).split("-")[1] for f in hot_files}
    assert len(hot_tasks) >= 2, "hot partition must split across tasks"
    assert len(cold_files) == 1, "small partition must coalesce to one"
    assert S.read_snapshot_table(spark, table).count() == rows_before


def test_merge_upsert_schema_evolution(spark, tmp_path):
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
    )

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("p1", "old1"), ("p2", "old2")], ["parent_id", "content"]
    )
    snapshot_merge_upsert(spark, table, base)

    # increment carries a NEW column (e.g. a new enrichment field)
    inc = spark.createDataFrame(
        [("p2", "new2", "en"), ("p3", "new3", "fr")],
        ["parent_id", "content", "lang"],
    )
    snapshot_merge_upsert(spark, table, inc)
    rows = {r["parent_id"]: r for r in read_snapshot_table(spark, table).collect()}
    assert set(rows) == {"p1", "p2", "p3"}
    assert rows["p1"]["content"] == "old1" and rows["p1"]["lang"] is None
    assert rows["p2"]["lang"] == "en"

    # and an increment MISSING a column still merges (nulls fill in)
    inc2 = spark.createDataFrame([("p4",)], ["parent_id"])
    snapshot_merge_upsert(spark, table, inc2)
    rows = {r["parent_id"]: r for r in read_snapshot_table(spark, table).collect()}
    assert rows["p4"]["content"] is None and rows["p4"]["lang"] is None
    assert rows["p2"]["content"] == "new2"


def test_distributed_row_number_bucket_path(spark):
    from pyspark.sql import Window

    from gpt_rag_ingestion_spark.operators.ranking import distributed_row_number

    df = spark.range(0, 500).select(F.col("id"))
    order = [F.asc("id")]
    got = {
        (r["id"], r["rn"])
        for r in distributed_row_number(
            df, order, bucket_expr=(F.col("id") / 64).cast("long")
        ).collect()
    }
    want = {
        (r["id"], r["rn"])
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order)).cast("long")
        ).collect()
    }
    assert got == want


def test_delete_keys_partition_pruned(spark, tmp_path):
    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(f"p{i}", f"s{i % 3}", i) for i in range(30)],
        ["parent_id", "source", "v"],
    )
    S.snapshot_merge_upsert(spark, table, df, partition_cols=["source"])

    def refs():
        return S._read_manifest(
            spark, table, S._current_gen(spark, table)
        )["partitions"]

    before = refs()

    # delete keys living only in partition s1 (i % 3 == 1)
    doomed = spark.createDataFrame([("p1",), ("p4",)], ["parent_id"])
    S.snapshot_delete_keys(spark, table, doomed, partition_cols=["source"])

    back = S.read_snapshot_table(spark, table)
    assert back.count() == 28
    assert back.filter(F.col("parent_id").isin("p1", "p4")).count() == 0
    # untouched partitions keep their generation's files; only s1 moved
    after = refs()
    for p in ("source=s0", "source=s2"):
        assert after[p] == before[p]
    assert after["source=s1"] != before["source=s1"]


def test_histogram_quantiles_error_bound_and_merge(spark):
    from gpt_rag_ingestion_spark.operators.sketches import histogram_quantiles

    import numpy as np

    rng = np.random.RandomState(7)
    vals = rng.uniform(0, 100, size=2000).round(4).tolist()
    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], ["g", "v"]
    )
    out = {
        r["q_permille"]: r
        for r in histogram_quantiles(
            df, "v", "g", quantiles=(0.5, 0.95), bins=200, lo=0.0, hi=100.0
        ).collect()
    }
    bin_width = 100.0 / 200
    for pm, q in ((500, 0.5), (950, 0.95)):
        exact = float(np.sort(vals)[int(np.ceil(q * len(vals))) - 1])
        est = out[pm]["est_value"]
        assert abs(est - exact) <= bin_width + 1e-9
        assert out[pm]["n"] == 2000

    # mergeability: sketch(A ∪ B) == sketch built from summed bin counts
    # — equivalently, the union DataFrame gives the same estimate as the
    # full one (the groupBy IS the cell-wise merge)
    half = len(vals) // 2
    a = spark.createDataFrame([("g", float(v)) for v in vals[:half]], ["g", "v"])
    b = spark.createDataFrame([("g", float(v)) for v in vals[half:]], ["g", "v"])
    merged = {
        r["q_permille"]: r["est_value"]
        for r in histogram_quantiles(
            a.unionByName(b), "v", "g", quantiles=(0.5, 0.95), bins=200,
            lo=0.0, hi=100.0,
        ).collect()
    }
    assert merged == {pm: out[pm]["est_value"] for pm in (500, 950)}
@pytest.mark.slow
def test_operators_on_empty_and_singleton_inputs(spark):
    """Robustness net: the operator families must handle empty and
    single-row inputs without crashing and with sane outputs."""
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.operators.bloomjoin import bloom_semijoin
    from gpt_rag_ingestion_spark.operators.dedup import (
        exact_duplicates,
        hamming_neardup_pairs,
        minhash_lsh_candidates,
        simhash,
        span_dedup,
    )
    from gpt_rag_ingestion_spark.operators.freshness import sync_actions
    from gpt_rag_ingestion_spark.operators.ranking import (
        distributed_row_number,
        global_top_k,
    )
    from gpt_rag_ingestion_spark.operators.sketches import (
        count_min_frequencies,
        histogram_quantiles,
        kmv_distinct,
    )
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        language_id,
        quality_features,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    one_doc = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])

    for docs, expect in ((empty_docs, 0), (one_doc, 1)):
        assert exact_duplicates(docs).count() <= expect
        assert simhash(docs).count() == expect
        assert hamming_neardup_pairs(docs).count() == 0
        assert minhash_lsh_candidates(docs, "text", "doc_id", n=1).count() == 0
        assert span_dedup(docs, span=4).count() == expect
        assert quality_features(docs).count() == expect
        assert language_id(docs).count() == expect
        assert count_min_frequencies(docs, top_k=5).count() <= 2
        assert kmv_distinct(docs, "doc_id", "text").count() == expect

    # ranking over empty / singleton
    assert global_top_k(empty_docs, [F.asc("doc_id")], 5).count() == 0
    assert distributed_row_number(one_doc, [F.asc("doc_id")]).count() == 1
    assert global_top_k(one_doc, [F.asc("doc_id")], 5).count() == 1

    # histogram over empty group table
    ev_empty = spark.createDataFrame([], "g string, v double")
    assert histogram_quantiles(ev_empty, "v", "g", lo=0, hi=1).count() == 0

    # bloom semijoin with an empty dimension prunes everything
    fact = spark.range(0, 100).select(F.col("id").alias("k"))
    empty_dim = spark.createDataFrame([], "dk long")
    assert bloom_semijoin(fact, empty_dim, "k", "dk").count() == 0

    # sync actions with one empty side: all purge / all index
    import datetime as dt

    ts = dt.datetime.fromisoformat("2024-01-01T00:00:00")
    src = spark.createDataFrame([("a", ts)], ["parent_id", "last_modified"])
    wm = spark.createDataFrame([], "parent_id string, watermark_ts timestamp")
    acts = {r["parent_id"]: r["action"] for r in sync_actions(src, wm).collect()}
    assert acts == {"a": "index"}
    acts2 = {
        r["parent_id"]: r["action"]
        for r in sync_actions(
            spark.createDataFrame([], "parent_id string, last_modified timestamp"),
            spark.createDataFrame([("b", ts)], ["parent_id", "watermark_ts"]),
        ).collect()
    }
    assert acts2 == {"b": "purge"}



def test_manifest_proves_merge_idempotence(spark, tmp_path):
    from gpt_rag_ingestion_spark.operators.manifest import (
        read_manifest,
        table_digest,
        write_manifest,
    )
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_merge_upsert,
    )

    table = str(tmp_path / "t")
    # the manifest digests a plain parquet export of the merged table
    export = str(tmp_path / "export")

    def manifest(run_id):
        read_snapshot_table(spark, table).write.mode("overwrite").parquet(
            export
        )
        return write_manifest(spark, export, run_id=run_id)

    base = spark.createDataFrame(
        [("p1", "a"), ("p2", "b")], ["parent_id", "content"]
    )
    inc = spark.createDataFrame([("p2", "b2")], ["parent_id", "content"])

    snapshot_merge_upsert(spark, table, base)
    snapshot_merge_upsert(spark, table, inc)
    e1 = manifest("r1")

    # re-merging the SAME increment must not change the content digest
    # (the delete-then-upload idempotence contract, now provable)
    snapshot_merge_upsert(spark, table, inc)
    e2 = manifest("r2")
    assert e2["digest"] == e1["digest"] and e2["n_rows"] == e1["n_rows"]

    # a different increment must change it
    snapshot_merge_upsert(
        spark,
        table,
        spark.createDataFrame([("p3", "c")], ["parent_id", "content"]),
    )
    e3 = manifest("r3")
    assert e3["digest"] != e2["digest"] and e3["n_rows"] == 3

    assert [m["run_id"] for m in read_manifest(export)] == ["r1", "r2", "r3"]

    # digest is order/partitioning independent
    df = read_snapshot_table(spark, table)
    assert (
        table_digest(df.repartition(7))["digest"]
        == table_digest(df.coalesce(1))["digest"]
    )

    # and column-order canonical: explicit cols in any order agree
    assert (
        table_digest(df, ["content", "parent_id"])
        == table_digest(df, ["parent_id", "content"])
    )


def test_training_corpus_job_writes_manifest(spark, tmp_path):
    from gpt_rag_ingestion_spark.operators.manifest import read_manifest
    from gpt_rag_ingestion_spark.plans.training_corpus_job import (
        run_training_corpus_job,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "corpus")
    _audit, _n = run_training_corpus_job(spark, docs, out, 2_000)
    m1 = read_manifest(out)
    assert len(m1) == 1 and m1[0]["n_rows"] > 0

    # identical inputs → identical digest (reproducibility proof)
    out2 = str(tmp_path / "corpus2")
    run_training_corpus_job(spark, docs, out2, 2_000)
    m2 = read_manifest(out2)
    assert m2[0]["digest"] == m1[0]["digest"]
    assert m2[0]["n_rows"] == m1[0]["n_rows"]


def test_write_training_shards_jsonl(spark, tmp_path):
    """fmt="jsonl": gzip JSON-lines shards, identical assignment to
    parquet, one data file per shard, readable by a plain line reader."""
    import glob
    import gzip
    import json as _json

    from gpt_rag_ingestion_spark.operators.shards import write_training_shards

    docs = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5 * 100 + 100).alias("n_tokens"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )
    out = str(tmp_path / "jsonl")
    n = write_training_shards(
        docs, out, "n_tokens", [F.asc("doc_id")], 5_000, fmt="jsonl"
    )
    assert n >= 2
    back = spark.read.json(out)
    assert back.count() == 100
    # one gz file per shard; plain gzip+json parses and keeps order
    for shard_dir in glob.glob(f"{out}/shard_id=*"):
        files = glob.glob(f"{shard_dir}/part-*.json.gz")
        assert len(files) == 1
        with gzip.open(files[0], "rt") as fh:
            ids = [_json.loads(line)["doc_id"] for line in fh]
        assert ids == sorted(ids)


def test_training_corpus_job_epoch_weights(spark, tmp_path):
    """Mixture expansion inside the composed job: a 2.0-epoch source
    doubles its kept rows, fractional epochs expand to floor/ceil by
    the deterministic hash rule, and shards still hold the exact
    expanded multiset."""
    from gpt_rag_ingestion_spark.plans.training_corpus_job import (
        run_training_corpus_job,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    s0, s1 = sorted(srcs)[0], sorted(srcs)[1]

    base_out = str(tmp_path / "base")
    _, _ = run_training_corpus_job(
        spark, docs, base_out, target_tokens_per_shard=2_000
    )
    base = spark.read.parquet(base_out)
    base_per_src = {
        r["source"]: r["n"]
        for r in base.groupBy("source").agg(F.count("*").alias("n")).collect()
    }

    out = str(tmp_path / "weighted")
    audit, n_shards = run_training_corpus_job(
        spark, docs, out, target_tokens_per_shard=2_000,
        epoch_weights={s0: 2.0, s1: 1.5},
    )
    got = spark.read.parquet(out)
    per_src = {
        r["source"]: r["n"]
        for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per_src[s0] == 2 * base_per_src[s0]
    assert base_per_src[s1] <= per_src[s1] <= 2 * base_per_src[s1]
    # unlisted sources stay at exactly one epoch
    for s in srcs:
        if s not in (s0, s1) and s in base_per_src:
            assert per_src[s] == base_per_src[s]
    # expanded copies are distinct rows (copy_idx) and shards sum up
    assert "copy_idx" in got.columns
    assert got.select("_uid").distinct().count() == got.count()
    assert n_shards >= 2


@pytest.mark.slow
def test_round2_operators_on_empty_and_singleton_inputs(spark):
    """Edge-case sweep for the round-2 families: empty / singleton
    inputs neither crash nor fabricate rows."""
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.operators.dedup import incremental_dedup
    from gpt_rag_ingestion_spark.operators.diff import snapshot_diff
    from gpt_rag_ingestion_spark.operators.incremental import (
        maintain_rollup,
        scd2_intervals,
    )
    from gpt_rag_ingestion_spark.operators.linkage import fuzzy_join
    from gpt_rag_ingestion_spark.operators.linkgraph import (
        pagerank_quantized,
        triangle_count,
    )
    from gpt_rag_ingestion_spark.operators.packing import token_blocks
    from gpt_rag_ingestion_spark.operators.profiling import (
        column_stats,
        grouped_correlation,
        grouped_mode,
    )
    from gpt_rag_ingestion_spark.operators.sampling import epoch_expand
    from gpt_rag_ingestion_spark.operators.sketches import (
        cms_join_size,
        kmv_set_algebra,
    )
    from gpt_rag_ingestion_spark.operators.text_analysis import collocations
    from gpt_rag_ingestion_spark.operators.vocab import (
        build_vocab,
        encode_with_vocab,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    one = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])

    # incremental dedup: empty batch, empty base, both
    assert incremental_dedup(one, empty).count() == 0
    got = incremental_dedup(empty, one).collect()
    assert [(r["decision"], r["dup_of"]) for r in got] == [("new", None)]
    assert incremental_dedup(empty, empty).count() == 0

    # epoch expansion over empty / weight 0
    assert epoch_expand(empty, F.lit(20000)).count() == 0
    assert epoch_expand(one, F.lit(0)).count() == 0

    # rollup maintenance with all-empty deltas is the identity
    old = one.groupBy("text").agg(F.count("*").alias("n_rows"))
    kept = maintain_rollup(
        old, empty.select(F.col("text")), empty.select(F.col("text")),
        key="text", sum_cols=[],
    )
    assert kept.count() == 1

    # SCD2 on empty / single change
    ev_empty = spark.createDataFrame(
        [], "k string, ts timestamp, v string"
    )
    assert scd2_intervals(ev_empty, "k", "ts", ["v"]).count() == 0

    # snapshot diff: both empty, one side empty
    assert snapshot_diff(empty, empty, key="doc_id").count() == 0
    assert {
        r["change"] for r in snapshot_diff(empty, one, key="doc_id").collect()
    } == {"added"}

    # graph ops on empty edge sets
    nodes1 = spark.createDataFrame([(1,)], "id long")
    e_empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank_quantized(nodes1, e_empty, iters=2).count() == 1
    assert triangle_count(e_empty).collect()[0]["n_triangles"] == 0

    # blockization: empty in, empty out
    assert token_blocks(
        spark.createDataFrame([], "doc_id long, n long"),
        "n", [F.asc("doc_id")], 8,
    ).count() == 0

    # profiling family
    assert column_stats(empty).count() == 2  # one row per column
    assert grouped_correlation(
        spark.createDataFrame([], "g string, x double, y double"),
        "g", "x", "y",
    ).count() == 0
    assert grouped_mode(
        spark.createDataFrame([], "g string, v string"), "g", "v"
    ).count() == 0

    # linkage / collocations / sketches
    assert fuzzy_join(
        empty.selectExpr("doc_id AS lk", "text AS name"),
        one.selectExpr("doc_id AS rk", "text AS name"),
        "lk", "rk",
    ).count() == 0
    assert collocations(empty, min_count=1, k=5).count() == 0
    assert collocations(one, min_count=1, k=5).count() == 1
    assert kmv_set_algebra(
        spark.createDataFrame([], "g string, v long"), "g", "v"
    ).count() == 0
    row = cms_join_size(empty, one, "doc_id", "doc_id").collect()[0]
    assert row["exact_rows"] == 0 and row["est_rows"] is None or row["est_rows"] == 0

    # vocab: empty corpus -> empty vocab; encode over empty vocab = all OOV
    v = build_vocab(empty)
    assert v.count() == 0
    enc = encode_with_vocab(one, v).collect()[0]
    assert enc["n_oov"] == enc["n_tokens"] == 2


def test_bpe_batched_equals_sequential(spark):
    """Round-3: merges_per_round=K batches pairwise-safe merges into one
    job per round; the learned merge table must be IDENTICAL to the
    sequential argmax-per-job result, with far fewer cluster rounds."""
    import gpt_rag_ingestion_spark.operators.bpe as bpe

    # (a) constructed corpus whose top merges are pairwise disjoint
    texts = [
        "aa bb cc dd aa bb cc dd aa bb",
        "ee ff gg hh ee ff gg hh",
        "aa cc ee gg aa cc",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    seq = [tuple(r) for r in bpe.bpe_train(docs, num_merges=8).collect()]
    seq_rounds = bpe.LAST_TRAIN_ROUNDS
    bat = [
        tuple(r)
        for r in bpe.bpe_train(docs, num_merges=8, merges_per_round=8).collect()
    ]
    bat_rounds = bpe.LAST_TRAIN_ROUNDS
    assert bat == seq
    assert bat_rounds < seq_rounds

    # (b) natural text (overlapping pairs everywhere): the safety rules
    # must force fallbacks exactly where needed so the sequence still
    # matches the python reference merge-for-merge
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    real = real.select("doc_id", "text").limit(60)
    freqs = {}
    for r in real.collect():
        for w in (r["text"] or "").lower().split():
            freqs[w] = freqs.get(w, 0) + 1
    want = _bpe_python(freqs, 24)
    got = [
        (r["rank"], r["left"], r["right"], r["token"], r["n_pair"])
        for r in bpe.bpe_train(
            real, num_merges=24, merges_per_round=8
        ).orderBy("rank").collect()
    ]
    rounds_batched = bpe.LAST_TRAIN_ROUNDS
    assert got == want
    assert rounds_batched < 24  # strictly fewer rounds than merges


def test_bpe_skip_batched_mode(spark):
    """exact=False (standard batched BPE): identical to sequential on a
    corpus whose top pairs don't interact, and rounds ~ merges/K on
    natural text."""
    import gpt_rag_ingestion_spark.operators.bpe as bpe

    texts = [
        "aa bb cc dd aa bb cc dd aa bb",
        "ee ff gg hh ee ff gg hh",
        "aa cc ee gg aa cc",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    seq = [tuple(r) for r in bpe.bpe_train(docs, num_merges=8).collect()]
    skip = [
        tuple(r)
        for r in bpe.bpe_train(
            docs, num_merges=8, merges_per_round=8, exact=False
        ).collect()
    ]
    assert skip == seq  # non-interacting top pairs: provably equal

    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    real = real.select("doc_id", "text").limit(60)
    got = bpe.bpe_train(
        real, num_merges=32, merges_per_round=8, exact=False
    ).collect()
    assert bpe.LAST_TRAIN_ROUNDS <= 32 // 8 + 3  # ~merges/K rounds
    # merge-table validity: contiguous ranks, unique tokens, every
    # merge's sides are base chars or previously learned tokens
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
    toks = [r["token"] for r in got]
    assert len(set(toks)) == len(toks)
    known = set()
    for r in got:
        for side in (r["left"], r["right"]):
            assert len(side) == 1 or side in known
        known.add(r["token"])


def test_ann_recall_floors(spark):
    """The bench's tracked ann_recall metrics must stay above their
    floors (recall@10 vs the exact cosine baseline, at the bench's
    probe settings, on the synthetic weakly-clustered embeddings)."""
    import __spark_entry__ as entry_mod
    from bench import _ann_recall

    rec = _ann_recall(spark, entry_mod, SF)
    # floors track the round-4 knee settings (ivf n_probe=10, ivfpq
    # n_probe=12/refine=16) measured by scripts/ann_recall_curve.py at
    # sf0.1: ivf 0.878, ivfpq 0.912 — floors leave sampling slack
    assert rec["lsh"] >= 0.70, rec
    assert rec["ivf"] >= 0.80, rec
    assert rec["pq_refine"] >= 0.75, rec
    assert rec["ivfpq"] >= 0.84, rec


def test_ann_recall_floors_clustered(spark):
    """r5 judge brief #8: the same knee settings on the CLUSTERED
    corpus (mixture of Gaussians, realistic embedding geometry) must
    sit far above the weak-corpus floors — and specifically the ivfpq
    floor guards the r6 metric fix: with the raw-dot re-rank this
    corpus capped at 0.71 recall regardless of probe depth, so 0.90
    can only pass with the cosine re-rank in place."""
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.operators.similarity import (
        ivf_ann,
        ivfpq_ann,
        quantized_dot_topk,
    )
    from scripts.ann_recall_curve import clustered_embeddings

    emb = clustered_embeddings(spark).cache()
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    unit = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x / F.greatest(norm, F.lit(1e-12))
        ).alias("embedding"),
    )
    truth: dict = {}
    for r in quantized_dot_topk(unit, k=10).collect():
        truth.setdefault(r["vec_id"], set()).add(r["nn_id"])

    def recall(df, qids):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["corpus_id"])
        recs = [
            len(got.get(q, set()) & truth[q]) / max(len(truth[q]), 1)
            for q in qids
        ]
        return sum(recs) / max(len(recs), 1)

    ivf = recall(
        ivf_ann(emb, emb, dim=64, n_centroids=16, n_probe=10, k=10),
        list(truth),
    )
    assert ivf >= 0.93, ivf  # measured 0.978 at the bench knee
    pq_queries = emb.filter(F.col("vec_id") % 8 == 0)
    ivfpq = recall(
        ivfpq_ann(
            emb, pq_queries, k=10, n_probe=12, refine_factor=16,
            metric="cosine",
        ),
        [q for q in truth if q % 8 == 0],
    )
    assert ivfpq >= 0.90, ivfpq  # measured 0.982; raw-dot rerank: 0.71
    emb.unpersist()


def test_random_projection_exact_and_partition_invariant(spark):
    """The JL sketch is exact integer algebra: projections equal the
    numpy reference bit for bit, are invariant to partitioning, and
    sketch-space top-1 search (quantize=False) equals a brute-force
    argmax over the projected vectors."""
    import numpy as np

    from gpt_rag_ingestion_spark.operators.similarity import (
        _quantize_np,
        project_embeddings,
        quantized_dot_top1,
        rp_sign_rows,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(300, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = {
        r["vec_id"]: np.array(r["proj"])
        for r in project_embeddings(emb, out_dim=16).collect()
    }
    R = np.zeros((64, 16), dtype="int64")
    for i, j, s in rp_sign_rows(64, 16):
        R[i, j] = s
    want = _quantize_np(vecs) @ R
    assert all((out[i] == want[i]).all() for i in range(300))
    # nonzero density ~1/3 (the Achlioptas setting)
    assert 250 < len(rp_sign_rows(64, 16)) < 430

    proj = project_embeddings(emb.repartition(16), out_dim=16).select(
        "vec_id", "proj"
    )
    got = {
        (r["vec_id"], r["nn_id"], r["dot"])
        for r in quantized_dot_top1(
            proj, vec_col="proj", quantize=False, tile_rows=64
        ).collect()
    }
    dots = want @ want.T
    np.fill_diagonal(dots, np.iinfo("int64").min)
    expect = {
        (q, int(dots[q].argmax()), int(dots[q].max())) for q in range(300)
    }
    assert got == expect


def test_sketch_rerank_recall_floor_clustered(spark):
    """Two-stage sketch→rerank quality on the clustered corpus at the
    shipped setting (out_dim=32, shortlist=64): recall is fully
    deterministic (fixed corpus, fixed sign matrix), measured 0.674 —
    floor with margin.  The sketch is the cheap pre-filter; IVF/IVFPQ
    remain the recall-critical paths (their own floors above)."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    from ann_recall_curve import clustered_embeddings

    from gpt_rag_ingestion_spark.operators.similarity import (
        quantized_dot_top1,
        sketch_rerank_top1,
    )

    emb = clustered_embeddings(spark).select("vec_id", "embedding")
    exact = {r["vec_id"]: r["nn_id"] for r in quantized_dot_top1(emb).collect()}
    got = {
        r["vec_id"]: r["nn_id"]
        for r in sketch_rerank_top1(emb, out_dim=32, shortlist=64).collect()
    }
    recall = sum(got[k] == v for k, v in exact.items()) / len(exact)
    assert recall >= 0.65, recall
