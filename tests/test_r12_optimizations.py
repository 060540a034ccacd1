"""Round-12 optimization equivalence pins.

Each optimization that changed an operator's internals gets a focused
test proving the result is unchanged:

- split_text_recursive's additive token counting vs a recomputing
  reference (a non-additive word-char separator set is rejected),
- ngram_jaccard_pairs' inline |A|/|B| carry vs explicit size joins,
- simhash's indicator-sum votes vs the +/-1 vote construction,
- chunk_analyzed_documents' fused ``pre`` hook vs pre-transforming,
- spread_small_input(by=) hash partitioning semantics.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from splitter_reference import reference_split


# ---------------------------------------------------------------- splitter


_SPLIT_CASES = [
    # (text, max_tokens, overlap, min_tokens, separators-key)
    ("", 10, 2, 1, None),
    ("one two three", 50, 5, 1, None),
    ("para one.\n\npara two continues here. sentence three! more "
     "words to cross the budget? yes indeed, many many more words "
     "follow here so that merging must split across levels." * 3,
     12, 3, 2, None),
    ("a\n\n\n\nb " * 40, 5, 1, 1, None),          # empty parts path
    ("word " * 300, 25, 7, 3, None),              # hard-window fallback
    ("# h1\ntext under h1\n## h2\nmore text\n```\ncode block\n```\n"
     "tail " * 20, 15, 4, 1, "md"),               # lookahead separators
    ("xxabyyabzz " * 30, 8, 2, 1, ["ab", " "]),   # word-char joiner: refused
    ("abc..def..ghi " * 25, 6, 2, 1, [". ", " "]),
]


def test_split_text_recursive_matches_recomputing_reference():
    from gpt_rag_ingestion_spark.chunking.splitter import (
        MARKDOWN_SEPARATORS,
        split_text_recursive,
    )

    for text, mt, ov, mn, seps in _SPLIT_CASES:
        seps = MARKDOWN_SEPARATORS if seps == "md" else seps
        if seps == ["ab", " "]:
            # a word-char joiner lets a token span the cut, so counts
            # are not additive: the splitter refuses the set
            with pytest.raises(ValueError, match="word character"):
                split_text_recursive(
                    text, max_tokens=mt, overlap_tokens=ov, min_tokens=mn,
                    separators=seps,
                )
            continue
        new = split_text_recursive(
            text, max_tokens=mt, overlap_tokens=ov, min_tokens=mn,
            separators=seps,
        )
        old = reference_split(text, mt, ov, mn, separators=seps)
        assert new == old, (text[:40], mt, ov, mn)


def test_counts_additive_guard():
    from gpt_rag_ingestion_spark.chunking.splitter import _counts_additive

    assert _counts_additive("\n\n", "\n\n")
    assert _counts_additive(". ", ". ")
    assert _counts_additive(("\n# ", "start"), "")
    assert not _counts_additive("ab", "ab")        # word-char joiner
    assert not _counts_additive(("x", "start"), "")  # word-char lookahead


# ------------------------------------------------------------ ngram jaccard


def test_ngram_jaccard_inline_sizes_match_explicit_join(spark):
    from gpt_rag_ingestion_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )

    rows = []
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    for i in range(60):
        words = base.split()
        if i % 3 == 0:
            words[i % len(words)] = f"tok{i}"
        rows.append((i, " ".join(words + [f"tail{i % 7}"])))
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)

    got = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)

    # reference: sizes via explicit aggregation + joins (the pre-r12 shape)
    sh = word_shingles(docs, "text", "doc_id", 3).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ref = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    )
    key = lambda r: (r["id_a"], r["id_b"])
    got_rows = sorted(got.collect(), key=key)
    ref_rows = sorted(ref.collect(), key=key)
    assert got_rows == ref_rows and len(got_rows) > 0


# ------------------------------------------------------------------ simhash


def test_simhash_indicator_sums_match_vote_reference(spark):
    from gpt_rag_ingestion_spark.operators.dedup import simhash, tokenize

    rows = [(i, f"alpha beta{i % 5} gamma delta epsilon{i % 3} zeta") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs, "text", "doc_id", bits=16).collect()}

    # reference: the +/-1 vote construction, computed driver-side
    import hashlib

    votes: dict = {}
    for i, text in rows:
        for tok in re.split(r"\s+", text):
            if not tok:
                continue
            x = int(hashlib.md5(tok.encode()).hexdigest()[:4], 16)
            for bit in range(16):
                pos = 4 * (4 - 1 - (bit // 4)) + (bit % 4)
                v = 1 if (x >> pos) & 1 else -1
                votes.setdefault(i, [0] * 16)[bit] += v
    for i, vs in votes.items():
        expect = 0
        for bit, v in enumerate(vs):
            if v > 0:
                expect |= 1 << bit
        assert got[i] == expect, i


# ----------------------------------------------------- fused pre= chunk hook


def test_chunk_analyzed_documents_pre_hook_equivalent(spark):
    from gpt_rag_ingestion_spark.chunking.doc_analysis import (
        chunk_analyzed_documents,
    )
    from gpt_rag_ingestion_spark.functions.markdown import number_figures

    rows = [
        (f"d{i}",
         f"intro {i} <figure>one</figure> middle text here "
         f"<figure>two</figure> tail words {i}")
        for i in range(25)
    ]
    docs = spark.createDataFrame(rows, "parent_id string, md string")
    pre = lambda s: number_figures(s or "")[0]

    fused = chunk_analyzed_documents(
        docs, md_col="md", max_tokens=8, overlap=2, min_tokens=1, pre=pre
    )
    staged = chunk_analyzed_documents(
        spark.createDataFrame(
            [(k, pre(v)) for k, v in rows], "parent_id string, md string"
        ),
        md_col="md", max_tokens=8, overlap=2, min_tokens=1,
    )
    key = lambda r: (r["parent_id"], r["chunk_id"])
    assert sorted(fused.collect(), key=key) == sorted(staged.collect(), key=key)


# ------------------------------------------------------ rolling fingerprint


def test_rolling_fingerprint_zero_shuffle_matches_explode_reference(spark):
    """r12 perf: the incremental (hash, B^i) array aggregate must equal
    the pre-r12 posexplode + power-table-join + groupBy construction,
    including empty docs, NULL text, and the max_tokens cutoff — and
    its plan must carry ZERO Exchange nodes."""
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        ROLLING_BASE,
        ROLLING_MOD,
        rolling_fingerprint,
    )

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "beta alpha gamma delta"),        # order-sensitive vs 0
        (2, ""),                               # zero tokens: dropped
        (3, None),                             # NULL text: dropped
        (4, "   \t  "),                        # whitespace only: dropped
        (5, " ".join(f"tok{i}" for i in range(40))),  # crosses max_tokens=16
        (6, "solo"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    got = rolling_fingerprint(docs, "text", "doc_id", max_tokens=16)

    # reference: the pre-r12 explode + broadcast-power-join + groupBy
    powers = [1] * 17
    for i in range(1, 17):
        powers[i] = (powers[i - 1] * ROLLING_BASE) % ROLLING_MOD
    pow_df = F.broadcast(
        spark.createDataFrame(
            [(i, p) for i, p in enumerate(powers)], "pos INT, b_pow LONG"
        )
    )
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(
            F.filter(F.split(F.col("text"), "\\s+"), lambda t: t != "")
        ).alias("pos", "token"),
    ).filter(F.col("pos") < 16)
    val = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    ref = (
        toks.join(pow_df, on="pos")
        .withColumn("term", (val % ROLLING_MOD) * F.col("b_pow") % ROLLING_MOD)
        .groupBy("doc_id")
        .agg((F.sum("term") % ROLLING_MOD).alias("rolling_fp"))
    )
    key = lambda r: r["doc_id"]
    got_rows = sorted(got.collect(), key=key)
    ref_rows = sorted(ref.collect(), key=key)
    assert [r.asDict() for r in got_rows] == [r.asDict() for r in ref_rows]
    assert [r["doc_id"] for r in got_rows] == [0, 1, 5, 6]
    assert got_rows[0]["rolling_fp"] != got_rows[1]["rolling_fp"]

    flat = rolling_fingerprint(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "text",
        "doc_id",
        max_tokens=16,
    )
    plan = flat._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ------------------------------------------------------- spread_small_input


def test_spread_by_key_hash_partitions_and_noop_on_spread_input(spark, tmp_path):
    from gpt_rag_ingestion_spark.session import spread_small_input

    p = str(tmp_path / "docs")
    spark.range(200).selectExpr("id AS doc_id", "repeat('x', 10) AS text") \
        .coalesce(1).write.parquet(p)
    one_file = spark.read.parquet(p)

    spread = spread_small_input(one_file, by="doc_id")
    # hash-partitioned on doc_id: groupBy(doc_id) must not add an exchange
    agg = spread.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan  # only the spread repartition
    assert agg.count() == 200

    # many-file input: spread is a no-op (returns the same plan object)
    p2 = str(tmp_path / "many")
    spark.range(200).selectExpr("id AS doc_id").repartition(10).write.parquet(p2)
    many = spark.read.parquet(p2)
    assert spread_small_input(many, by="doc_id") is many

# ------------------------------------------------------------ cost_estimate


def test_cost_estimate_long_matches_decimal(spark):
    """r12 perf: the scaled-long (10^-12-USD integer units) cost model
    must be bit-identical to the pre-r12 BigDecimal construction —
    including rows that land EXACTLY on a 4 dp HALF_UP boundary, NULL
    counters, and non-integral double token counts (where the shared
    decimal(20,4) entry cast does the rounding)."""
    from gpt_rag_ingestion_spark.operators.ops_log import cost_estimate

    rows = [
        # (pages, embed, cin, cout)
        (1, 1000.0, 200.0, 100.0),
        (0, 5000.0, 0.0, 0.0),       # embed cost = 0.00065 -> boundary
        (0, 0.0, 20.0, 0.0),         # cin  cost = 0.00005 -> boundary
        (0, 0.0, 0.0, 5.0),          # cout cost = 0.00005 -> boundary
        (0, 0.0, 0.0, 15.0),         # 0.00015 -> boundary, odd half
        (None, None, None, None),    # coalesce path
        (0, 12.34565, 7.89125, 3.00005),  # non-integral: decimal(20,4) cast rounds
        (2, 1234567.89, 54321.0, 98765.4321),
        (1000000, 1e10, 1e9, 1e9),   # large but in-bounds counters
        (0, 0.0, 0.0, 0.0),
        (3, 0.00004, 0.0, 0.0),      # sub-rounding embed -> cast to 0.0000? (0.0001*13e-8)
    ]
    usage = spark.createDataFrame(
        rows,
        "pages_analyzed int, embedding_tokens double, "
        "completion_tokens_in double, completion_tokens_out double",
    )

    got = [r["estimated_cost_usd"] for r in cost_estimate(usage).collect()]

    # reference: the pre-r12 decimal-domain construction, verbatim
    pages = F.coalesce(F.col("pages_analyzed"), F.lit(0)).cast("decimal(20,0)")
    embed = F.coalesce(F.col("embedding_tokens"), F.lit(0)).cast("decimal(20,4)")
    cin = F.coalesce(F.col("completion_tokens_in"), F.lit(0)).cast("decimal(20,4)")
    cout = F.coalesce(F.col("completion_tokens_out"), F.lit(0)).cast("decimal(20,4)")
    cost = (
        pages * F.lit(0.01).cast("decimal(10,6)")
        + embed * F.lit(0.00013 / 1000.0).cast("decimal(12,8)")
        + cin * F.lit(0.0025 / 1000.0).cast("decimal(12,8)")
        + cout * F.lit(0.01 / 1000.0).cast("decimal(12,8)")
    )
    ref = [
        r["estimated_cost_usd"]
        for r in usage.withColumn(
            "estimated_cost_usd", F.round(cost, 4).cast("double")
        ).collect()
    ]
    assert got == ref, list(zip(got, ref, rows))
    # the boundary rows really are boundaries: HALF_UP went UP
    assert got[1] == 0.0007 and got[2] == 0.0001 and got[3] == 0.0001
    assert got[4] == 0.0002
