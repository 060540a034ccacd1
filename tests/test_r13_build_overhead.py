"""Equivalence pins for the r13 driver-overhead optimizations
(OPTIMIZATION_r13.md, second session): the _t scan-plan memo, the
DataFrame-debugging disable, and the SQL-text expression forms in the
dedup/multimodal builders: each shipped builder is compared against
an inline copy written in the Column algebra its SQL text replaced,
so an edit to the SQL text fails here."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def test_scan_memo_returns_same_plan_handle(spark):
    a = entry_mod._t(spark, SF, "documents")
    b = entry_mod._t(spark, SF, "documents")
    assert a is b  # plan handle memoized per (session, path, table)
    c = entry_mod._t(spark, SF, "orders")
    assert c is not a
    # the memo holds PLANS, not results: two materializations both
    # compute (noop sink) and the row count matches a fresh reader
    fresh = spark.read.parquet(f"{SF}/documents.parquet")
    assert a.count() == fresh.count()


def test_scan_memo_holds_only_the_current_session(spark):
    """The memo keeps one session's scans: a call from another session
    drops them (the interpreter never pins a session it moved past),
    and each session gets frames bound to itself."""
    a = entry_mod._t(spark, SF, "documents")
    entry_mod._t(spark, SF, "orders")
    other = spark.newSession()
    b = entry_mod._t(other, SF, "documents")
    assert b.sparkSession is other and b is not a
    owner, scans = entry_mod._SCAN_MEMO
    assert owner == (id(other), other.sparkContext.applicationId)
    assert list(scans) == [(SF, "documents")]
    # back on the first session: a fresh scan, and the memo is its own
    c = entry_mod._t(spark, SF, "documents")
    assert c.sparkSession is spark and c is not a
    assert entry_mod._SCAN_MEMO[0][0] == id(spark)
    assert entry_mod._t(spark, SF, "documents") is c


def test_dataframe_debugging_disabled_after_ship(spark):
    import pyspark.errors.utils as eu

    from gpt_rag_ingestion_spark.session import ship_package

    ship_package(spark)
    assert eu._enable_debugging_cache is False


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a lazy cat"),
            (3, "lorem ipsum dolor sit amet consectetur"),
        ],
        "doc_id long, text string",
    )


def _minhash_column_form(spark, docs, num_hashes):
    """``minhash_signatures(hash_fn="sha256uh")`` with its aggregates in
    the Column algebra its SQL text replaced."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        UH_PRIME, uh_a, uh_b, word_shingles,
    )

    x = F.conv(
        F.substring(F.sha2(F.col("shingle"), 256), 1, 8), 16, 10
    ).cast("long")
    sh = word_shingles(docs, "text", "doc_id", 3).select(
        F.col("doc_id"), x.alias("_x")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(uh_a(i)) * F.col("_x") + F.lit(uh_b(i))) % F.lit(UH_PRIME)
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )


def test_minhash_expr_forms_match_column_forms(spark):
    from gpt_rag_ingestion_spark.operators.dedup import minhash_signatures

    docs = _docs(spark)
    got = minhash_signatures(docs, num_hashes=16, hash_fn="sha256uh")
    want = _minhash_column_form(spark, docs, 16)
    assert got.sameSemantics(want)
    assert got.schema == want.schema


def test_lsh_band_packing_matches_column_form(spark):
    """The r=2 base-P band packing of ``minhash_lsh_candidates`` (one
    SQL-text array of structs) against the Column form, through the
    shipped builder: the candidate plan is rebuilt inline from the
    Column-form band structs and must be the same plan."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        UH_PRIME, minhash_lsh_candidates,
    )

    docs = _docs(spark)
    bands = 8
    got = minhash_lsh_candidates(
        docs, num_hashes=2 * bands, bands=bands, hash_fn="sha256uh"
    )
    sig = _minhash_column_form(spark, docs, 2 * bands)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (F.col(f"mh_{2 * b}") * F.lit(UH_PRIME)
                 + F.col(f"mh_{2 * b + 1}")).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    buckets = (
        sig.select(F.col("doc_id"), F.explode(band_structs).alias("bb"))
        .select(
            F.col("doc_id"), F.col("bb.band").alias("band"),
            F.col("bb.band_hash").alias("band_hash"),
        )
        .groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(F.col("doc_id"))).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    ids = F.col("_ids")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, F.size(ids) - i),
                lambda x: F.struct(
                    F.element_at(ids, i).alias("id_a"), x.alias("id_b")
                ),
            ),
        )
    )
    want = (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    assert got.sameSemantics(want)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_simhash_expr_forms_match_column_forms(spark):
    from gpt_rag_ingestion_spark.operators.dedup import simhash, tokenize
    from gpt_rag_ingestion_spark.session import spread_small_input

    docs = _docs(spark)
    bits, chunk_lens = 16, [4]
    got = simhash(docs, bits=bits)

    def pos_of(bit):
        n = bit // 4
        c, m = n // 8, n % 8
        return c, 4 * (chunk_lens[c] - 1 - m) + (bit % 4)

    h = F.md5(F.col("token"))
    toks = tokenize(
        spread_small_input(docs, by="doc_id"), "text", "doc_id"
    ).select(
        "doc_id", F.conv(F.substring(h, 1, 4), 16, 10).cast("long").alias("x0")
    )
    ones = [
        F.sum(
            F.shiftright(F.col(f"x{pos_of(bit)[0]}"), pos_of(bit)[1]).bitwiseAND(
                F.lit(1)
            )
        ).alias(f"o{bit}")
        for bit in range(bits)
    ]
    votes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_nt"), *ones)
    sim = None
    for bit in range(bits):
        term = F.when(
            F.col(f"o{bit}") * 2 > F.col("_nt"),
            F.shiftleft(F.lit(1).cast("long"), bit),
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim.bitwiseOR(term)
    want = votes.select(F.col("doc_id"), sim.alias("simhash"))
    assert got.sameSemantics(want)
    assert got.schema == want.schema


def test_multimodal_withcolumns_batch_matches_chain(spark):
    # the two-batch withColumns form must execute identically to the
    # six-withColumn chain it replaced (dependency chain preserved:
    # length/derived cols read the REASSIGNED content)
    base = spark.createDataFrame(
        [(1, "abc", "cap"), (2, "xy", None)], "id long, content string, caps string"
    )
    f1 = F.upper(F.col("caps"))
    f2 = F.concat(F.col("content"), F.lit("!"))
    old = (
        base.withColumn("imageCaptions", f1)
        .withColumn("content", f2)
        .withColumn("length", F.length("content"))
        .withColumn("cv", F.length("imageCaptions"))
    )
    new = base.withColumns({"imageCaptions": f1, "content": f2}).withColumns(
        {"length": F.length("content"), "cv": F.length("imageCaptions")}
    )
    po = old._jdf.queryExecution().optimizedPlan()
    pn = new._jdf.queryExecution().optimizedPlan()
    assert po.sameResult(pn)
    assert old.schema == new.schema
    assert old.collect() == new.collect()


def test_zero_vec_expr_matches_literal_array(spark):
    from gpt_rag_ingestion_spark.chunking.multimodal_chunker import _zero_vec

    dim = 16
    zv_old = F.array(*[F.lit(0.0) for _ in range(dim)]).cast("array<float>")
    df = spark.range(1)
    a = df.select(zv_old.alias("z"))
    b = df.select(_zero_vec(dim).alias("z"))
    assert a.sameSemantics(b)
    assert a.schema == b.schema
