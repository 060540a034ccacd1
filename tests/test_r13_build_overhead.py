"""Equivalence pins for the r13 driver-overhead optimizations
(OPTIMIZATION_r13.md, second session): the _t scan-plan memo, the
DataFrame-debugging disable, and the SQL-text expression forms in the
dedup/multimodal builders (each proven equal to the Column-algebra
form it replaced)."""

from __future__ import annotations

import pytest
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
    if hasattr(eu, "_enable_debugging_cache"):
        assert eu._enable_debugging_cache is False


def test_minhash_expr_forms_match_column_forms(spark):
    from gpt_rag_ingestion_spark.operators.dedup import UH_PRIME, uh_a, uh_b

    df = spark.createDataFrame([(1, 5), (2, 9), (3, 12345)], "doc_id long, _x long")
    num_hashes = 16
    new = df.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({uh_a(i)} * _x + {uh_b(i)}) % {UH_PRIME}) AS mh_{i}")
            for i in range(num_hashes)
        ]
    )
    old = df.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(uh_a(i)) * F.col("_x") + F.lit(uh_b(i))) % F.lit(UH_PRIME)
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )
    assert new.sameSemantics(old)
    assert new.schema == old.schema

    # band structs (sha256uh r=2 base-P packing)
    bands, r = 8, 2
    bs_new = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {b}, 'band_hash',"
            f" mh_{2 * b} * {UH_PRIME} + mh_{2 * b + 1})"
            for b in range(bands)
        )
        + ")"
    )

    def band_hash_old(b):
        cols = [F.col(f"mh_{i}") for i in range(b * r, (b + 1) * r)]
        return cols[0] * F.lit(UH_PRIME) + cols[1]

    bs_old = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_hash_old(b).alias("band_hash"))
            for b in range(bands)
        ]
    )
    e_new = new.select("doc_id", F.explode(bs_new).alias("bb"))
    e_old = new.select("doc_id", F.explode(bs_old).alias("bb"))
    assert e_new.sameSemantics(e_old)
    assert e_new.schema == e_old.schema


def test_simhash_expr_forms_match_column_forms(spark):
    tok = spark.createDataFrame(
        [(1, 0xDEAD), (2, 0xBEEF), (3, 0x1234)], "doc_id long, x0 long"
    )
    bits, chunk_lens = 16, [4]

    def pos_of(bit):
        n = bit // 4
        c, m = n // 8, n % 8
        return c, 4 * (chunk_lens[c] - 1 - m) + (bit % 4)

    ones_new = [
        F.expr(f"sum(shiftright(x{pos_of(bit)[0]}, {pos_of(bit)[1]}) & 1) AS o{bit}")
        for bit in range(bits)
    ]
    ones_old = [
        F.sum(
            F.shiftright(F.col(f"x{pos_of(bit)[0]}"), pos_of(bit)[1]).bitwiseAND(
                F.lit(1)
            )
        ).alias(f"o{bit}")
        for bit in range(bits)
    ]
    va = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_nt"), *ones_new)
    vb = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_nt"), *ones_old)
    assert va.sameSemantics(vb)
    assert va.schema == vb.schema

    sim_new = F.expr(
        " | ".join(
            f"(CASE WHEN o{bit} * 2 > _nt"
            f" THEN shiftleft(CAST(1 AS BIGINT), {bit})"
            f" ELSE CAST(0 AS BIGINT) END)"
            for bit in range(bits)
        )
    )
    sim_old = None
    for bit in range(bits):
        term = F.when(
            F.col(f"o{bit}") * 2 > F.col("_nt"),
            F.shiftleft(F.lit(1).cast("long"), bit),
        ).otherwise(F.lit(0).cast("long"))
        sim_old = term if sim_old is None else sim_old.bitwiseOR(term)
    s1 = va.select("doc_id", sim_new.alias("simhash"))
    s2 = va.select("doc_id", sim_old.alias("simhash"))
    assert s1.sameSemantics(s2)
    assert s1.schema == s2.schema


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
    dim = 16
    zv_old = F.array(*[F.lit(0.0) for _ in range(dim)]).cast("array<float>")
    zv_new = F.expr(
        "CAST(array(" + ", ".join(["0.0D"] * dim) + ") AS ARRAY<FLOAT>)"
    )
    df = spark.range(1)
    a = df.select(zv_old.alias("z"))
    b = df.select(zv_new.alias("z"))
    assert a.sameSemantics(b)
    assert a.schema == b.schema
