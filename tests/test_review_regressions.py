"""Regression tests for review findings: cross-document figure joins,
unsanitized freshness keys, 0-frame videos, JSON chunker validity with
oversize scalars, single-vector KNN corpus, salted-join how guard."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.chunking.json_chunker import chunk_json_text
from gpt_rag_ingestion_spark.chunking.multimodal_chunker import (
    chunk_multimodal_documents,
)
from gpt_rag_ingestion_spark.operators.multimodal import frame_sample_plan
from gpt_rag_ingestion_spark.operators.similarity import quantized_dot_top1
from gpt_rag_ingestion_spark.operators.skew import salted_join
from gpt_rag_ingestion_spark.operators.snapshot_table import read_snapshot_table
from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job


def test_figures_do_not_cross_documents(spark):
    """Two docs each with <figure>…</figure> (both become figure id 1):
    captions must stay within their own document."""
    docs = spark.createDataFrame(
        [
            ("docA", "intro " * 30 + "<figure>chart A</figure> " + "tail " * 5),
            ("docB", "intro " * 30 + "<figure>chart B</figure> " + "tail " * 5),
        ],
        ["doc_key", "markdown"],
    )
    square = [0.0, 0.0, 5.0, 0.0, 5.0, 5.0, 0.0, 5.0]
    figures = spark.createDataFrame(
        [
            ("docA", "1", square, 10.0, 10.0, b"A-bytes", "imgs/a.png"),
            ("docB", "1", square, 10.0, 10.0, b"B-bytes", "imgs/b.png"),
        ],
        "doc_key STRING, figure_id STRING, polygon ARRAY<DOUBLE>, "
        "page_width DOUBLE, page_height DOUBLE, image BINARY, image_url STRING",
    )
    out = chunk_multimodal_documents(
        docs, figures, max_tokens=200, overlap=5, min_tokens=1, embedding_dim=8
    ).collect()
    for r in out:
        if r["relatedImages"]:
            assert len(r["relatedImages"]) == 1  # never the other doc's image
            expected = "imgs/a.png" if r["parent_id"] == "docA" else "imgs/b.png"
            assert r["relatedImages"] == [expected]


def test_ingest_job_sanitized_keys_stable(spark, tmp_path):
    """A doc key needing sanitization ('docs/a.pdf') must NOT re-ingest
    on an identical re-run (the watermark join must hit)."""
    table = str(tmp_path / "chunks")
    t0 = dt.datetime.fromisoformat("2024-01-01T00:00:00")
    docs = spark.createDataFrame(
        [("docs/a.pdf", "alpha " * 40, t0)],
        "doc_key STRING, text STRING, last_modified TIMESTAMP",
    )
    kw = dict(max_tokens=30, overlap=4, min_tokens=2, embedding_dim=8)
    s1 = run_ingest_job(spark, docs, table, "r1", **kw).collect()[0]
    assert s1["sourceFiles"] == 1
    # timestamps carried through (the join hit despite sanitization)
    tbl = read_snapshot_table(spark, table)
    assert tbl.filter(F.col("metadata_storage_last_modified").isNull()).count() == 0
    s2 = run_ingest_job(spark, docs, table, "r2", **kw).collect()
    assert s2 == [] or s2[0]["sourceFiles"] == 0  # no eternal re-ingest


def test_frame_sample_zero_frames(spark):
    media = spark.createDataFrame(
        [("v0", "video", (0,)), ("v1", "video", (5,))],
        "media_id STRING, modality STRING, meta STRUCT<n_frames: INT>",
    )
    got = sorted(
        (r["media_id"], r["frame_index"])
        for r in frame_sample_plan(media, every_nth=10).collect()
    )
    assert got == [("v0", 0), ("v1", 0)]  # no crash on 0-frame video


def test_json_chunker_giant_string_parts_valid():
    text = "lorem ipsum dolor " * 300
    obj = {"note": text}
    parts = chunk_json_text(json.dumps(obj), max_tokens=50)
    assert len(parts) > 1
    total = ""
    for p in parts:
        v = json.loads(p)  # every part valid JSON even for scalar splits
        assert isinstance(v, dict)
        assert list(v) == ["note"]  # key preserved through recursion
        total += v["note"]
    assert total == text


def test_knn_single_vector_corpus(spark):
    one = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    assert quantized_dot_top1(one).count() == 0  # no sentinel self-pair


def test_salted_join_rejects_right_join(spark):
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    with pytest.raises(ValueError):
        salted_join(df, df, "k", how="right")


def test_events_ts_unit_detection(spark, tmp_path):
    """The driver's events.parquet has shipped as TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) in different rounds — _t must read both to the
    same instants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod

    base = entry_mod._t(spark, "/root/testdata/sf0.001", "events")
    want = {
        (r["event_id"], r["ts"]) for r in base.select("event_id", "ts").collect()
    }

    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    i = src.schema.get_field_index("ts")
    ns = src.set_column(
        i, pa.field("ts", pa.timestamp("ns")), src.column("ts").cast(pa.timestamp("ns"))
    )
    nsdir = tmp_path / "ns"
    nsdir.mkdir()
    pq.write_table(ns, str(nsdir / "events.parquet"), use_deprecated_int96_timestamps=False)
    got = {
        (r["event_id"], r["ts"])
        for r in entry_mod._t(spark, str(nsdir), "events")
        .select("event_id", "ts")
        .collect()
    }
    assert entry_mod._events_ts_unit(str(nsdir)) == "ns"
    assert got == want


def test_unblock_files_custom_ts_col(spark):
    """Review finding: unblock_files hardcoded 'attempt_ts'; a caller
    with another timestamp column got an AnalysisException (or a marker
    with its real ts column nulled)."""
    from gpt_rag_ingestion_spark.operators.ops_log import (
        blocked_files,
        unblock_files,
    )

    _t = dt.datetime.fromisoformat
    attempts = spark.createDataFrame(
        [("f1", "failed", _t(f"2024-01-01T00:00:0{i}")) for i in range(3)],
        "file_key STRING, status STRING, tried_at TIMESTAMP",
    )
    assert blocked_files(attempts, ts_col="tried_at").count() == 1
    after = unblock_files(
        attempts, spark.createDataFrame([("f1",)], ["file_key"]),
        ts_col="tried_at",
    )
    marker = after.filter(F.col("status") == "success").collect()
    assert len(marker) == 1
    assert marker[0]["tried_at"] == _t("2024-01-01T00:00:02")
    assert blocked_files(after, ts_col="tried_at").count() == 0


def test_chunk_carry_dedup_and_collision_guard(spark):
    """Review finding: passing doc_key_col again in carry_cols built a
    duplicate-field mapInPandas schema; a carry column named like a
    chunk output column silently overwrote it."""
    from gpt_rag_ingestion_spark.chunking.pipeline import chunk_documents

    docs = spark.createDataFrame(
        [("d1", "alpha " * 40, "s1")], ["doc_id", "text", "source"]
    )
    out = chunk_documents(
        docs, doc_key_col="doc_id", carry_cols=["doc_id", "source"],
        max_tokens=20, overlap=2, min_tokens=2, embedding_dim=4,
    )
    assert sorted(out.columns) == sorted(set(out.columns))  # no dup fields
    rows = out.collect()
    assert rows and all(r["doc_id"] == "d1" and r["source"] == "s1" for r in rows)

    with pytest.raises(ValueError, match="collide"):
        chunk_documents(
            docs.withColumnRenamed("source", "content"),
            doc_key_col="doc_id", source_col=None, carry_cols=["content"],
            max_tokens=20, overlap=2, min_tokens=2, embedding_dim=4,
        ).collect()


def test_tiled_cogroup_covers_all_queries_multi_partition(spark):
    """Round-3 bug: tiled_block_pairs produced INT block ids on one
    side of the cogroup and BIGINT on the other; the mismatched key
    types hash-partition the two frames differently, silently pairing
    whole query blocks with an empty corpus side once the data spans
    multiple shuffle partitions.  2000 vectors (multiple partitions at
    32 shuffle partitions) must all surface in the exact top-k."""
    import numpy as np

    from gpt_rag_ingestion_spark.operators.similarity import (
        quantized_dot_topk,
        tiled_block_pairs,
    )

    n, dim = 2000, 8
    rng = np.random.default_rng(7)
    V = rng.normal(size=(n, dim)).astype("float32")
    emb = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).repartition(16)
    c, q = tiled_block_pairs(emb, emb, 256, "vec_id", "embedding")
    assert dict(c.dtypes)["qb"] == dict(q.dtypes)["qb"] == "bigint"
    assert dict(c.dtypes)["ct"] == dict(q.dtypes)["ct"] == "bigint"
    out = quantized_dot_topk(emb, k=5)
    assert out.select("vec_id").distinct().count() == n
    assert out.count() == n * 5
