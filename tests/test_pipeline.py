"""End-to-end pipeline + multimodal plumbing tests (SURVEY.md §3.1, §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.chunking.pipeline import chunk_documents
from gpt_rag_ingestion_spark.operators.multimodal import (
    decode_image_stub,
    extract_media_features,
)

SF = "/root/testdata/sf0.001"


def test_chunk_documents_deterministic(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = chunk_documents(docs, max_tokens=64, overlap=8, min_tokens=4).collect()
    b = chunk_documents(docs, max_tokens=64, overlap=8, min_tokens=4).collect()
    ka = sorted((r["id"], r["content"], tuple(r["contentVector"])) for r in a)
    kb = sorted((r["id"], r["content"], tuple(r["contentVector"])) for r in b)
    assert ka == kb
    assert len(ka) > 0


def test_chunk_documents_ids_unique_and_formatted(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = chunk_documents(docs, max_tokens=64, overlap=8, min_tokens=4)
    rows = out.collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert all("-c" in i for i in ids)
    # embeddings are unit-norm 64-dim
    v = rows[0]["contentVector"]
    assert len(v) == 64
    assert abs(sum(x * x for x in v) - 1.0) < 1e-3


def test_chunk_documents_rejects_non_additive_separators_before_any_job(spark):
    # the docs come from a file scan, so even a plan-time probe of them
    # would run a Spark job
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match="word character"):
        chunk_documents(docs, separators=["ab", " "])
    assert set(tracker.getJobIdsForGroup(None)) <= before


def test_entry_contract(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0


def test_media_stub_raises_without_fake():
    import importlib.util

    if importlib.util.find_spec("PIL") is not None:
        pytest.skip("PIL installed: the real decode branch applies "
                    "(covered by tests/test_optional_deps.py)")
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"payload")


def test_resize_images_stub(spark):
    import hashlib

    from gpt_rag_ingestion_spark.operators.multimodal import resize_images_stub

    media = spark.createDataFrame(
        [("m1", b"img-bytes"), ("m2", None)], "media_id STRING, payload BINARY"
    )
    out = {r["media_id"]: r for r in resize_images_stub(media, 256, 128).collect()}
    assert out["m1"]["target_width"] == 256
    expected = hashlib.sha256(b"img-bytes" + b":256x128").digest()
    assert bytes(out["m1"]["payload"]) == expected
    assert out["m1"]["payload_sha256"] == hashlib.sha256(expected).hexdigest()
    assert out["m2"]["payload"] is not None  # null payload -> empty-bytes path


def test_rolling_fingerprint_order_sensitive(spark):
    from gpt_rag_ingestion_spark.operators.text_analysis import rolling_fingerprint

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["rolling_fp"] for r in rolling_fingerprint(df).collect()}
    assert fp[1] == fp[3]  # identical docs match
    assert fp[1] != fp[2]  # same bag of words, different order -> different print


def test_frame_sample_plan(spark):
    from gpt_rag_ingestion_spark.operators.multimodal import frame_sample_plan

    media = spark.createDataFrame(
        [("v1", "video", (25,)), ("v2", "video", (3,)), ("i1", "image", (1,))],
        "media_id STRING, modality STRING, meta STRUCT<n_frames: INT>",
    )
    out = frame_sample_plan(media, every_nth=10).collect()
    got = sorted((r["media_id"], r["frame_index"]) for r in out)
    # v1: frames 0,10,20; v2: frame 0; image excluded
    assert got == [("v1", 0), ("v1", 10), ("v1", 20), ("v2", 0)]


def test_extract_media_features(spark):
    media = spark.createDataFrame(
        [("m1", "image", b"some-bytes"), ("m2", "image", b"")],
        ["media_id", "modality", "payload"],
    )
    out = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert out["m1"]["payload_bytes"] == 10
    assert out["m2"]["payload_bytes"] == 0
    assert 64 <= out["m1"]["width"] <= 64 + 255
    import hashlib

    assert out["m1"]["payload_sha256"] == hashlib.sha256(b"some-bytes").hexdigest()
