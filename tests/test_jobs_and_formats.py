"""Tests: end-to-end ingest job, factory dispatch, NL2SQL chunker,
markdown helpers, JSON kind-routed source."""

from __future__ import annotations

import pytest

import datetime as dt
import json

from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.chunking.factory import tag_chunkers
from gpt_rag_ingestion_spark.chunking.nl2sql_chunker import chunk_nl2sql_text
from gpt_rag_ingestion_spark.functions.markdown import (
    extract_tables,
    fields_to_text,
    number_figures,
    restore_tables,
)
from gpt_rag_ingestion_spark.operators import batch_manifest as bm
from gpt_rag_ingestion_spark.operators.incremental import ROLLUP
from gpt_rag_ingestion_spark.operators.snapshot_table import read_snapshot_table
from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job
from gpt_rag_ingestion_spark.sources.binary_docs import (
    read_binary_documents,
    read_json_kind_routed,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_key STRING, text STRING, last_modified TIMESTAMP"
    )


def test_ingest_job_incremental_end_to_end(spark, tmp_path):
    """§3.1: first run ingests all; re-run ingests nothing; a newer doc
    re-ingests only itself (delete-then-insert)."""
    table = str(tmp_path / "chunks")
    t0 = _ts("2024-01-01T00:00:00")
    batch1 = _docs(
        spark,
        [("d1", "alpha " * 40, t0), ("d2", "beta " * 40, t0)],
    )
    s1 = run_ingest_job(
        spark, batch1, table, "run1", max_tokens=30, overlap=4, min_tokens=2,
        embedding_dim=8,
    ).collect()[0]
    assert s1["sourceFiles"] == 2
    n1 = read_snapshot_table(spark, table).count()
    assert n1 > 0

    # identical re-run: freshness filter keeps nothing
    s2 = run_ingest_job(
        spark, batch1, table, "run2", max_tokens=30, overlap=4, min_tokens=2,
        embedding_dim=8,
    ).collect()
    assert s2 == [] or s2[0]["sourceFiles"] == 0
    assert read_snapshot_table(spark, table).count() == n1

    # d1 modified (newer by > 1s): only d1 reprocessed, d2 rows untouched
    t2 = _ts("2024-01-02T00:00:00")
    batch2 = _docs(spark, [("d1", "gamma " * 40, t2), ("d2", "beta " * 40, t0)])
    s3 = run_ingest_job(
        spark, batch2, table, "run3", max_tokens=30, overlap=4, min_tokens=2,
        embedding_dim=8,
    ).collect()[0]
    assert s3["sourceFiles"] == 1
    final = read_snapshot_table(spark, table)
    d1_contents = " ".join(
        r["content"] for r in final.filter(F.col("parent_id") == "d1").collect()
    )
    assert "gamma" in d1_contents and "alpha" not in d1_contents
    assert final.filter(F.col("parent_id") == "d2").count() > 0


def test_ingest_job_blocklist_path(spark, tmp_path):
    """P3 in the composed job: blocked files are skipped entirely."""
    table = str(tmp_path / "chunks")
    t0 = _ts("2024-01-01T00:00:00")
    docs = _docs(
        spark, [("good", "alpha " * 40, t0), ("bad", "beta " * 40, t0)]
    )
    blocked = spark.createDataFrame([("bad",)], ["file_key"])
    s = run_ingest_job(
        spark, docs, table, "r1", blocked=blocked, max_tokens=30, overlap=4,
        min_tokens=2, embedding_dim=8,
    ).collect()[0]
    assert s["sourceFiles"] == 1
    parents = {
        r["parent_id"] for r in read_snapshot_table(spark, table).select("parent_id").collect()
    }
    assert parents == {"good"}


def test_ingest_job_populates_ops_structs(spark, tmp_path):
    """A4/A5 in the composed job (reference blob_storage_indexer.py:
    598-678): per-file ops rows carry POPULATED timings/costEstimate
    structs; a run-level row carries the job-phase wall timings.  The
    timed kernel commits exactly the chunks an untimed run commits, on
    a listing mixing ASCII, non-ASCII, zero-chunk and NULL-text docs."""
    table = str(tmp_path / "chunks")
    ops = str(tmp_path / "ops")
    t0 = _ts("2024-01-01T00:00:00")
    docs = _docs(
        spark,
        [
            ("d1", "alpha " * 40, t0),
            ("d2", "beta " * 40, t0),
            ("d3", "Ça été déjà vu. 東京は首都です。 Привет мир! " * 8, t0),
            ("d4", "x", t0),  # below min_tokens: no chunks
            ("d5", None, t0),
        ],
    )
    kw = dict(max_tokens=30, overlap=4, min_tokens=2, embedding_dim=8)
    run_ingest_job(spark, docs, table, "run1", ops_table_path=ops, **kw)
    ops_rows = spark.read.parquet(ops).collect()
    per_file = [r for r in ops_rows if r["file_key"] is not None]
    run_rows = [r for r in ops_rows if r["file_key"] is None]
    assert {r["file_key"] for r in per_file} == {"d1", "d2", "d3"}
    for r in per_file:
        assert r["timings"] is not None
        assert r["timings"]["chunkEmbedSec"] is not None
        assert r["timings"]["chunkEmbedSec"] >= 0
        ce = r["costEstimate"]
        assert ce is not None and ce["embeddingTokens"] > 0
        # reference cost model applied to the usage columns
        assert ce["totalUSD"] == round(
            ce["pagesAnalyzed"] * 0.01 + ce["embeddingTokens"] / 1000 * 0.00013, 4
        )
        assert r["chunks"] > 0 and r["status"] == "success"
    assert len(run_rows) == 1
    rt = run_rows[0]["timings"]
    assert rt["indexUploadSec"] is not None and rt["totalSec"] is not None
    assert rt["totalSec"] >= rt["indexUploadSec"]
    # the ops-only timing column never leaks into the chunks table
    assert "_chunk_sec" not in read_snapshot_table(spark, table).columns

    # the same listing without the ops log commits the same chunks
    untimed = str(tmp_path / "untimed")
    run_ingest_job(spark, docs, untimed, "run1", **kw)

    def committed(path):
        return sorted(
            (r["id"], r["content"], list(r["contentVector"]))
            for r in read_snapshot_table(spark, path)
            .select("id", "content", "contentVector")
            .collect()
        )

    got = committed(table)
    assert got == committed(untimed)
    assert {i.split("-c")[0] for i, _, _ in got} == {"d1", "d2", "d3"}


def test_guid_validation(spark):
    """F25 (reference sharepoint_graph_client.py:384-390)."""
    from gpt_rag_ingestion_spark.functions.keys import is_valid_guid

    df = spark.createDataFrame(
        [
            ("0f8fad5b-d9cb-469f-a165-70867728950e",),
            ("0F8FAD5B-D9CB-469F-A165-70867728950E",),
            ("not-a-guid",),
            ("0f8fad5bd9cb469fa16570867728950e",),
            ("",),
        ],
        ["g"],
    )
    got = [r["ok"] for r in df.select(is_valid_guid("g").alias("ok")).collect()]
    assert got == [True, True, False, False, False]


def test_factory_dispatch(spark):
    df = spark.createDataFrame(
        [("a.pdf",), ("b.MD",), ("c.xlsx",), ("d.vtt",), ("e.json",),
         ("f.nl2sql",), ("g.zip",)],
        ["name"],
    ).withColumn("extension", F.element_at(F.split("name", "\\."), -1))
    tagged = {r["name"]: r["chunker"] for r in tag_chunkers(df).collect()}
    assert tagged == {
        "a.pdf": "doc_analysis",
        "b.MD": "langchain",
        "c.xlsx": "spreadsheet",
        "d.vtt": "transcription",
        "e.json": "json",
        "f.nl2sql": "nl2sql",
        # reference chunker_factory.py:71-72: unknown extensions fall
        # back to LangChainChunker (the P4 allow-list filters upstream)
        "g.zip": "langchain",
    }


def test_nl2sql_chunker():
    doc = {
        "q1": {"question": "total sales?", "query": "SELECT 1"},
        "q2": {"query": "SELECT 2"},
    }
    chunks = chunk_nl2sql_text(json.dumps(doc))
    assert len(chunks) == 2
    assert chunks[0]["key"] == "q1"
    assert chunks[0]["embed_text"] == "total sales?"  # question embedded
    assert json.loads(chunks[0]["content"])["query"] == "SELECT 1"
    assert chunks[1]["embed_text"] == chunks[1]["content"]  # no question
    assert chunk_nl2sql_text("broken{") == []


def test_table_placeholder_roundtrip():
    text = "before <table><tr><td>x</td></tr></table> after"
    swapped, tables = extract_tables(text)
    assert "<table>" not in swapped
    assert len(tables) == 1
    assert restore_tables(swapped, tables) == text


def test_number_figures_sequential():
    text = "a <figure>one</figure> b <figure>two</figure>"
    out, nxt = number_figures(text)
    assert "<figure1>one</figure1>" in out
    assert "<figure2>two</figure2>" in out
    assert nxt == 3


def test_fields_to_text():
    body = fields_to_text(
        {"Title": "Doc", "Tags": ["a", "b"], "Meta": {"x": 1}, "Empty": "",
         "Skip": "no"},
        exclude={"Skip"},
    )
    lines = body.splitlines()
    assert lines[0] == "Title: Doc"
    assert lines[1] == "Tags: a, b"
    assert lines[2] == 'Meta: {"x": 1}'
    assert len(lines) == 3


def test_read_binary_documents(spark, tmp_path):
    (tmp_path / "a.md").write_text("hello")
    (tmp_path / "empty.md").write_text("")
    (tmp_path / "b.txt").write_text("world")
    out = read_binary_documents(spark, str(tmp_path), glob="*.md")
    rows = out.collect()
    # empty file (dir-marker analog) skipped; glob filters .txt
    assert [r["file_name"] for r in rows] == ["a.md"]
    assert rows[0]["bytes"] == b"hello"
    assert rows[0]["extension"] == "md"
    assert rows[0]["deferred"] is False


def test_giant_file_deferred_payload(spark, tmp_path):
    """S2: files above the inline threshold scan as listing-only rows
    (NULL bytes) and are opened by path inside the processing task —
    the reference's >10 MB temp-file spill analog
    (blob_storage_indexer.py:562-579)."""
    from gpt_rag_ingestion_spark.sources.binary_docs import (
        open_deferred_payloads,
    )

    small = b"tiny payload"
    giant = b"G" * 4096
    (tmp_path / "small.bin").write_bytes(small)
    (tmp_path / "giant.bin").write_bytes(giant)
    out = read_binary_documents(
        spark, str(tmp_path), max_inline_bytes=1024
    )
    rows = {r["file_name"]: r for r in out.collect()}
    assert rows["small.bin"]["bytes"] == small
    assert rows["small.bin"]["deferred"] is False
    assert rows["giant.bin"]["bytes"] is None  # payload never scanned
    assert rows["giant.bin"]["deferred"] is True

    filled = {
        r["file_name"]: r
        for r in open_deferred_payloads(out).collect()
    }
    assert filled["giant.bin"]["bytes"] == giant
    assert filled["small.bin"]["bytes"] == small


def test_read_site_configs(spark, tmp_path):
    """S8: packaged config scan with the type filter."""
    from gpt_rag_ingestion_spark.sources.binary_docs import read_site_configs

    cfg = [
        {"id": "1", "type": "sharepoint_site", "siteDomain": "contoso"},
        {"id": "2", "type": "other", "siteDomain": "x"},
    ]
    (tmp_path / "cfg.json").write_text(json.dumps(cfg))
    out = read_site_configs(spark, str(tmp_path / "cfg.json"))
    rows = out.collect()
    assert [r["id"] for r in rows] == ["1"]
    assert rows[0]["siteDomain"] == "contoso"


def test_read_json_kind_routed(spark, tmp_path):
    for kind in ("queries", "tables"):
        d = tmp_path / kind
        d.mkdir()
        (d / "x.json").write_text(json.dumps({"id": f"{kind}-1"}))
    out = read_json_kind_routed(spark, str(tmp_path), ["queries", "tables"])
    got = {(r["kind"], r["id"]) for r in out.collect()}
    assert got == {("queries", "queries-1"), ("tables", "tables-1")}


def test_ingest_job_incremental_rollup_maintenance(spark, tmp_path):
    """IVM in the composed job: the per-parent rollup maintained as
    old + added - removed across three runs equals a fresh recompute
    over the chunks table after every run."""
    table = str(tmp_path / "chunks")
    rollup = str(tmp_path / "rollup")
    kw = dict(max_tokens=30, overlap=4, min_tokens=2, embedding_dim=8,
              rollup_path=rollup)
    t0 = _ts("2024-01-01T00:00:00")
    t1 = _ts("2024-01-02T00:00:00")
    t2 = _ts("2024-01-03T00:00:00")

    def recompute():
        t = read_snapshot_table(spark, table)
        return sorted(
            map(
                tuple,
                t.groupBy("parent_id")
                .agg(
                    F.count(F.lit(1)).alias("n_chunks"),
                    F.sum(F.length("content").cast("long")).alias("chars"),
                )
                .collect(),
            )
        )

    def maintained():
        return sorted(map(tuple, bm.read_store(spark, rollup, ROLLUP).collect()))

    run_ingest_job(
        spark, _docs(spark, [("d1", "alpha " * 40, t0), ("d2", "beta " * 40, t0)]),
        table, "r1", **kw,
    )
    assert maintained() == recompute()

    # d1 replaced with different-sized text, d3 added
    run_ingest_job(
        spark,
        _docs(spark, [("d1", "gamma " * 80, t1), ("d2", "beta " * 40, t0),
                      ("d3", "delta " * 20, t1)]),
        table, "r2", **kw,
    )
    assert maintained() == recompute()

    # no-change run: rollup still correct (nothing staged)
    run_ingest_job(
        spark,
        _docs(spark, [("d1", "gamma " * 80, t1), ("d2", "beta " * 40, t0),
                      ("d3", "delta " * 20, t1)]),
        table, "r3", **kw,
    )
    assert maintained() == recompute()

    # d2 shrinks
    run_ingest_job(
        spark, _docs(spark, [("d2", "tiny text here", t2)]), table, "r4", **kw,
    )
    assert maintained() == recompute()


def test_rollup_left_behind_by_a_crash_is_brought_level(
    spark, tmp_path, monkeypatch
):
    """A crash at the rollup's commit, after the chunks merge landed,
    leaves the rollup one tick behind its table.  The next run, with
    unchanged documents and so no candidates, finds the rollup's
    ``applied_gen`` behind the table's generation and rebuilds it by
    one recompute; a maintenance sweep over the level rollup is then a
    no-op (both modes keep the same cursor)."""
    from gpt_rag_ingestion_spark.operators import snapshot_table as S
    from gpt_rag_ingestion_spark.operators.incremental import (
        maintain_snapshot_rollup,
    )

    table = str(tmp_path / "chunks")
    rollup = str(tmp_path / "rollup")
    kw = dict(max_tokens=30, overlap=4, min_tokens=2, embedding_dim=8,
              rollup_path=rollup)
    t0 = _ts("2024-01-01T00:00:00")
    t1 = _ts("2024-01-02T00:00:00")

    def recompute():
        return sorted(
            tuple(r)
            for r in read_snapshot_table(spark, table)
            .groupBy("parent_id")
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum(F.length("content").cast("long")).alias("chars"),
            )
            .collect()
        )

    def maintained():
        return sorted(map(tuple, bm.read_store(spark, rollup, ROLLUP).collect()))

    run_ingest_job(
        spark, _docs(spark, [("d1", "alpha " * 40, t0), ("d2", "beta " * 40, t0)]),
        table, "r1", **kw,
    )
    docs2 = _docs(spark, [("d1", "gamma " * 80, t1), ("d2", "beta " * 40, t0),
                          ("d3", "delta " * 20, t1)])

    real = S._write_text

    def crash(spark_, path, text):
        if path == f"{rollup}/_current__tmp":
            raise RuntimeError("injected crash")
        return real(spark_, path, text)

    with monkeypatch.context() as m:
        m.setattr(S, "_write_text", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_ingest_job(spark, docs2, table, "r2", **kw)
    assert maintained() != recompute()  # the merge landed, the rollup did not

    run_ingest_job(spark, docs2, table, "r3", **kw)
    assert maintained() == recompute()
    out = maintain_snapshot_rollup(spark, table, rollup)
    assert out["mode"] == "noop"
    assert maintained() == recompute()


def test_web_corpus_job_two_batches(spark, tmp_path):
    """The web-corpus loop: batch 1 admits fresh pages (minus the
    blocklist/quality/dup gates); batch 2 is mostly repeats of batch 1
    and must be rejected AGAINST THE CORPUS, not just within itself."""
    from gpt_rag_ingestion_spark.plans.web_corpus_job import (
        run_web_corpus_job,
    )

    corpus = str(tmp_path / "corpus")
    shards1 = str(tmp_path / "s1")
    shards2 = str(tmp_path / "s2")

    def url(i, dom):
        return f"https://www.{dom}/page/{i}?utm_source=crawl"

    b1 = spark.createDataFrame(
        [
            (1, url(1, "good.org"), "unique page text one " * 20),
            (2, url(2, "good.org"), "unique page text two " * 20),
            (3, url(3, "spam.biz"), "spam spam spam " * 30),      # blocked
            (4, url(4, "good.org"), "tiny"),                       # low quality
            (5, url(5, "other.net"), "unique page text one " * 20),  # dup of 1 in batch
        ],
        "doc_id long, url string, text string",
    )
    a1 = {
        r["doc_id"]: (r["disposition"], r["dup_of"])
        for r in run_web_corpus_job(
            spark, b1, corpus, shards1, blocked_domains=["spam.biz"],
            min_chars=50,
        ).collect()
    }
    assert a1[1] == ("admitted", None)
    assert a1[2] == ("admitted", None)
    assert a1[3] == ("blocked_domain", None)
    assert a1[4] == ("low_quality", None)
    assert a1[5] == ("exact_dup_batch", 1)
    tbl = read_snapshot_table(spark, corpus)
    assert sorted(r["doc_id"] for r in tbl.collect()) == [1, 2]

    # batch 2: exact repeat of 1, near-dup of 2, and one new page
    b2 = spark.createDataFrame(
        [
            (11, url(11, "good.org"), "unique page text one " * 20),
            (12, url(12, "good.org"),
             "unique page text two " * 19 + "unique page text tw0 "),
            (13, url(13, "fresh.io"), "entirely new material here " * 15),
        ],
        "doc_id long, url string, text string",
    )
    a2 = {
        r["doc_id"]: (r["disposition"], r["dup_of"])
        for r in run_web_corpus_job(
            spark, b2, corpus, shards2, blocked_domains=["spam.biz"],
            min_chars=50,
        ).collect()
    }
    assert a2[11] == ("exact_dup_base", 1)
    assert a2[12] == ("near_dup_base", 2)
    assert a2[13] == ("admitted", None)
    tbl2 = read_snapshot_table(spark, corpus)
    assert sorted(r["doc_id"] for r in tbl2.collect()) == [1, 2, 13]
    # shards from batch 2 hold ONLY the admitted doc
    s2 = spark.read.parquet(shards2)
    assert [r["doc_id"] for r in s2.collect()] == [13]


def test_domain_cap_two_phase_matches_raw_window(spark, tmp_path):
    """Round-3 brief #2: the per-domain cap is now a two-phase guard
    (count-gate + md5-prefix-bucket-decomposed rank) instead of a raw
    Window.partitionBy(domain).  Dispositions must be IDENTICAL to the
    raw window's on a skewed batch where one domain dominates."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.plans.web_corpus_job import (
        run_web_corpus_job,
    )

    rows = []
    for i in range(60):  # hot domain: 60 rows, cap 10 -> 50 over_cap
        rows.append((i, f"https://hot.example/p{i}", f"hot page body {i} " * 10))
    for i in range(60, 66):  # cool domain: under cap, never ranked
        rows.append((i, f"https://cool.example/p{i}", f"cool page body {i} " * 10))
    batch = spark.createDataFrame(rows, "doc_id long, url string, text string")

    got = {
        r["doc_id"]: r["disposition"]
        for r in run_web_corpus_job(
            spark, batch, str(tmp_path / "corpus"), str(tmp_path / "shards"),
            min_chars=10, cap_per_domain=10,
        ).collect()
    }
    # raw-window reference, computed independently in the test
    from gpt_rag_ingestion_spark.functions.urls import url_domain

    ref = (
        batch.withColumn("domain", url_domain(F.col("url")))
        .withColumn(
            "_rank",
            F.row_number().over(
                Window.partitionBy("domain").orderBy(
                    F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
                )
            ),
        )
        .collect()
    )
    for r in ref:
        want = "over_cap" if r["_rank"] > 10 else "admitted"
        assert got[r["doc_id"]] == want, (r["doc_id"], got[r["doc_id"]], want)
    assert sum(1 for v in got.values() if v == "over_cap") == 50


@pytest.mark.slow
def test_web_corpus_sidecar_bootstrap_indexes_existing_corpus(spark, tmp_path):
    """Review finding: enabling sidecar_path on a PRE-EXISTING corpus
    must index what is already there — a later copy of an old corpus
    doc must classify exact_dup_base, not 'new'."""
    from pyspark.sql import functions as F  # noqa: F401

    from gpt_rag_ingestion_spark.plans.web_corpus_job import run_web_corpus_job

    corpus = str(tmp_path / "corpus")
    side = str(tmp_path / "sidecar")
    # corpus built BEFORE the sidecar existed
    b0 = spark.createDataFrame(
        [(100, "https://a.example/x", "hello world " * 20)],
        "doc_id LONG, url STRING, text STRING",
    )
    run_web_corpus_job(spark, b0, corpus, str(tmp_path / "s0"), min_chars=10)

    # first sidecar-enabled batch: admits doc 101, bootstraps sidecar
    b1 = spark.createDataFrame(
        [(101, "https://b.example/y", "fresh content " * 20)],
        "doc_id LONG, url STRING, text STRING",
    )
    run_web_corpus_job(
        spark, b1, corpus, str(tmp_path / "s1"), min_chars=10,
        sidecar_path=side, batch_label="b1",
    )

    # a verbatim copy of the PRE-SIDECAR doc must be caught
    b2 = spark.createDataFrame(
        [(102, "https://c.example/z", "hello world " * 20)],
        "doc_id LONG, url STRING, text STRING",
    )
    audit = run_web_corpus_job(
        spark, b2, corpus, str(tmp_path / "s2"), min_chars=10,
        sidecar_path=side, batch_label="b2",
    ).collect()
    assert audit[0]["disposition"] == "exact_dup_base"
    assert audit[0]["dup_of"] == 100
    assert read_snapshot_table(spark, corpus).count() == 2


def test_ingest_job_snapshot_sink_stats_and_analyze(spark, tmp_path):
    """r6 judge brief #7: the snapshot sink's statistics tiers run in
    the JOB's steady state, not only in gate queries — write-time
    file stats + blooms from the first generation, staleness-triggered
    ANALYZE after each merge, and a downstream range read that prunes
    files from commit metadata while returning exactly the plain
    filter's rows."""
    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    table = str(tmp_path / "chunks_snap")
    t0 = _ts("2026-01-01T00:00:00")
    t1 = _ts("2026-02-01T00:00:00")
    kw = dict(
        max_tokens=16, overlap=2, min_tokens=2, embedding_dim=8,
        stats_cols=["metadata_storage_last_modified"],
        bloom_key="parent_id",
        analyze_max_stale=1,
    )
    run_ingest_job(
        spark,
        _docs(spark, [("a1", "cat dog " * 30, t0), ("a2", "fish stone " * 30, t0)]),
        table, "r1", **kw,
    )
    run_ingest_job(
        spark,
        _docs(spark, [("b1", "tree bird " * 30, t1), ("b2", "house mouse " * 30, t1)]),
        table, "r2", **kw,
    )
    got = S.read_snapshot_table(spark, table)
    assert got.select("parent_id").distinct().count() == 4

    # range read: only run-2 files are opened (run-1 maxes at t0 < t1)
    rep: dict = {}
    pruned = S.snapshot_read_where(
        spark, table,
        {"metadata_storage_last_modified": (t1, None)},
        report=rep,
    )
    want = sorted(
        (r["id"], r["content"])
        for r in got.filter(
            F.col("metadata_storage_last_modified") >= F.lit(t1)
        ).collect()
    )
    assert sorted((r["id"], r["content"]) for r in pruned.collect()) == want
    assert rep["files_skipped"] > 0, rep

    # bloom point lookup: fewer files than total, exact rows
    rep2: dict = {}
    pt = S.snapshot_read_point(spark, table, "parent_id", ["b1"], report=rep2)
    assert pt.count() == got.filter("parent_id = 'b1'").count() > 0
    assert rep2["files_read"] < rep2["files_total"], rep2

    # steady-state ANALYZE ran at the current pointer
    st = S.snapshot_table_stats(spark, table)
    assert st is not None and st["stale"] is False
    assert st["columns"]["metadata_storage_last_modified"]["nulls"] == 0

    # freshness via the snapshot read: identical replay commits nothing
    gen_before = S._current_gen(spark, table)
    run_ingest_job(
        spark,
        _docs(spark, [("b1", "tree bird " * 30, t1)]),
        table, "r3", **kw,
    )
    assert S._current_gen(spark, table) == gen_before


def test_jsonl_quarantine_split(spark, tmp_path):
    """Corrupt-record quarantine: malformed lines and type conflicts
    land in the quarantine frame with their source file, parseable
    rows (including partial/null fields) stay good, and the persisted
    quarantine parquet matches."""
    from gpt_rag_ingestion_spark.sources.binary_docs import (
        read_jsonl_quarantine,
    )

    land = tmp_path / "land"
    land.mkdir()
    (land / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        'NOT JSON AT ALL\n'
        '{"doc_id": "not-a-number", "text": "type clash"}\n'
        '{"doc_id": 4}\n'
    )
    qdir = str(tmp_path / "quarantine")
    good, bad = read_jsonl_quarantine(
        spark, str(land), "doc_id LONG, text STRING",
        quarantine_path=qdir,
    )
    got = {r["doc_id"]: r["text"] for r in good.collect()}
    assert got == {1: "good one", 4: None}  # partial row stays good
    bad_rows = bad.collect()
    assert len(bad_rows) == 2
    assert all(r["src_file"].endswith("a.jsonl") for r in bad_rows)
    raws = {r["raw_line"] for r in bad_rows}
    assert "NOT JSON AT ALL" in raws
    assert any("not-a-number" in r for r in raws)
    # persisted quarantine matches the frame
    assert spark.read.parquet(qdir).count() == 2


def test_ingest_job_force_reprocess_backfill(spark, tmp_path):
    """force_reprocess: the admin re-chunk-everything backfill — the
    freshness filter is bypassed (same timestamps, every doc
    reprocesses), new chunking params take effect across the whole
    corpus, and the keyed merge keeps it idempotent."""
    table = str(tmp_path / "chunks")
    t0 = _ts("2026-01-01T00:00:00")
    batch = _docs(
        spark,
        [("d1", "alpha beta " * 60, t0), ("d2", "gamma delta " * 60, t0)],
    )
    run_ingest_job(
        spark, batch, table, "r1", max_tokens=64, overlap=4, min_tokens=2,
        embedding_dim=8,
    )
    n_coarse = read_snapshot_table(spark, table).count()

    # same listing, same timestamps: a normal run is a no-op
    s = run_ingest_job(
        spark, batch, table, "r2", max_tokens=16, overlap=4, min_tokens=2,
        embedding_dim=8,
    ).collect()
    assert s == [] or s[0]["sourceFiles"] == 0
    assert read_snapshot_table(spark, table).count() == n_coarse

    # backfill with finer chunking: everything reprocesses
    s = run_ingest_job(
        spark, batch, table, "r3", max_tokens=16, overlap=4, min_tokens=2,
        embedding_dim=8, force_reprocess=True,
    ).collect()[0]
    assert s["sourceFiles"] == 2
    n_fine = read_snapshot_table(spark, table).count()
    assert n_fine > n_coarse  # finer chunks -> more rows
    # idempotent: replaying the backfill changes nothing
    run_ingest_job(
        spark, batch, table, "r4", max_tokens=16, overlap=4, min_tokens=2,
        embedding_dim=8, force_reprocess=True,
    )
    assert read_snapshot_table(spark, table).count() == n_fine


def test_ingest_jobs_race_disjoint_partitions(spark, tmp_path):
    """Job-level optimistic concurrency: two run_ingest_job calls race
    onto ONE snapshot chunks table with disjoint source partitions and
    max_conflict_rebases on — both land (the loser rebases its commit
    instead of aborting), and the table holds both corpora."""
    import threading

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
    )

    table = str(tmp_path / "chunks")
    t0 = _ts("2026-01-01T00:00:00")
    a = _docs(
        spark, [(f"a{i}", f"alpha text {i} " * 40, t0) for i in range(6)]
    ).withColumn("src", F.lit("a"))
    b = _docs(
        spark, [(f"b{i}", f"beta text {i} " * 40, t0) for i in range(6)]
    ).withColumn("src", F.lit("b"))
    # seed so both racers start from the same committed generation
    seed = _docs(spark, [("seed", "seed text " * 40, t0)]).withColumn(
        "src", F.lit("a")
    )
    run_ingest_job(
        spark, seed, table, "r0", max_tokens=32, overlap=4,
        min_tokens=2, embedding_dim=8, partition_cols=["src"],
    )
    start = threading.Barrier(2)
    errs: list[BaseException] = []

    def job(batch, rid):
        try:
            start.wait(timeout=120)
            run_ingest_job(
                spark, batch, table, rid, max_tokens=32, overlap=4,
                min_tokens=2, embedding_dim=8, partition_cols=["src"],
                max_conflict_rebases=6,
            )
        except BaseException as e:
            errs.append(e)

    ts = [
        threading.Thread(target=job, args=(a, "ra")),
        threading.Thread(target=job, args=(b, "rb")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
    assert not errs, errs
    got = read_snapshot_table(spark, table)
    assert got.filter("parent_id LIKE 'a%'").count() >= 6
    assert got.filter("parent_id LIKE 'b%'").count() >= 6
    assert got.filter("parent_id = 'seed'").count() >= 1


def test_ingest_job_expectations_quarantine(spark, tmp_path):
    """DLT-style expectations on the ingest: chunks failing a rule
    never reach the merged table; with quarantine_path set they land
    in the side table with violated_rules + run_id; counters reflect
    only admitted chunks."""
    table = str(tmp_path / "chunks")
    qdir = str(tmp_path / "quarantine")
    t0 = _ts("2024-01-01T00:00:00")
    batch = _docs(
        spark,
        [("good1", "alpha " * 40, t0), ("bad1", "tiny", t0)],
    )
    run_ingest_job(
        spark, batch, table, "run1", max_tokens=30, overlap=4,
        min_tokens=1, embedding_dim=8,
        expectations={"content_min_len": "length(content) >= 10"},
        quarantine_path=qdir,
    )
    merged = read_snapshot_table(spark, table)
    assert merged.filter(F.col("parent_id") == "bad1").count() == 0
    assert merged.filter(F.col("parent_id") == "good1").count() > 0
    q = spark.read.parquet(qdir)
    rows = q.select("parent_id", "content", "violated_rules", "run_id").collect()
    assert len(rows) == 1
    assert rows[0]["parent_id"] == "bad1"
    assert rows[0]["violated_rules"] == "content_min_len"
    assert rows[0]["run_id"] == "run1"


def test_ingest_snapshot_sink_with_identity(spark, tmp_path):
    """snapshot_set_identity composes with the ingest job's snapshot
    sink: chunk rows get engine-assigned surrogate ids, stable for
    unchanged parents across runs."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
        snapshot_set_identity,
    )

    table = str(tmp_path / "chunks")
    snapshot_set_identity(spark, table, "chunk_sid", start=1, step=1)
    t0 = _ts("2024-01-01T00:00:00")
    run_ingest_job(
        spark, _docs(spark, [("d1", "alpha " * 40, t0), ("d2", "beta " * 40, t0)]),
        table, "run1", max_tokens=30, overlap=4, min_tokens=2,
        embedding_dim=8,
    )
    first = {
        r["id"]: r["chunk_sid"]
        for r in read_snapshot_table(spark, table).collect()
    }
    assert sorted(first.values()) == list(range(1, len(first) + 1))
    # d2 modified -> only d2's chunks re-ingest with FRESH ids; d1 keeps its
    t2 = _ts("2024-01-02T00:00:00")
    run_ingest_job(
        spark, _docs(spark, [("d1", "alpha " * 40, t0), ("d2", "gamma " * 40, t2)]),
        table, "run2", max_tokens=30, overlap=4, min_tokens=2,
        embedding_dim=8,
    )
    second = {
        r["id"]: r["chunk_sid"]
        for r in read_snapshot_table(spark, table).collect()
    }
    for cid, sid in first.items():
        if cid.startswith("d1"):
            assert second[cid] == sid, (cid, sid, second.get(cid))
    # d2's chunk KEYS are content-independent (parent+index), so they
    # reappear — but its rows were delete-then-inserted at parent
    # grain, so they carry FRESH identities above the old high-water
    hwm1 = max(first.values())
    d2_ids = [s for c, s in second.items() if c.startswith("d2")]
    assert d2_ids and min(d2_ids) > hwm1, (hwm1, sorted(d2_ids))


# -- every job commits through the snapshot table -------------------------


def test_ingest_job_rejects_swap_sink_before_any_job(spark, tmp_path):
    # the docs come from a file scan, so even a plan-time probe of
    # them would run a Spark job
    _docs(spark, [("d1", "alpha " * 40, _ts("2024-01-01T00:00:00"))]).write.parquet(
        str(tmp_path / "docs")
    )
    docs = spark.read.parquet(str(tmp_path / "docs"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match="snapshot_convert_from_parquet"):
        run_ingest_job(spark, docs, str(tmp_path / "t"), "r1", sink="swap")
    assert set(tracker.getJobIdsForGroup(None)) <= before
    assert not (tmp_path / "t").exists()


@pytest.mark.parametrize("partitioned", [False, True])
def test_jobs_reject_swap_format_table(spark, tmp_path, partitioned):
    """A parquet directory without the snapshot pointer at the table
    path (the former directory-swap format) is not read as "no table":
    the ingest job, the web-corpus job and the streaming ingest raise,
    naming the adoption path, and the directory is left as it was."""
    import os

    from gpt_rag_ingestion_spark.plans.web_corpus_job import run_web_corpus_job
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_ingest,
    )

    def tree(root):
        return sorted(
            (os.path.relpath(os.path.join(d, f), root),
             os.path.getmtime(os.path.join(d, f)))
            for d, _, fs in os.walk(root) for f in fs
        )

    table = str(tmp_path / "t")
    old = spark.createDataFrame(
        [(1, "https://a.example/x", "old page body " * 20, "s0")],
        "doc_id LONG, url STRING, text STRING, source STRING",
    )
    writer = old.write
    if partitioned:
        writer = writer.partitionBy("source")
    writer.parquet(table)
    before = tree(table)

    with pytest.raises(ValueError, match="snapshot_convert_from_parquet"):
        run_ingest_job(
            spark,
            _docs(spark, [("d1", "alpha " * 40, _ts("2024-01-01T00:00:00"))]),
            table, "r1",
        )
    with pytest.raises(ValueError, match="snapshot_convert_from_parquet"):
        run_web_corpus_job(
            spark,
            spark.createDataFrame(
                [(2, "https://b.example/y", "new page body " * 20)],
                "doc_id LONG, url STRING, text STRING",
            ),
            table, str(tmp_path / "shards"), min_chars=10,
        )
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.json").write_text(
        '{"doc_id": 1, "text": "alpha beta gamma", "source": "s0"}\n'
    )
    with pytest.raises(ValueError, match="snapshot_convert_from_parquet"):
        run_incremental_ingest(
            spark, str(landing), table, str(tmp_path / "ckpt")
        )
    assert tree(table) == before
    assert not (tmp_path / "shards").exists()


def test_purge_job_on_ingested_snapshot_table(spark, tmp_path):
    """run_purge_job on the table run_ingest_job built, with the job's
    chunk-keyed text index: every chunk of a purged parent is
    tombstoned, the table is the pre-purge rows minus those parents,
    and a point read of a purged parent finds nothing."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        snapshot_read_point,
    )
    from gpt_rag_ingestion_spark.plans.purge_job import run_purge_job

    table, idx = str(tmp_path / "chunks"), str(tmp_path / "tindex")
    t0 = _ts("2026-01-01T00:00:00")
    run_ingest_job(
        spark,
        _docs(spark, [("a", "cat dog cat " * 30, t0),
                      ("b", "fish stone " * 40, t0),
                      ("c", "tree bird tree " * 25, t0)]),
        table, "r1", max_tokens=16, overlap=2, min_tokens=2,
        embedding_dim=8, text_index_path=idx,
        stats_cols=["parent_id"], bloom_key="parent_id",
    )
    cols = ["id", "parent_id", "content"]
    pre = sorted(
        tuple(r) for r in read_snapshot_table(spark, table).select(*cols).collect()
    )
    n_a = sum(1 for r in pre if r[1] == "a")
    assert n_a > 1

    out = run_purge_job(
        spark, table, spark.createDataFrame([("b",), ("c",)], "parent_id string"),
        text_index_path=idx, text_index_id_col="id",
    )
    assert out["parentsPurged"] == 1 and out["docsDeleted"] == n_a
    assert out["searchIndexTombstoned"] == n_a
    post = sorted(
        tuple(r) for r in read_snapshot_table(spark, table).select(*cols).collect()
    )
    assert post == [r for r in pre if r[1] != "a"]
    assert snapshot_read_point(spark, table, "parent_id", ["a"]).count() == 0
    assert snapshot_read_point(spark, table, "parent_id", ["b"]).count() > 0


def test_web_corpus_job_commits_snapshot_table(spark, tmp_path):
    """The corpus is a snapshot table: each admitting batch is one
    commit, and the second batch dedups against the first's rows."""
    import os

    from gpt_rag_ingestion_spark.operators.snapshot_table import _current_gen
    from gpt_rag_ingestion_spark.plans.web_corpus_job import run_web_corpus_job

    corpus = str(tmp_path / "corpus")
    schema = "doc_id LONG, url STRING, text STRING"
    run_web_corpus_job(
        spark,
        spark.createDataFrame(
            [(1, "https://a.example/x", "first page body " * 20)], schema
        ),
        corpus, str(tmp_path / "s0"), min_chars=10,
    )
    assert os.path.exists(f"{corpus}/_current")
    assert _current_gen(spark, corpus) == 1
    audit = run_web_corpus_job(
        spark,
        spark.createDataFrame(
            [(2, "https://b.example/y", "first page body " * 20),
             (3, "https://c.example/z", "another page body " * 20)],
            schema,
        ),
        corpus, str(tmp_path / "s1"), min_chars=10,
    )
    assert sorted(
        (r["doc_id"], r["disposition"]) for r in audit.collect()
    ) == [(2, "exact_dup_base"), (3, "admitted")]
    assert _current_gen(spark, corpus) == 2
    assert sorted(
        r["doc_id"] for r in read_snapshot_table(spark, corpus).collect()
    ) == [1, 3]
