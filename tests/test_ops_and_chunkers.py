"""Tests for the ops layer, doc-analysis chunker, spreadsheet chunker,
figure operators, streaming micro-batch, and single-doc path."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.chunking.doc_analysis import (
    attribute_page,
    chunk_analyzed_documents,
    chunk_analyzed_markdown,
    number_pagebreaks,
    renumber_markers,
    split_page_ranges,
)
from gpt_rag_ingestion_spark.chunking.single_doc import (
    chunk_last_of_batch,
    chunk_single_document,
)
from gpt_rag_ingestion_spark.chunking.spreadsheet import (
    chunk_rows_mode,
    parse_xlsx_bytes,
    sheet_to_markdown,
)
from gpt_rag_ingestion_spark.operators.figures import (
    filter_significant_figures,
    join_figures_to_chunks,
    shoelace_area,
)
from gpt_rag_ingestion_spark.operators.ops_log import (
    apply_blocklist,
    blocked_files,
    retention_targets,
    run_history,
    run_summary,
    stale_runs,
)
from gpt_rag_ingestion_spark.operators.snapshot_table import read_snapshot_table
from gpt_rag_ingestion_spark.streaming.micro_batch import (
    run_incremental_ingest,
    windowed_event_counts,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


# ------------------------------------------------------------- ops layer

def _attempts(spark):
    rows = [
        # f1: fail, fail, fail -> blocked
        ("f1", _ts("2024-01-01T00:00:00"), "failed"),
        ("f1", _ts("2024-01-01T01:00:00"), "failed"),
        ("f1", _ts("2024-01-01T02:00:00"), "failed"),
        # f2: fail, success, fail -> only 1 consecutive -> not blocked
        ("f2", _ts("2024-01-01T00:00:00"), "failed"),
        ("f2", _ts("2024-01-01T01:00:00"), "success"),
        ("f2", _ts("2024-01-01T02:00:00"), "failed"),
        # f3: 3 fails then success -> recovered -> not blocked
        ("f3", _ts("2024-01-01T00:00:00"), "failed"),
        ("f3", _ts("2024-01-01T01:00:00"), "failed"),
        ("f3", _ts("2024-01-01T02:00:00"), "failed"),
        ("f3", _ts("2024-01-01T03:00:00"), "success"),
    ]
    return spark.createDataFrame(rows, ["file_key", "attempt_ts", "status"])


def test_blocklist_consecutive_failures(spark):
    blocked = blocked_files(_attempts(spark))
    assert {r["file_key"] for r in blocked.collect()} == {"f1"}


def test_apply_blocklist(spark):
    blocked = blocked_files(_attempts(spark))
    cands = spark.createDataFrame([("f1",), ("f2",), ("f9",)], ["file_key"])
    out = {r["file_key"] for r in apply_blocklist(cands, blocked).collect()}
    assert out == {"f2", "f9"}


def test_unblock_files(spark):
    from gpt_rag_ingestion_spark.operators.ops_log import unblock_files

    attempts = _attempts(spark)
    keys = spark.createDataFrame([("f1",)], ["file_key"])
    after = unblock_files(attempts, keys)
    # f1 no longer blocked; one marker row appended, history untouched
    assert blocked_files(after).count() == 0
    assert after.count() == attempts.count() + 1
    # a fresh failure after the unblock starts counting from 1
    new_fail = spark.createDataFrame(
        [("f1", _ts("2024-01-01T03:00:00"), "failed")],
        ["file_key", "attempt_ts", "status"],
    )
    again = after.unionByName(new_fail)
    assert blocked_files(again).count() == 0
    assert (
        blocked_files(again, max_attempts=1).filter("file_key = 'f1'").count() == 1
    )


def test_run_summary_counters(spark):
    rows = [
        ("r1", "success", 5),
        ("r1", "failed", 0),
        ("r1", "skipped_no_change", 0),
        ("r1", "success", 3),
    ]
    df = spark.createDataFrame(rows, ["run_id", "status", "chunks"])
    s = run_summary(df).collect()[0]
    assert s["sourceFiles"] == 4
    assert s["success"] == 2
    assert s["failed"] == 1
    assert s["skippedNoChange"] == 1
    assert s["totalChunksUploaded"] == 8


def test_retention_and_stale(spark):
    runs = spark.createDataFrame(
        [
            ("r1", _ts("2024-01-01T00:00:00"), _ts("2024-01-01T01:00:00")),
            ("r2", _ts("2024-01-02T00:00:00"), None),
            ("r3", _ts("2024-01-03T00:00:00"), None),
        ],
        ["run_id", "started_at", "finished_at"],
    )
    kept = retention_targets(runs, keep=2)
    assert [r["run_id"] for r in kept.collect()] == ["r1"]
    stale = stale_runs(runs, _ts("2024-01-02T12:00:00"))
    assert {r["run_id"] for r in stale.collect()} == {"r2"}


def test_run_history_newest_first(spark):
    logs = spark.createDataFrame(
        [
            ("f1", _ts("2024-01-01T00:00:00"), "failed"),
            ("f1", _ts("2024-01-02T00:00:00"), "success"),
        ],
        ["file_key", "started_at", "status"],
    )
    h = run_history(logs).collect()[0]["runHistory"]
    assert [x["status"] for x in h] == ["success", "failed"]


# --------------------------------------------------- doc-analysis chunker

def test_number_and_renumber_pagebreaks():
    md = "page one <!-- PageBreak --> page two <!-- PageBreak --> page three"
    numbered = number_pagebreaks(md)
    assert "<!-- PageBreak00001 -->" in numbered
    assert "<!-- PageBreak00002 -->" in numbered
    shifted = renumber_markers(numbered, 300)
    assert "<!-- PageBreak00301 -->" in shifted


def test_split_page_ranges():
    assert split_page_ranges(700) == [(1, 300), (301, 600), (601, 700)]
    assert split_page_ranges(10) == [(1, 10)]


def test_attribute_page_position_rule():
    # marker near the START of the chunk -> content mostly after -> next page
    chunk = "<!-- PageBreak00003 -->" + "x" * 200
    page, nxt = attribute_page(chunk, 3)
    assert page == 4 and nxt == 4
    # marker near the END -> chunk belongs to the page ending there
    chunk = "x" * 200 + "<!-- PageBreak00003 -->"
    page, nxt = attribute_page(chunk, 3)
    assert page == 3 and nxt == 4
    # no marker -> current page
    assert attribute_page("plain", 7) == (7, 7)


def test_attribute_page_multi_marker_first_rule():
    """Reference _determine_chunk_page uses re.search — the FIRST marker
    decides the chunk's page; _update_page advances from the LAST marker
    only when it is >= current_page (doc_analysis_chunker.py:406-446)."""
    # first marker late in the chunk -> chunk page = that marker's page;
    # current advances past the LAST marker
    chunk = "x" * 200 + "<!-- PageBreak00003 -->" + "y" * 10 + "<!-- PageBreak00004 -->"
    page, nxt = attribute_page(chunk, 3)
    assert page == 3 and nxt == 5
    # first marker early -> next page, regardless of later markers
    chunk = "<!-- PageBreak00003 -->" + "y" * 300 + "<!-- PageBreak00004 -->"
    page, nxt = attribute_page(chunk, 3)
    assert page == 4 and nxt == 5
    # stray LOWER-numbered marker (overlap artifact) must not regress
    # current_page
    chunk = "x" * 200 + "<!-- PageBreak00002 -->"
    page, nxt = attribute_page(chunk, 5)
    assert nxt == 5


def test_giant_document_part_split_roundtrip(spark):
    """§2 'hard parts' / VERDICT item 7: a 2-part giant document chunks
    to the same (content, page) sequence as the whole document, with
    per-document chunk ids renumbered across parts."""
    from gpt_rag_ingestion_spark.chunking.doc_analysis import (
        chunk_analyzed_documents,
        chunk_giant_documents,
        split_document_parts,
    )

    pages = [" ".join(f"p{p}word{i}" for i in range(35)) for p in (1, 2, 3)]
    md = "\n\n<!-- PageBreak -->\n\n".join(pages)
    docs = spark.createDataFrame([("g1", md)], ["doc_key", "markdown"])

    parts = split_document_parts(docs, max_pages_per_part=2)
    got_parts = {r["part_idx"] for r in parts.collect()}
    assert got_parts == {0, 1}
    # re-joining parts with the marker reconstructs the original exactly
    joined = "<!-- PageBreak -->".join(
        r["markdown"]
        for r in parts.orderBy("part_idx").collect()
    )
    assert joined == md

    whole = chunk_analyzed_documents(
        docs, max_tokens=40, overlap=0, min_tokens=2
    ).orderBy("chunk_id").collect()
    split = chunk_giant_documents(
        docs, max_pages_per_part=2, max_tokens=40, overlap=0, min_tokens=2
    ).orderBy("chunk_id").collect()

    assert [(r["content"], r["page"]) for r in whole] == [
        (r["content"], r["page"]) for r in split
    ]
    assert [r["chunk_id"] for r in split] == list(range(len(split)))
    assert [r["page"] for r in split] == [1, 2, 3]


def test_chunk_analyzed_markdown_pages():
    pages = [" ".join(f"p{p}w{i}" for i in range(120)) for p in range(1, 5)]
    md = " <!-- PageBreak --> ".join(pages)
    chunks = chunk_analyzed_markdown(md, max_tokens=150, overlap=10, min_tokens=5)
    assert len(chunks) >= 3
    assert all("PageBreak" not in c["content"] for c in chunks)
    pages_seen = [c["page"] for c in chunks]
    assert pages_seen == sorted(pages_seen)
    assert pages_seen[0] == 1 and pages_seen[-1] >= 3


def test_chunk_analyzed_documents_df(spark):
    md = "alpha " * 50 + "<!-- PageBreak --> " + "beta " * 50
    df = spark.createDataFrame([(1, md)], ["doc_id", "markdown"])
    out = chunk_analyzed_documents(df, max_tokens=40, overlap=4, min_tokens=2).collect()
    assert len(out) >= 2
    assert out[0]["page"] == 1
    assert out[-1]["page"] == 2


# ------------------------------------------------------ spreadsheet chunker

def test_sheet_to_markdown():
    md = sheet_to_markdown([["a", "b"], ["1", "2"], ["3", ""]])
    lines = md.splitlines()
    assert lines[0] == "| a | b |"
    assert lines[1] == "| --- | --- |"
    assert lines[2] == "| 1 | 2 |"
    assert lines[3] == "| 3 |  |"


def test_chunk_rows_mode_trailing_empty_dropped(spark):
    df = spark.createDataFrame(
        [(1, "x", "y", None), (2, "a", None, None)],
        "row_num INT, c1 STRING, c2 STRING, c3 STRING",
    )
    out = {
        r["row_num"]: r["embed_text"]
        for r in chunk_rows_mode(df, ["c1", "c2", "c3"], "f.csv", "S").collect()
    }
    assert out[1].endswith("cols=c1|c2\nvals=x|y")
    assert out[2].endswith("cols=c1\nvals=a")


def test_parse_xlsx_stdlib_fallback():
    # without openpyxl the stdlib OOXML parser handles real xlsx bytes
    from gpt_rag_ingestion_spark.chunking.office import build_xlsx

    payload = build_xlsx([("S1", [["h1", "h2"], ["a", "b"]])])
    assert parse_xlsx_bytes(payload) == [["h1", "h2"], ["a", "b"]]


# ------------------------------------------------------------ figure ops

def test_shoelace_area(spark):
    # unit square [0,0 1,0 1,1 0,1] -> area 1
    df = spark.createDataFrame(
        [([0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0],)], ["polygon"]
    )
    assert df.select(shoelace_area("polygon").alias("a")).first()["a"] == 1.0


def test_figure_area_filter(spark):
    figs = spark.createDataFrame(
        [
            ("f1", [0.0, 0.0, 5.0, 0.0, 5.0, 5.0, 0.0, 5.0], 10.0, 10.0),  # 25%
            ("f2", [0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0], 10.0, 10.0),  # 1%
        ],
        ["figure_id", "polygon", "page_width", "page_height"],
    )
    kept = filter_significant_figures(figs)
    assert [r["figure_id"] for r in kept.collect()] == ["f1"]


def test_join_figures_to_chunks(spark):
    chunks = spark.createDataFrame(
        [("c1", "see <figure1> and <figure2>"), ("c2", "no figures")],
        ["id", "content"],
    )
    figs = spark.createDataFrame(
        [("1", "img1.png"), ("2", "img2.png"), ("3", "img3.png")],
        ["figure_id", "image"],
    )
    out = join_figures_to_chunks(chunks, figs)
    got = {(r["id"], r["figure_id"]) for r in out.collect()}
    assert got == {("c1", "1"), ("c1", "2")}


# -------------------------------------------------- streaming micro-batch

def test_incremental_ingest_availablenow(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "chunks")
    ckpt = str(tmp_path / "ckpt")

    (landing / "b1.json").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": f"doc {i} " + "w " * 30, "source": "s"})
            for i in range(3)
        )
    )
    run_incremental_ingest(spark, str(landing), table, ckpt)
    n1 = read_snapshot_table(spark, table).count()
    assert n1 > 0
    parents1 = {
        r["parent_id"] for r in read_snapshot_table(spark, table).select("parent_id").collect()
    }
    assert parents1 == {"doc-0", "doc-1", "doc-2"}

    # second drain with no new files: checkpoint prevents re-processing
    run_incremental_ingest(spark, str(landing), table, ckpt)
    assert read_snapshot_table(spark, table).count() == n1

    # new file arrives -> only it is processed; merge keeps old parents
    (landing / "b2.json").write_text(
        json.dumps({"doc_id": 9, "text": "late doc " + "w " * 30, "source": "s"})
    )
    run_incremental_ingest(spark, str(landing), table, ckpt)
    parents2 = {
        r["parent_id"] for r in read_snapshot_table(spark, table).select("parent_id").collect()
    }
    assert parents2 == parents1 | {"doc-9"}


def test_windowed_event_counts_batch(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:10:00")),
            (2, _ts("2024-01-01T10:50:00")),
            (3, _ts("2024-01-01T11:05:00")),
        ],
        ["event_id", "ts"],
    )
    out = {
        r["window_start"].isoformat(): r["n_events"]
        for r in windowed_event_counts(ev).collect()
    }
    assert out == {"2024-01-01T10:00:00": 2, "2024-01-01T11:00:00": 1}


# ------------------------------------------------------- single-doc path

def test_chunk_single_document(spark):
    out = chunk_single_document(
        spark, "cont/blob.md", "hello world " * 200, max_tokens=100, overlap=10,
        min_tokens=5, embedding_dim=16,
    ).collect()
    assert len(out) > 1
    assert out[0]["parent_id"] == "cont-blob-md"
    assert len(out[0]["contentVector"]) == 16


def test_chunk_last_of_batch_quirk(spark):
    out = chunk_last_of_batch(
        spark,
        [("a", "first doc " * 50), ("b", "second doc " * 50)],
        max_tokens=100, overlap=10, min_tokens=5, embedding_dim=16,
    ).collect()
    assert {r["parent_id"] for r in out} == {"b"}
