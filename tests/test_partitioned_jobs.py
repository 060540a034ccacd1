"""Partition-pruned merges through the COMPOSED jobs (round-3 close of
the last O(table)-rewrite path): run_ingest_job / run_web_corpus_job
given ``partition_cols`` must produce byte-identical relational
content to the unpartitioned run, and a snapshot-table commit must
keep untouched partitions on their old generation's files.
Reference semantic: per-parent delete+upsert
(jobs/blob_storage_indexer.py:614-669)."""

from __future__ import annotations

import pytest

import datetime as dt
import os

from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import snapshot_table as S
from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job
from gpt_rag_ingestion_spark.plans.web_corpus_job import run_web_corpus_job


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_key STRING, text STRING, last_modified TIMESTAMP"
    )


def _files(root):
    """{relpath: (size, mtime_ns)} for every parquet data file."""
    out = {}
    for r, _d, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(r, n)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _partition_refs(spark, table):
    """{partition rel path: generation dir} of the committed manifest."""
    return S._read_manifest(
        spark, table, S._current_gen(spark, table)
    )["partitions"]


def _canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


_KW = dict(max_tokens=30, overlap=4, min_tokens=2, embedding_dim=8)


def test_ingest_job_partitioned_matches_unpartitioned(spark, tmp_path):
    """Same two-run ingest against a partitioned and an unpartitioned
    chunks table: identical relational content (the byte-identity
    property of tests/test_operators.py asserted THROUGH the job)."""
    t_a, t_b = _ts("2024-01-01T00:00:00"), _ts("2024-01-02T00:00:00")
    t_c = _ts("2024-01-03T00:00:00")
    batch1 = [("d1", "alpha " * 40, t_a), ("d2", "beta " * 40, t_a),
              ("d3", "delta " * 40, t_b)]
    batch2 = [("d1", "alpha " * 40, t_a), ("d2", "beta " * 40, t_a),
              ("d3", "gamma " * 40, t_c)]

    plain = str(tmp_path / "plain")
    parted = str(tmp_path / "parted")
    for table, pc in ((plain, None), (parted, ["ingest_date"])):
        run_ingest_job(spark, _docs(spark, batch1), table, "r1",
                       partition_cols=pc, **_KW)
        run_ingest_job(spark, _docs(spark, batch2), table, "r2",
                       partition_cols=pc, **_KW)

    cols = ["parent_id", "chunk_id", "offset", "length", "content", "id"]
    a = _canon(S.read_snapshot_table(spark, plain), cols)
    b = _canon(S.read_snapshot_table(spark, parted), cols)
    assert a == b and len(a) > 0
    # the partition column is real and carries the derived date
    dates = {
        r["ingest_date"].isoformat()
        for r in S.read_snapshot_table(spark, parted)
        .select("ingest_date").distinct().collect()
    }
    assert dates == {"2024-01-01", "2024-01-03"}


def test_ingest_job_partitioned_prunes_untouched_partitions(spark, tmp_path):
    """The 100 TB property: re-ingesting one doc must not rewrite the
    files of partitions that hold only other docs."""
    table = str(tmp_path / "chunks")
    t_a, t_b = _ts("2024-01-01T00:00:00"), _ts("2024-01-02T00:00:00")
    t_c = _ts("2024-01-03T00:00:00")
    batch1 = [("d1", "alpha " * 40, t_a), ("d2", "beta " * 40, t_a),
              ("d3", "delta " * 40, t_b)]
    run_ingest_job(spark, _docs(spark, batch1), table, "r1",
                   partition_cols=["ingest_date"], **_KW)
    refs_before = _partition_refs(spark, table)
    before = _files(table)
    assert before

    # only d3 is fresh: partition 2024-01-01 (d1+d2) must be untouched
    batch2 = [("d1", "alpha " * 40, t_a), ("d2", "beta " * 40, t_a),
              ("d3", "gamma " * 40, t_c)]
    run_ingest_job(spark, _docs(spark, batch2), table, "r2",
                   partition_cols=["ingest_date"], **_KW)
    refs_after = _partition_refs(spark, table)
    # the untouched partition still reads its first generation's files
    assert (
        refs_after["ingest_date=2024-01-01"]
        == refs_before["ingest_date=2024-01-01"]
    )
    after = _files(table)
    # no committed file rewritten: same files, same sizes, same mtimes
    assert {k: after[k] for k in before} == before
    # d3 moved partitions: old partition dropped, new one holds gamma
    assert "ingest_date=2024-01-02" not in refs_after
    assert "ingest_date=2024-01-03" in refs_after
    d3 = " ".join(
        r["content"]
        for r in S.read_snapshot_table(spark, table)
        .filter(F.col("parent_id") == "d3").collect()
    )
    assert "gamma" in d3 and "delta" not in d3


def test_ingest_job_partition_col_validation(spark, tmp_path):
    import pytest

    docs = _docs(spark, [("d1", "alpha " * 4, _ts("2024-01-01T00:00:00"))])
    with pytest.raises(ValueError, match="not derivable"):
        run_ingest_job(spark, docs, str(tmp_path / "t"), "r1",
                       partition_cols=["no_such_col"], **_KW)
    with pytest.raises(ValueError, match="collides"):
        run_ingest_job(spark, docs, str(tmp_path / "t"), "r1",
                       partition_cols=["content"], **_KW)


@pytest.mark.slow
def test_web_corpus_job_partitioned_matches_unpartitioned(spark, tmp_path):
    """domain_bucket-partitioned corpus merge: same audit and same
    corpus content as the unpartitioned run; shards keep the plain
    schema (no derived partition column)."""
    batch1 = spark.createDataFrame(
        [(1, "https://a.example/x", "alpha " * 40),
         (2, "https://b.example/y", "beta " * 40)],
        "doc_id LONG, url STRING, text STRING",
    )
    batch2 = spark.createDataFrame(
        [(2, "https://b.example/y", "beta " * 40),   # exact dup of base
         (3, "https://c.example/z", "gamma " * 40)],
        "doc_id LONG, url STRING, text STRING",
    )

    results = {}
    for name, pc in (("plain", None), ("parted", ["domain_bucket"])):
        corpus = str(tmp_path / name / "corpus")
        shards = str(tmp_path / name / "shards")
        audits = []
        for i, b in enumerate((batch1, batch2)):
            audits.append(
                sorted(
                    (r["doc_id"], r["disposition"])
                    for r in run_web_corpus_job(
                        spark, b, corpus, shards + str(i),
                        partition_cols=pc,
                    ).collect()
                )
            )
        tbl = S.read_snapshot_table(spark, corpus)
        results[name] = (
            audits,
            sorted(
                (r["doc_id"], r["text"], r["domain"])
                for r in tbl.select("doc_id", "text", "domain").collect()
            ),
        )
        if pc:
            assert "domain_bucket" in tbl.columns
            sh = spark.read.parquet(shards + "1")
            assert "domain_bucket" not in sh.columns
    assert results["plain"][0] == results["parted"][0]
    assert results["plain"][1] == results["parted"][1]
    assert len(results["plain"][1]) == 3


def test_merge_two_level_partitioning(spark, tmp_path):
    """(source, ingest_date)-style two-level partitioned merge: nested
    partitions commit independently, NULLs land in the Hive default
    dir at either level, and content stays byte-identical to the
    unpartitioned rewrite."""

    schema = "parent_id string, src string, day string, v int"
    rows1 = [("k1", "a", "d1", 1), ("k2", "a", "d2", 2),
             ("k3", "b", "d1", 3), ("k4", None, "d1", 4),
             ("k5", "b", None, 5)]
    rows2 = [("k2", "a", "d3", 22),   # moved partitions
             ("k6", "b", "d1", 6)]    # new key into existing partition

    plain, parted = str(tmp_path / "plain"), str(tmp_path / "parted")
    for table, pc in ((plain, None), (parted, ["src", "day"])):
        S.snapshot_merge_upsert(spark, table,
                                spark.createDataFrame(rows1, schema),
                                partition_cols=pc)
        S.snapshot_merge_upsert(spark, table,
                                spark.createDataFrame(rows2, schema),
                                partition_cols=pc)
    canon = lambda p: sorted(  # noqa: E731
        (r["parent_id"], r["src"], r["day"], r["v"])
        for r in S.read_snapshot_table(spark, p).collect()
    )
    assert canon(parted) == canon(plain)
    dirs = set(_partition_refs(spark, parted))
    assert "src=a/day=d3" in dirs
    assert "src=__HIVE_DEFAULT_PARTITION__/day=d1" in dirs
    assert "src=b/day=__HIVE_DEFAULT_PARTITION__" in dirs
    assert not any(r.endswith("day=d2") for r in dirs)  # emptied & dropped
