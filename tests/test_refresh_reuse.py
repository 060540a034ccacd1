"""The steady-state refresh tick: generated code is reused across
ticks, the job runs no redundant queries, and its shortcuts give the
same answers as the forms they replace (the one-pass text-index
tables, the summary-derived candidate count, the JVM-local summary
frame).  Also: a failed read of an existing table raises instead of
re-ingesting (or, in the web-corpus job, instead of admitting every
candidate as new), and the private PySpark hook the session relies on
is still there."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators.ops_log import apply_blocklist
from gpt_rag_ingestion_spark.plans.ingest_job import (
    _summary_frame,
    run_ingest_job,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docs(spark, n, stamp="2024-01-01 00:00:00", changed=(), extra=0):
    """``n`` docs (plus ``extra`` new ones); docs in ``changed`` get a
    new body and a later timestamp."""
    rows = []
    for i in range(n + extra):
        new = i in changed or i >= n
        body = " ".join(
            f"w{(i * 7 + j) % 97}{'x' if new else ''}" for j in range(60 + i % 40)
        )
        rows.append(
            (f"docs/d{i}.txt", body, "2024-02-01 00:00:00" if new else stamp)
        )
    return spark.createDataFrame(
        rows, "doc_key string, text string, last_modified string"
    ).withColumn("last_modified", F.col("last_modified").cast("timestamp"))


_KW = dict(max_tokens=40, overlap=5, min_tokens=10)


def _tree_digest(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# -- failures surface on the table read ----------------------------------


def test_truncated_manifest_raises_and_leaves_table_alone(spark, tmp_path):
    table, index = str(tmp_path / "t"), str(tmp_path / "i")
    kw = dict(text_index_path=index, **_KW)
    run_ingest_job(spark, _docs(spark, 6), table, "base", **kw)
    cur = open(os.path.join(table, "_current")).read().strip()
    manifest = os.path.join(table, "_manifests", f"{int(cur):08d}.json")
    body = open(manifest).read()
    with open(manifest, "w") as f:
        f.write(body[: len(body) // 2])
    before = (_tree_digest(table), _tree_digest(index))
    # the local filesystem's checksum catches the truncation (a store
    # without checksums fails the JSON parse instead)
    with pytest.raises((ValueError, Py4JJavaError)):
        run_ingest_job(
            spark, _docs(spark, 6, changed={1}, extra=1), table, "tick", **kw
        )
    assert (_tree_digest(table), _tree_digest(index)) == before


class _Crash(RuntimeError):
    pass


def test_half_committed_text_index_is_applied_not_rebuilt(
    spark, tmp_path, monkeypatch
):
    """A text-index commit cut between its pointer delete and its
    rename leaves only ``_current__tmp``.  The manifest it names IS the
    committed index: a query in the window answers from it without
    touching the directory, and the next run applies at gen + 1 with
    the earlier batches still listed — it does not rebuild the index
    from the table."""
    from gpt_rag_ingestion_spark.operators import batch_manifest as bm
    from gpt_rag_ingestion_spark.operators import search as X
    from gpt_rag_ingestion_spark.operators import snapshot_table as ST

    table, index = str(tmp_path / "t"), str(tmp_path / "i")
    kw = dict(text_index_path=index, **_KW)
    run_ingest_job(spark, _docs(spark, 6), table, "base", **kw)
    real = ST._swap_pointer

    def crash(spark_, path, gen):
        if path != index:
            return real(spark_, path, gen)
        os.remove(os.path.join(index, "_current"))
        raise _Crash("injected crash at the pointer rename")

    with monkeypatch.context() as m:
        m.setattr(ST, "_swap_pointer", crash)
        with pytest.raises(_Crash):
            run_ingest_job(
                spark, _docs(spark, 6, changed={1}), table, "t1", **kw
            )
    assert not os.path.exists(os.path.join(index, "_current"))
    with open(os.path.join(index, "_current__tmp")) as fh:
        gen = int(fh.read())
    with open(os.path.join(index, "_manifests", f"{gen:08d}.json")) as fh:
        staged = json.load(fh)

    before = _tree_digest(index)
    q = spark.createDataFrame(
        [("q", ["w7", "w14x"])], "query_id string, terms array<string>"
    )
    assert X.text_index_query(spark, index, q, k=3).count() > 0
    assert _tree_digest(index) == before

    def no_build(*_a, **_kw):
        raise AssertionError("text_index_build must not run")

    applied = []
    real_apply = X.text_index_apply

    def apply_and_record(*a, **k):
        out = real_apply(*a, **k)
        applied.append(bm.read_meta(spark, index, X.TEXT_INDEX))
        return out

    monkeypatch.setattr(X, "text_index_build", no_build)
    monkeypatch.setattr(X, "text_index_apply", apply_and_record)
    run_ingest_job(
        spark, _docs(spark, 6, changed={1, 2}), table, "t2", **kw
    )
    (meta,) = applied  # the state the apply committed (before any compact)
    assert meta["gen"] == staged["gen"] + 1
    assert set(staged["batches"]["postings"]) < set(meta["batches"]["postings"])


def _corrupt_footers(root):
    """Overwrite the trailing magic of every parquet file under
    ``root``: the footer no longer parses."""
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "r+b") as fh:
                    fh.seek(-4, os.SEEK_END)
                    fh.write(b"XXXX")


def test_unreadable_chunks_table_raises(spark, tmp_path):
    table = str(tmp_path / "t")
    run_ingest_job(spark, _docs(spark, 4), table, "base", **_KW)
    _corrupt_footers(table)
    before = _tree_digest(table)
    with pytest.raises(Exception, match="(?i)parquet|footer|schema"):
        run_ingest_job(spark, _docs(spark, 4, changed={0}), table, "tick", **_KW)
    assert _tree_digest(table) == before


def test_unreadable_sketch_table_raises(spark, tmp_path):
    """The streaming sketch table (a batch-manifest store): a corrupt
    parquet footer fails the micro-batch instead of restarting the
    counts from that one batch, and the sketch stays as it was."""
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_sketch,
    )

    landing, sketch = tmp_path / "landing", str(tmp_path / "sketch")
    landing.mkdir()

    def land(name, lo, hi):
        (landing / name).write_text("\n".join(
            json.dumps({"event_id": i, "event_type": "t", "value": i})
            for i in range(lo, hi)
        ))

    land("b1.json", 0, 50)
    run_incremental_sketch(spark, str(landing), sketch, str(tmp_path / "ck"))
    _corrupt_footers(sketch)
    before = _tree_digest(sketch)
    land("b2.json", 50, 80)
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        run_incremental_sketch(
            spark, str(landing), sketch, str(tmp_path / "ck")
        )
    assert _tree_digest(sketch) == before


def test_web_corpus_truncated_manifest_raises_and_leaves_corpus_alone(
    spark, tmp_path
):
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        snapshot_merge_upsert,
    )
    from gpt_rag_ingestion_spark.plans.web_corpus_job import run_web_corpus_job

    corpus, shards = str(tmp_path / "corpus"), str(tmp_path / "s1")

    def batch(ids):
        return spark.createDataFrame(
            [(i, f"https://site{i}.org/p", f"page {i} body text " * 10)
             for i in ids],
            "doc_id long, url string, text string",
        )

    snapshot_merge_upsert(spark, corpus, batch([1, 2]), key="doc_id")
    cur = open(os.path.join(corpus, "_current")).read().strip()
    manifest = os.path.join(corpus, "_manifests", f"{int(cur):08d}.json")
    body = open(manifest).read()
    with open(manifest, "w") as f:
        f.write(body[: len(body) // 2])
    before = _tree_digest(corpus)
    with pytest.raises((ValueError, Py4JJavaError)):
        run_web_corpus_job(
            spark, batch([1, 3]), corpus, shards, min_chars=10,
        )
    assert _tree_digest(corpus) == before
    # nothing was admitted against a base that could not be read
    assert not os.path.exists(shards)


# -- equivalence of the job's shortcuts ----------------------------------


def _two_pass_tables(chunks, text_col, id_col, gen):
    """The index tables as they were built before postings were
    tokenized once: doclen re-tokenizes the text and counts."""
    toks = chunks.select(
        F.col(id_col).try_cast("long").alias("doc"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != "")
        ).alias("token"),
    )
    postings = toks.groupBy("token", "doc").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).withColumn("gen", F.lit(int(gen)))
    doclen = (
        chunks.select(F.col(id_col).try_cast("long").alias("doc"))
        .join(
            toks.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("dl")),
            "doc", "left",
        )
        .select("doc", F.coalesce("dl", F.lit(0).cast("long")).alias("dl"))
        .withColumn("gen", F.lit(int(gen)))
    )
    return postings, doclen


def test_one_pass_index_tables_equal_two_pass(spark, tmp_path):
    from gpt_rag_ingestion_spark.operators.search import _tindex_tables

    chunks = spark.createDataFrame(
        [
            (1, "The cat sat on the mat"),
            (2, ""),                        # empty: dl = 0, no postings
            (3, "dup one two"),
            (3, "dup   two\tthree"),        # duplicate id
            (4, "  \t\n  "),                # whitespace only
            (5, "Größe naïve 東京 東京 ÉTÉ été"),  # non-ASCII
            (6, None),
        ],
        "doc_id long, text string",
    )
    got_p, got_d = _tindex_tables(
        chunks, "text", "doc_id", 7, str(tmp_path / "postings")
    )
    want_p, want_d = _two_pass_tables(chunks, "text", "doc_id", 7)
    def cols(df):
        return [(f.name, f.dataType) for f in df.schema]

    assert cols(got_p) == cols(want_p) and cols(got_d) == cols(want_d)
    assert sorted(got_p.collect()) == sorted(want_p.collect())
    assert sorted(got_d.collect()) == sorted(want_d.collect())
    dl = {r["doc"]: r["dl"] for r in got_d.collect()}
    assert dl[2] == 0 and dl[4] == 0 and dl[6] == 0 and dl[5] == 6


@pytest.mark.parametrize("blocked", [False, True])
def test_candidate_count_is_summary_source_files(spark, tmp_path, blocked):
    """``n_candidates`` comes from the summary's sourceFiles: it must
    equal the freshness candidates' own count, with and without a
    blocklist; with no candidates the job returns an empty summary
    and commits nothing."""
    from gpt_rag_ingestion_spark.functions.keys import sanitize_key
    from gpt_rag_ingestion_spark.operators.freshness import (
        freshness_candidates,
        index_watermarks,
    )

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table,
    )

    table = str(tmp_path / "t")
    run_ingest_job(spark, _docs(spark, 8), table, "base", **_KW)
    tick = _docs(spark, 8, changed={1, 2, 5}, extra=2)
    listing = tick.withColumn("parent_id", sanitize_key(F.col("doc_key")))
    block = (
        listing.filter(F.col("doc_key").isin("docs/d2.txt", "docs/d9.txt"))
        .select(F.col("parent_id").alias("file_key"))
        if blocked
        else None
    )
    cands = freshness_candidates(
        listing,
        index_watermarks(read_snapshot_table(spark, table)),
        ts="last_modified",
    )
    if block is not None:
        cands = apply_blocklist(cands.withColumnRenamed("parent_id", "file_key"), block)
    want = cands.count()
    assert want == (3 if blocked else 5)
    (row,) = run_ingest_job(
        spark, tick, table, "tick", blocked=block, **_KW
    ).collect()
    assert row["sourceFiles"] == want

    cur = open(os.path.join(table, "_current")).read()
    again = run_ingest_job(
        spark, tick, table, "again", blocked=block, **_KW
    )
    assert again.collect() == []
    assert open(os.path.join(table, "_current")).read() == cur


def test_summary_frame_equals_create_dataframe(spark, tmp_path):
    """The JVM-local summary frame carries the same rows and the same
    schema, nullability included, as ``createDataFrame(rows, schema)``
    — for a one-row summary and for the empty (no candidates) one."""
    from gpt_rag_ingestion_spark.operators.ops_log import run_summary

    per_file = spark.createDataFrame(
        [("a", 3), ("b", None), ("c", 0)], "file_key string, chunks int"
    ).select(
        F.lit("r1").alias("run_id"),
        "file_key",
        F.lit("success").alias("status"),
        F.coalesce("chunks", F.lit(0)).alias("chunks"),
    )
    for src, n_rows in ((per_file, 1), (per_file.limit(0), 0)):
        summary = run_summary(src)
        rows, schema = summary.collect(), summary.schema
        assert len(rows) == n_rows
        got = _summary_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema=schema)
        assert got._jdf.schema().json() == want._jdf.schema().json()
        assert got.schema == schema
        assert got.collect() == want.collect() == rows


# -- the private PySpark hook ----------------------------------------------


def test_dataframe_debugging_hook_still_exists(spark, monkeypatch):
    """``session._disable_dataframe_debugging`` turns off call-site
    capture for foreign sessions through a private PySpark module
    global: pin both the global and its effect, and that the switch
    raises, rather than doing nothing, once PySpark drops the global."""
    import pyspark.errors.utils as eu

    from gpt_rag_ingestion_spark.session import _disable_dataframe_debugging

    assert hasattr(eu, "_enable_debugging_cache"), (
        "pyspark.errors.utils._enable_debugging_cache is gone: "
        "_disable_dataframe_debugging no longer has any effect"
    )
    _disable_dataframe_debugging(spark)
    assert eu.is_debugging_enabled() is False

    monkeypatch.delattr(eu, "_enable_debugging_cache")
    with pytest.raises(RuntimeError, match="_enable_debugging_cache is gone"):
        _disable_dataframe_debugging(spark)
    assert not hasattr(eu, "_enable_debugging_cache")


# -- generated code is reused across ticks --------------------------------

_REUSE_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
work = sys.argv[2]
from pyspark.sql import functions as F
from gpt_rag_ingestion_spark.session import get_spark
from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job

spark = get_spark(master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
compiles = lambda: int(metric.METRIC_COMPILATION_TIME().getCount())

def listing(tick):
    rows = []
    for i in range(50 + tick):
        v = tick if i % 17 == tick % 17 or i >= 50 else 0
        body = " ".join(f"w{(i * 7 + j + v) % 211}" for j in range(150 + 5 * i))
        rows.append((f"docs/d{i}.txt", body, f"2024-01-{1 + v:02d} 00:00:00"))
    return spark.createDataFrame(
        rows, "doc_key string, text string, last_modified string"
    ).withColumn("last_modified", F.col("last_modified").cast("timestamp"))

kw = dict(text_index_path=f"{work}/index",
          stats_cols=["parent_id"], bloom_key="parent_id",
          max_tokens=64, overlap=8, min_tokens=16)
deltas = []
for tick in range(4):
    before = compiles()
    rows = run_ingest_job(spark, listing(tick), f"{work}/table",
                          f"tick{tick}", **kw).collect()
    deltas.append(compiles() - before)
    assert rows and rows[0]["sourceFiles"] > 0, rows
spark.stop()
print(json.dumps({"compiles": deltas}))
"""

#: Janino compiles allowed in the third refresh tick.  Before the
#: codegen cache was sized for the engine's working set, every tick of
#: this script compiled ~70-90 classes (the cache's 100 entries were
#: evicted by the base ingest and each tick); with it, the third tick
#: compiles ~10 (measured 9-11 on 4 cores)
MAX_STEADY_TICK_COMPILES = 30


def test_refresh_tick_reuses_generated_code(tmp_path):
    """A session from ``get_spark`` keeps the generated classes of
    earlier ticks: the third tick after a base ingest compiles only a
    handful of new ones.  Runs in a subprocess because the test
    fixture's session is not built by ``get_spark`` (the cache size is
    a static conf)."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _REUSE_SCRIPT, REPO, str(tmp_path)],
        capture_output=True, text=True, timeout=900, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    deltas = json.loads(out.stdout.strip().splitlines()[-1])["compiles"]
    assert deltas[-1] <= MAX_STEADY_TICK_COMPILES, deltas
